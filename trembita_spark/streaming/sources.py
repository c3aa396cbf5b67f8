"""Streaming sources.

Locally the unbounded source is the parquet-backed ``events`` table read
as a file stream (the driver fixture); on a cluster the same pipeline
reads ``format("kafka")`` / ``format("rate")`` — only this module
changes, the transformations are shared with batch.
"""

from __future__ import annotations

import contextlib
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Guards mutate/run/restore windows over session-global SQL confs
# (shuffle partitions in run_to_completion, the RocksDB state provider
# at the TWS call sites). Sessions are JVM singletons shared by every
# thread in the process; without the lock, concurrent set/restore pairs
# interleave and a transient override can become the session's
# permanent value. Reentrant so a caller can wrap run_to_completion
# together with its own conf window.
session_conf_lock = threading.RLock()

# (appId, sf_dir) → physical schema Spark infers for events.parquet.
# Streams require an explicit schema; probing the batch reader once per
# session+path keeps the stream source in lockstep with whatever physical
# ts type the fixture was written with (long-nanos vs timestamp[us] —
# both have shipped; see io._normalize_ts).
_RAW_SCHEMA_CACHE: dict = {}


def _events_raw_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    key = (spark.sparkContext.applicationId, sf_dir)
    schema = _RAW_SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
        _RAW_SCHEMA_CACHE[key] = schema
    return schema


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as an unbounded stream (file source). Normalizes
    ts to µs TimestampType exactly like the batch reader (same dtype
    dispatch) so stream and batch plans are interchangeable."""
    from trembita_spark.io import _normalize_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Pin UTC like contract.table(): the driver may hand us a session
    # built without our factory, and timestamp semantics must not depend
    # on the host timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = _events_raw_schema(spark, sf_dir)
    # The events fixture ships in two physical shapes: the driver's
    # SINGLE FILE sf_dir/events.parquet, and (for the scale replicas) a
    # Spark-written DIRECTORY of part files under the same name. A glob
    # pinned to "events.parquet" without recursion silently streams 0
    # rows from the directory shape (part files don't match the glob) —
    # dispatch on the actual shape instead.
    import os as _os

    ev_path = _os.path.join(sf_dir, "events.parquet")
    if _os.path.isdir(ev_path):
        raw = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "false")
            .load(ev_path)
        )
    else:
        # file shape: the file source requires a directory — stream the
        # sf dir with a glob pinned to the events file (one micro-batch
        # per discovered file).
        raw = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("pathGlobFilter", "events.parquet")
            .option("recursiveFileLookup", "false")
            .load(sf_dir)
        )
    return raw.withColumn("ts", _normalize_ts(schema["ts"].dataType))


@contextlib.contextmanager
def rocksdb_state_provider(spark: SparkSession):
    """Context manager: set the RocksDB state-store provider (required
    by transformWithStateInPandas) for the duration of the block, then
    restore the previous value — the whole window under
    :data:`session_conf_lock` so concurrent threads can't interleave
    set/restore pairs and leak the override into the session."""
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    with session_conf_lock:
        prev = spark.conf.get(prov_key, None)  # None: not set in session
        spark.conf.set(
            prov_key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        try:
            yield
        finally:
            if prev is None:
                spark.conf.unset(prov_key)
            else:
                spark.conf.set(prov_key, prev)


# How long wait_and_stop lets a bounded availableNow run take. A query
# still active then has a partial sink, so the wait raises.
STREAM_TIMEOUT_S = 300


def wait_and_stop(q, idle_stop: int | None = None) -> None:
    """Wait for an availableNow query to finish, then make sure it is
    stopped. Raises the query's own exception if it failed, and
    ``TimeoutError`` naming it if it is still running after
    :data:`STREAM_TIMEOUT_S`.

    ``idle_stop``: a query with REGISTERED processing-time timers never
    self-terminates under availableNow (pending timers keep it active),
    so the wait would burn the full timeout doing nothing. When set, the
    driver instead polls ``lastProgress`` and stops the query as soon as
    a ZERO-input batch with batchId >= ``idle_stop`` has committed — i.e.
    the availableNow flush batch ran after every staged data batch,
    which is exactly the state the full wait would have stopped in.
    Content-deterministic: nothing after the flush batch can emit (no
    new data arrives and the timers that could still fire are, by the
    caller's construction, content-irrelevant). Without ``idle_stop``
    the wait is one blocking ``awaitTermination`` — a poll would add its
    interval to every run."""
    import time as _time

    deadline = _time.monotonic() + STREAM_TIMEOUT_S
    try:
        if idle_stop is not None:
            while q.isActive and _time.monotonic() < deadline:
                lp = q.lastProgress
                if (
                    lp is not None
                    and lp["numInputRows"] == 0
                    and lp["batchId"] >= idle_stop
                ):
                    return
                _time.sleep(0.25)
        # A terminated query returns (or raises its error) at once.
        if not q.awaitTermination(max(deadline - _time.monotonic(), 1)):
            raise TimeoutError(
                f"streaming query {q.name or q.id} still active after "
                f"{STREAM_TIMEOUT_S} s"
            )
    finally:
        if q.isActive:
            q.stop()


def run_to_completion(
    df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    state_partitions: int | None = None,
    idle_stop: int | None = None,
):
    """Drive a streaming DataFrame over the (finite) local fixture to
    completion into a memory sink; returns the result as a batch
    DataFrame. This is the 'streaming proof' harness: same logical plan,
    real micro-batch execution. ``idle_stop`` is passed to
    :func:`wait_and_stop`.

    State partitions: every stateful operator pays a FIXED per-partition
    cost per micro-batch (state store load + commit + task scheduling)
    regardless of rows — measured ~2.4 s per batch at 32 partitions even
    for the 0-row availableNow flush batch. Stateful partition count is
    a capacity knob sized to STATE volume, not to CPU count (it is
    pinned at checkpoint creation in production, chosen per deployment);
    the harness derives a default of cores/4 (at least 8) from the
    session's parallelism. Partition count only changes hash placement
    of keys, never results — the oracle parity suite covers every
    streaming key.

    ``state_partitions`` lets a caller override the derived default:
    transformWithState queries are bound by per-key Python state-server
    round trips, which parallelize across the partitions' workers, so
    :func:`run_tws` asks for MORE partitions (cores/2 measured best:
    fsm_tws 8.7s@8 → 6.7s@16) while the classic stateful operators
    keep the low count their fixed per-partition store cost wants
    (full_outer join 5.7s@8 → 7.7s@16).

    The shuffle-partitions mutate/run/restore window is guarded by
    :data:`session_conf_lock` — sessions are JVM singletons, so two
    threads driving streaming keys concurrently (the parallel parity
    fixture, a sharded gauntlet that ever shared a process) would
    otherwise interleave set/restore and leak a transient value into
    the session permanently. Callers that mutate OTHER session confs
    around a run (e.g. the RocksDB provider for TWS keys) must hold
    the same lock — it is reentrant."""
    spark = df.sparkSession
    if state_partitions is None:
        state_partitions = max(8, spark.sparkContext.defaultParallelism // 4)
    with session_conf_lock:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        try:
            q = (
                df.writeStream.outputMode(output_mode)
                .format("memory")
                .queryName(query_name)
                .trigger(availableNow=True)
                .start()
            )
            wait_and_stop(q, idle_stop)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(query_name)


def run_tws(df: DataFrame, query_name: str, idle_stop: int | None = None):
    """:func:`run_to_completion` for a transformWithStateInPandas query:
    append mode, inside a :func:`rocksdb_state_provider` window (TWS
    needs RocksDB's multi-column-family state layout), with cores/2 (at
    least 8) state partitions — per-key work is Python state-server
    round trips, which scale with the number of concurrently running
    workers. ``run_to_completion`` is looked up when called, so a
    wrapper bound over the module's name sees TWS runs too."""
    spark = df.sparkSession
    with rocksdb_state_provider(spark):
        return run_to_completion(
            df,
            query_name,
            output_mode="append",
            state_partitions=max(8, spark.sparkContext.defaultParallelism // 2),
            idle_stop=idle_stop,
        )


def staged_dir(spark: SparkSession, stages: list, base_dir: str) -> T.StructType:
    """Write each batch DataFrame in ``stages`` as one parquet file under
    ``base_dir`` with strictly increasing mtimes, so a file-source stream
    with maxFilesPerTrigger=1 (oldest-first, Spark's default order)
    replays them as SEPARATE micro-batches. That separation is the whole
    point: the event-time watermark only advances BETWEEN micro-batches,
    so watermark-gated state transitions (outer-join null padding, late
    eviction) never fire if the fixture arrives as one batch. Returns the
    written schema (streams need it explicitly).

    All stages must share one schema. Files get explicit utimes (base+i)
    rather than trusting write-order timestamps — two sub-second writes
    can otherwise tie and collapse into one trigger."""
    import os as _os
    import time as _time

    schema = None
    t0 = _time.time()
    for i, sdf in enumerate(stages):
        d = f"{base_dir}/stage{i}"
        sdf.coalesce(1).write.mode("overwrite").parquet(d)
        if schema is None:
            schema = spark.read.parquet(d).schema
        for root, _dirs, files in _os.walk(d):
            for f in files:
                _os.utime(_os.path.join(root, f), (t0 + 10 * i, t0 + 10 * i))
    return schema


def staged_stream(
    spark: SparkSession, base_dir: str, schema: T.StructType
) -> DataFrame:
    """A one-file-per-trigger reader over a ``staged_dir`` layout. Each
    call creates an INDEPENDENT source (each side of a self-join must
    track its own file offsets)."""
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .load(base_dir)
    )
