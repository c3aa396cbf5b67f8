"""Closed-loop benchmark of trembita_spark contract keys, checked against
their DuckDB oracles.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 10 --trace 0

One process, one client, one query in flight, at ``local[nproc]`` on the
parquet fixture under ``perfbench/data/``. A run starts the session, loads
the registry and runs one discarded warm-up pass (together ``setup_s``),
checks every key's full result checksum against its oracle, then times
``ceil(--seconds / pass_s)`` whole passes over the workload's keys, each in
an order drawn from ``--seed`` (``pass_s`` is the workload's nominal pass
time). Every timed result's row count is checked against the oracle.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
plain and traced passes and prints the per-layer metrics, the layers'
shares of query time and the tracing overhead; its spans are written to
``.bench_out/``. The last stdout line is the result object; the line
before it carries run details (environment, per-key medians, the ungated
end-to-end figures with their units).
See README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
DATA_DIR = BENCH_DIR / "data"
EPOCH0 = time.time() - time.perf_counter()

sys.path.insert(0, str(BENCH_DIR))

from workloads import WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "queries_per_min": "1/min",
    "query_geomean_s": "s",
}


def epoch(t_perf: float) -> float:
    return EPOCH0 + t_perf


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="timed window, as a fixed count of whole passes "
                        "(the workload's nominal pass time divides it)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", default="sf0.01",
                   help="fixture directory under perfbench/data")
    p.add_argument("--keys", default=None,
                   help="comma-separated keys replacing the workload's list")
    p.add_argument("--corrupt-oracle", default=None, metavar="KEY",
                   help="perturb KEY's expected checksum (self-test of the gate)")
    return p.parse_args(argv)


def prepare_env(run_dir: Path) -> dict:
    """Size the session to this host and keep every file the run writes
    inside ``run_dir``. Must run before the JVM starts: the JVM and its
    Python workers inherit this environment."""
    ncpus = len(os.sched_getaffinity(0))
    tmp = run_dir / "tmp"
    for d in (tmp, run_dir / "local", run_dir / "warehouse"):
        d.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(ncpus),
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
        "SPARK_GRAFT_WAREHOUSE": str(run_dir / "warehouse"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "2g"),
        "TMPDIR": str(tmp),
        "TZ": "UTC",
        # Python workers import trembita_spark by path; without this a
        # run from outside the repo root breaks the TWS worker import.
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    }
    os.environ.update(env)
    time.tzset()
    tempfile.tempdir = str(tmp)
    return {**env, "ncpus": ncpus}


def oracle_folds(data_dir: Path, keys, contract, checksum) -> dict:
    """``{key: (n_rows, checksum_sum, checksum_xor)}`` from DuckDB over
    views of the fixture parquet."""
    import duckdb

    from trembita_spark.io import TABLES

    con = duckdb.connect()
    try:
        for name in TABLES:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM '{data_dir}/{name}.parquet'"
            )
        return {k: tuple(checksum.duckdb_checksum(con, contract.ORACLES[k])) for k in keys}
    finally:
        con.close()


def git_commit() -> str | None:
    head = ROOT / ".git" / "HEAD"
    if not head.is_file():
        return None
    ref = head.read_text().strip()
    if not ref.startswith("ref: "):
        return ref
    ref_file = ROOT / ".git" / ref[5:]
    if ref_file.is_file():
        return ref_file.read_text().strip()
    packed = ROOT / ".git" / "packed-refs"
    if packed.is_file():
        for line in packed.read_text().splitlines():
            if line.endswith(" " + ref[5:]):
                return line.split()[0]
    return None


def tail(values):
    """``(value, percentile, n)`` at the highest percentile that keeps at
    least ten samples beyond it; ``(None, None, n)`` with ten or fewer."""
    n = len(values)
    if n <= 10:
        return None, None, n
    ordered = sorted(values)
    return ordered[n - 11], round(100 * (n - 10) / n, 1), n


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


class Bench:
    """One run's closed loop: a single client with one query in flight,
    plus the outside-in hooks the traced passes read."""

    def __init__(self, seed, spark, contract, checksum, probes, workload, keys,
                 data_dir, run_dir, expected):
        self.spark = spark
        self.contract = contract
        self.checksum = checksum
        self.probes = probes
        self.workload = workload
        self.keys = keys
        self.sf_dir = str(data_dir)
        self.run_dir = run_dir
        self.expected = expected
        self.rng = random.Random(seed)
        self.tracer = probes.Tracer()
        self.streams = probes.StreamRecorder()
        spark.streams.addListener(self.streams)
        self.rtc_calls: list[dict] = []
        self._wrap_run_to_completion()
        self.qe = None
        self._out_seq = 0

    # -- layer hooks ---------------------------------------------------

    def _wrap_run_to_completion(self):
        """Time every call into ``streaming.sources.run_to_completion``
        from outside, wherever a contract module bound the name."""
        from trembita_spark.streaming import sources

        orig = sources.run_to_completion
        calls = self.rtc_calls

        def timed(df, query_name, *a, **kw):
            start = time.perf_counter()
            error = None
            try:
                return orig(df, query_name, *a, **kw)
            except BaseException as e:
                error = type(e).__name__
                raise
            finally:
                calls.append({"name": query_name, "start": start,
                              "end": time.perf_counter(), "error": error})

        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("trembita_spark")
                    and getattr(mod, "run_to_completion", None) is orig):
                mod.run_to_completion = timed

    def enable_qe_capture(self):
        from pyspark.java_gateway import ensure_callback_server_started

        gw = self.spark.sparkContext._gateway
        ensure_callback_server_started(gw)
        self.qe = self.probes.QeCapture()
        self.spark._jsparkSession.listenerManager().register(self.qe)

    # -- one closed-loop operation ---------------------------------------

    def _deliver(self, df):
        """Terminal action. Returns ``(rows, path)``: the delivered rows
        for a collect; ``None`` and the written directory for a file sink."""
        if self.workload.sink == "collect":
            return df.collect(), None
        self._out_seq += 1
        path = self.run_dir / "out" / f"{self._out_seq}"
        df.write.parquet(str(path))
        return None, path

    def op(self, key: str, traced: bool) -> dict:
        sc = self.spark.sparkContext
        fn = self.contract.QUERIES[key]
        rec = {"key": key, "ok": False, "fallbacks": 0}
        stream_mark = self.streams.mark()
        rtc_mark = len(self.rtc_calls)
        if traced:
            qid = self.tracer.new_id("query")
            bid = self.tracer.new_id("build")
            eid = self.tracer.new_id("exec")
            sc.setJobGroup(bid, key)
        try:
            t0 = time.perf_counter()
            df = fn(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            if traced:
                self.probes.drain_listeners(self.spark)
                qe_mark = self.qe.mark()
                sc.setJobGroup(eid, key)
            t2 = time.perf_counter()
            rows, path = self._deliver(df)
            t3 = time.perf_counter()
            if traced:
                sc.setJobGroup("perfbench-idle", "")
        except Exception as e:  # a failed key is counted, never fatal
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            sc.setJobGroup("perfbench-idle", "")
            return rec
        rec["build_s"] = t1 - t0
        rec["action_s"] = t3 - t2
        rec["latency_s"] = rec["build_s"] + rec["action_s"]
        # ``result`` is what the checksum gate folds: the query's own plan for
        # a collect, the written files read back for a file sink.
        if path is None:
            rec["rows"] = len(rows)
            rec["result"] = lambda: df
        else:
            rec["rows"] = self.spark.read.parquet(str(path)).count()
            rec["bytes_written"] = dir_bytes(path)
            rec["result"] = lambda: self.spark.read.parquet(str(path))
        self.probes.drain_listeners(self.spark)
        events = self.streams.since(stream_mark)
        calls = self.rtc_calls[rtc_mark:]
        rec["fallbacks"] = len(events["failures"]) + sum(
            1 for c in calls if c["error"] or c["name"].endswith("_fb")
        )
        rec["stream_batches"] = events["batches"]
        rec["rtc_s"] = sum(c["end"] - c["start"] for c in calls)
        rec["ok"] = rec["rows"] == self.expected[key][0] and rec["fallbacks"] == 0
        if traced:
            self._trace_op(rec, df, key, (qid, bid, eid), (t0, t1, t2, t3),
                           events, calls, qe_mark)
        return rec

    def _trace_op(self, rec, df, key, ids, times, events, calls, qe_mark):
        qid, bid, eid = ids
        t0, t1, t2, t3 = times
        sc = self.spark.sparkContext
        qe_events = self.qe.since(qe_mark)
        # the noop twin prices the same plan without the sink / transfer
        sc.setJobGroup(self.tracer.new_id("noop"), key)
        n0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        noop_s = time.perf_counter() - n0
        sc.setJobGroup("perfbench-idle", "")
        self.probes.drain_listeners(self.spark)
        rec["sink_s"] = max(0.0, rec["action_s"] - noop_s)
        rec["build"] = self.probes.group_counters(
            self.spark, [bid] + events["run_ids"])
        rec["exec"] = self.probes.group_counters(self.spark, [eid])
        phases = {}
        python = {"python_rows": 0, "python_bytes": 0}
        for e in qe_events:
            for name, (start, end) in e["phases"].items():
                phases[name] = phases.get(name, 0) + (end - start)
            python["python_rows"] += e["python_rows"]
            python["python_bytes"] += e["python_bytes"]
        rec["phases_ms"] = phases
        rec["python"] = python
        # Catalyst work inside the action: optimization + planning of the
        # terminal plan (analysis ran when the DataFrame was built).
        plan_s = min(rec["action_s"],
                     (phases.get("optimization", 0) + phases.get("planning", 0)) / 1e3)
        sink_s = min(rec["sink_s"], rec["action_s"] - plan_s)
        tr = self.tracer
        # The root covers build through delivery; the drain between the
        # two is the tracer's own cost and stays as the root's self time.
        tr.add(qid, "query", epoch(t0), epoch(t3), None, qid)
        tr.add(bid, "build", epoch(t0), epoch(t1), qid, qid)
        for c in calls:
            rid = tr.add(tr.new_id("stream.run"), "stream.run",
                         epoch(c["start"]), epoch(c["end"]), bid, qid)
            for b in events["batches"]:
                if b["name"] == c["name"]:
                    tr.add(tr.new_id("stream.batch"), "stream.batch", b["start"],
                           b["start"] + b["trigger_ms"] / 1e3, rid, qid)
        tr.add(tr.new_id("plan"), "plan", epoch(t2), epoch(t2 + plan_s), qid, qid)
        tr.add(eid, "exec", epoch(t2 + plan_s), epoch(t3 - sink_s), qid, qid)
        tr.add(tr.new_id("sink"), "sink", epoch(t3 - sink_s), epoch(t3), qid, qid)

    # -- passes ----------------------------------------------------------

    def warmup(self) -> tuple:
        """The discarded first pass. Each key's full checksum is then
        checked against the oracle, outside any timing. Returns the pass's
        summed operation time, the per-key checks and the checks' time."""
        recs = [self.op(k, traced=False) for k in self.rng.sample(self.keys, len(self.keys))]
        spent = sum(r.get("latency_s", 0.0) for r in recs)
        c0 = time.perf_counter()
        checks = []
        for r in recs:
            key = r["key"]
            check = {"key": key, "ok": False}
            if "result" in r:
                try:
                    got = tuple(self.checksum.spark_checksum(r.pop("result")()))
                    check["ok"] = r["ok"] and got == self.expected[key]
                    if got != self.expected[key]:
                        check["error"] = f"checksum {got} != oracle {self.expected[key]}"
                except Exception as e:
                    check["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            else:
                check["error"] = r.get("error", "no result")
            if not r["ok"] and "error" not in check:
                check["error"] = f"rows {r.get('rows')} / fallbacks {r['fallbacks']}"
            checks.append(check)
        return spent, checks, time.perf_counter() - c0

    def timed(self, passes: int, trace: bool) -> tuple:
        """``passes`` whole passes over the keys. With ``trace``, each pass
        is a plain pass followed by a traced one."""
        plain, traced = [], []
        for n in range(passes * (2 if trace else 1)):
            is_traced = trace and n % 2 == 1
            for key in self.rng.sample(self.keys, len(self.keys)):
                rec = self.op(key, traced=is_traced)
                rec.pop("result", None)
                rec["pass"] = n
                (traced if is_traced else plain).append(rec)
        return plain, traced


def end_to_end(plain, setup_s, rss_bytes, verified, failed_frac) -> tuple:
    """The gated end-to-end metrics, and the other end-to-end figures (each
    with its unit) that the details line prints."""
    good = [r for r in plain if r["ok"] and verified.get(r["key"], False)]
    lat = [r["latency_s"] for r in good]
    per_key: dict[str, list] = {}
    for r in good:
        per_key.setdefault(r["key"], []).append(r["latency_s"])
    key_medians = [statistics.median(v) for v in per_key.values()]
    gated = {
        "setup_s": setup_s,
        "queries_per_min": 60.0 * len(good) / sum(r.get("latency_s", 0.0) for r in plain)
        if plain and lat else 0.0,
        # Each key weighs the same whatever the pass count; the times of
        # different keys differ by up to 10x, so this is a geometric mean.
        "query_geomean_s": statistics.geometric_mean(key_medians) if key_medians else 0.0,
    }
    t_val, t_pct, t_n = tail(lat)
    more = {
        "failed_frac": {"value": failed_frac, "unit": "ratio"},
        "query_p50_s": {"value": statistics.median(lat) if lat else None, "unit": "s"},
        "query_tail_s": {"value": t_val, "unit": "s", "percentile": t_pct, "samples": t_n},
        "peak_rss_mb": {"value": rss_bytes / 2**20, "unit": "MB"},
    }
    batches = [b for r in plain for b in r.get("stream_batches", [])]
    if batches:
        trig = [b["trigger_ms"] / 1e3 for b in batches]
        rtc = sum(r["rtc_s"] for r in plain)
        b_val, b_pct, b_n = tail(trig)
        more["events_per_s"] = {
            "value": sum(b["input_rows"] for b in batches) / rtc if rtc else None,
            "unit": "1/s"}
        more["batch_p50_s"] = {"value": statistics.median(trig), "unit": "s"}
        more["batch_tail_s"] = {"value": b_val, "unit": "s", "percentile": b_pct,
                                "samples": b_n}
    return gated, more


LAYER_UNITS = {
    "session.start_s": "s", "contract.load_s": "s", "warmup_s": "s",
    "build.s": "s", "build.jobs": "count", "build.stages": "count",
    "build.exec_cpu_ms": "ms",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.cpu_ms": "ms", "exec.run_ms": "ms", "exec.cpu_ratio": "ratio",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.gc_ms": "ms", "exec.input_rows": "count",
    "exec.failed_tasks": "count", "exec.python_rows": "count",
    "exec.python_bytes": "bytes",
    "sink.s": "s", "sink.rows": "count", "sink.bytes_written": "bytes",
    "stream.batches": "count", "stream.input_rows": "count",
    "stream.trigger_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.state_commit_ms": "ms", "stream.state_rows": "count",
    "stream.state_mem_bytes": "bytes", "stream.fallbacks": "count",
}


def per_layer(bench, setup, plain, traced, traced_passes) -> tuple:
    """Per-layer metrics, summed over the traced passes and divided by
    their number (so counts and times are per pass); plus each layer's
    self-time share of query time and the tracing overhead."""
    ok = [r for r in traced if "build" in r]
    per = max(1, traced_passes)

    def total(fn):
        return sum(fn(r) for r in ok) / per

    batches = [b for r in ok for b in r["stream_batches"]]
    m = {
        "session.start_s": setup["session_s"],
        "contract.load_s": setup["load_s"],
        "warmup_s": setup["warmup_s"],
        "build.s": total(lambda r: r["build_s"]),
        "build.jobs": total(lambda r: r["build"]["jobs"]),
        "build.stages": total(lambda r: r["build"]["stages"]),
        "build.exec_cpu_ms": total(lambda r: r["build"]["cpu_ms"]),
        "plan.analysis_ms": total(lambda r: r["phases_ms"].get("analysis", 0)),
        "plan.optimization_ms": total(lambda r: r["phases_ms"].get("optimization", 0)),
        "plan.planning_ms": total(lambda r: r["phases_ms"].get("planning", 0)),
    }
    for name in ("jobs", "stages", "tasks", "cpu_ms", "run_ms", "shuffle_read_bytes",
                 "shuffle_write_bytes", "spill_bytes", "gc_ms", "input_rows",
                 "failed_tasks"):
        m[f"exec.{name}"] = total(lambda r, n=name: r["exec"][n])
    m["exec.cpu_ratio"] = m["exec.cpu_ms"] / m["exec.run_ms"] if m["exec.run_ms"] else 0.0
    m["exec.python_rows"] = total(lambda r: r["python"]["python_rows"])
    m["exec.python_bytes"] = total(lambda r: r["python"]["python_bytes"])
    m["sink.s"] = total(lambda r: r["sink_s"])
    m["sink.rows"] = total(lambda r: r["rows"])
    m["sink.bytes_written"] = total(lambda r: r.get("bytes_written", 0))
    m["stream.batches"] = len(batches) / per
    for name in ("input_rows", "trigger_ms", "add_batch_ms", "query_planning_ms",
                 "wal_commit_ms", "state_commit_ms"):
        m[f"stream.{name}"] = sum(b[name] for b in batches) / per
    # state held at the end of each query (last batch), and peak memory
    last: dict[str, dict] = {}
    for b in batches:
        last[b["name"]] = b
    m["stream.state_rows"] = sum(b["state_rows"] for b in last.values()) / per
    m["stream.state_mem_bytes"] = max((b["state_mem_bytes"] for b in batches), default=0)
    m["stream.fallbacks"] = sum(r["fallbacks"] for r in traced) / per
    self_t = bench.tracer.self_times()
    q_total = sum(s["end"] - s["start"] for s in bench.tracer.spans if s["name"] == "query")
    shares = {
        layer: sum(self_t.get(n, 0.0) for n in names) / q_total if q_total else 0.0
        for layer, names in (("build", ("build",)), ("plan", ("plan",)),
                             ("exec", ("exec",)), ("sink", ("sink",)),
                             ("stream", ("stream.run", "stream.batch")))
    }
    plain_s = sum(r.get("latency_s", 0.0) for r in plain)
    traced_s = sum(r.get("latency_s", 0.0) for r in traced)
    overhead = traced_s / plain_s - 1.0 if plain_s else None
    return m, shares, overhead


def stop_spark(spark, probes) -> None:
    """Stop the session, then wait for the JVM and every process it
    started (the Python worker daemon and its workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    children = probes.process_tree() - {os.getpid()}
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(
        os.path.exists(f"/proc/{pid}") for pid in children
    ):
        time.sleep(0.1)


def main(argv=None) -> int:
    args = parse_args(argv)
    workload = WORKLOADS[args.workload]
    keys = tuple(args.keys.split(",")) if args.keys else workload.keys
    data_dir = DATA_DIR / args.sf
    missing = [p for p in (ROOT / "trembita_spark", data_dir) if not p.is_dir()]
    if missing:
        print(f"perfbench: missing {', '.join(map(str, missing))}; run from a "
              f"checkout of the repository", file=sys.stderr)
        return 2
    run_dir = ROOT / ".bench_tmp" / f"{args.workload}-{os.getpid()}"
    out_dir = ROOT / ".bench_out"
    out_dir.mkdir(exist_ok=True)
    env = prepare_env(run_dir)
    load_before = os.getloadavg()
    sys.path.insert(0, str(ROOT))
    try:
        return run(args, workload, keys, data_dir, run_dir, out_dir, env, load_before)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, workload, keys, data_dir, run_dir, out_dir, env, load_before) -> int:
    t0 = time.perf_counter()
    from trembita_spark import session

    spark = session.get_session(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        },
    )
    t1 = time.perf_counter()
    from trembita_spark import checksum, contract

    contract.load_all()
    t2 = time.perf_counter()
    import probes

    try:
        unknown = [k for k in keys if k not in contract.ORACLES]
        if unknown:
            print(f"perfbench: no oracle for {unknown}", file=sys.stderr)
            return 2
        if args.corrupt_oracle and args.corrupt_oracle not in keys:
            print(f"perfbench: {args.corrupt_oracle} is not in this run", file=sys.stderr)
            return 2
        # Oracle folds: outside setup_s and outside the timed window.
        o0 = time.perf_counter()
        expected = oracle_folds(data_dir, keys, contract, checksum)
        oracle_s = time.perf_counter() - o0
        if args.corrupt_oracle:
            n, s, x = expected[args.corrupt_oracle]
            expected[args.corrupt_oracle] = (n, s + 1, x)
        bench = Bench(args.seed, spark, contract, checksum, probes, workload, keys,
                      data_dir, run_dir, expected)
        if args.trace:
            bench.enable_qe_capture()
        warm_s, checks, check_s = bench.warmup()
        setup = {"session_s": t1 - t0, "load_s": t2 - t1, "warmup_s": warm_s}
        setup_s = sum(setup.values())
        tr = bench.tracer
        sid = tr.add(tr.new_id("setup"), "setup", epoch(t0), epoch(t2) + warm_s, None)
        tr.add(tr.new_id("session.start"), "session.start", epoch(t0), epoch(t1), sid)
        tr.add(tr.new_id("contract.load"), "contract.load", epoch(t1), epoch(t2), sid)
        tr.add(tr.new_id("warmup"), "warmup", epoch(t2), epoch(t2) + warm_s, sid)
        verified = {c["key"]: c["ok"] for c in checks}
        passes = max(1, math.ceil(args.seconds / workload.pass_s))
        with probes.RssSampler() as rss:
            plain, traced = bench.timed(passes, bool(args.trace))
    finally:
        stop_spark(spark, probes)

    ops = plain + traced
    failed = sum(1 for r in ops if not (r["ok"] and verified.get(r["key"], False)))
    failed += sum(1 for c in checks if not c["ok"])
    attempted = len(ops) + len(checks)
    e2e, more = end_to_end(plain, setup_s, rss.peak_bytes, verified, failed / attempted)
    pass_s: dict[int, float] = {}
    for r in plain:
        pass_s[r["pass"]] = pass_s.get(r["pass"], 0.0) + r.get("latency_s", 0.0)
    extra = {"pass_s": [pass_s[p] for p in sorted(pass_s)]}
    if args.trace:
        metrics, shares, overhead = per_layer(bench, setup, plain, traced, passes)
        units = LAYER_UNITS
        extra["layer_shares"] = shares
        extra["trace_overhead_frac"] = overhead
        trace_path = out_dir / f"trace-{args.workload}-seed{args.seed}.json"
        tr.dump(str(trace_path))
        extra["trace_file"] = str(trace_path.relative_to(ROOT))
    else:
        metrics, units = e2e, END_TO_END
    import duckdb
    import pyspark

    per_key: dict[str, list] = {}
    for r in plain:
        if "latency_s" in r:
            per_key.setdefault(r["key"], []).append(r["latency_s"])
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "sf": args.sf,
        "passes": passes,
        "oracle_s": oracle_s,
        "check_s": check_s,
        **extra,
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
        "more_metrics": more,
        "per_key_median_s": {k: statistics.median(v) for k, v in sorted(per_key.items())},
        "failures": [c for c in checks if not c["ok"]]
        + [{"key": r["key"], "error": r.get("error"), "rows": r.get("rows"),
            "fallbacks": r["fallbacks"]} for r in ops if not r["ok"]],
        "env": {
            "ncpus": env["ncpus"],
            "loadavg_before": load_before,
            "loadavg_after": os.getloadavg(),
            "git_commit": git_commit(),
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "duckdb": duckdb.__version__,
            "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
        },
    }
    with open(out_dir / f"run-{args.workload}-seed{args.seed}-trace{args.trace}.json", "w") as f:
        json.dump(details, f, indent=1, default=str)
    print(json.dumps(details, default=str))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
