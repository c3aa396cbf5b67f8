"""Outside-in probes for the benchmark: Spark's own counters read per job
group, Catalyst phase times, a streaming-query listener, a resident-memory
sampler and an in-memory span recorder.

Nothing here changes what the engine computes. Every probe reads state
Spark already keeps (status store, query-execution tracker, streaming
progress) or the host's ``/proc``.
"""

from __future__ import annotations

import json
import os
import threading
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

STAGE_FIELDS = (
    ("tasks", "numTasks"),
    ("cpu_ms", "executorCpuTime"),  # nanoseconds in the store, scaled below
    ("run_ms", "executorRunTime"),
    ("shuffle_read_bytes", "shuffleReadBytes"),
    ("shuffle_write_bytes", "shuffleWriteBytes"),
    ("gc_ms", "jvmGcTime"),
    ("input_rows", "inputRecords"),
    ("failed_tasks", "numFailedTasks"),
)


def drain_listeners(spark) -> None:
    """Block until Spark's listener bus has delivered every posted event,
    so the status store and the streaming listener are up to date."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_counters(spark, groups) -> dict:
    """Job, stage and task counters summed over every job whose job group
    is in ``groups``. Skipped stages (reused shuffle output) are not
    counted: they run no tasks."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "spill_bytes": 0}
    out.update({name: 0 for name, _ in STAGE_FIELDS})
    for group in groups:
        for job_id in sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            it = store.job(job_id).stageIds().iterator()
            while it.hasNext():
                sd = store.lastStageAttempt(it.next())
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                for name, getter in STAGE_FIELDS:
                    out[name] += getattr(sd, getter)()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    out["cpu_ms"] = out["cpu_ms"] / 1e6
    return out


def phases(qe) -> dict:
    """Catalyst phase summaries of a ``QueryExecution``:
    ``{phase: (start_ms, end_ms)}`` in epoch milliseconds."""
    it = qe.tracker().phases().iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = (kv._2().startTimeMs(), kv._2().endTimeMs())
    return out


def python_node_metrics(plan) -> dict:
    """Rows and bytes reported by the Python-evaluation nodes of an
    executed plan (pandas UDFs, grouped maps). Zero where the plan has
    none or Spark reports no such metric."""
    rows = nbytes = 0
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metrics = node.metrics()
        if metrics.contains("pythonNumRowsReceived"):
            rows += metrics.apply("pythonNumRowsReceived").value()
        for name in ("pythonDataSent", "pythonDataReceived"):
            if metrics.contains(name):
                nbytes += metrics.apply(name).value()
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return {"python_rows": rows, "python_bytes": nbytes}


class QeCapture:
    """Spark ``QueryExecutionListener`` (through the py4j callback server)
    recording the Catalyst phases and Python-node metrics of each
    completed action, so the terminal action is measured whichever
    action it is (a collect or a file write)."""

    def __init__(self):
        self._lock = threading.Lock()
        self.events: list[dict] = []

    def onSuccess(self, func_name, qe, duration_ns):
        event = {"phases": phases(qe), **python_node_metrics(qe.executedPlan())}
        with self._lock:
            self.events.append(event)

    def onFailure(self, func_name, qe, exception):
        pass

    def mark(self) -> int:
        with self._lock:
            return len(self.events)

    def since(self, mark: int) -> list:
        with self._lock:
            return self.events[mark:]

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class StreamRecorder(StreamingQueryListener):
    """Collects streaming-query lifecycle and progress events. Callbacks
    run on Spark's listener thread; readers take a snapshot under the
    lock after :func:`drain_listeners`."""

    def __init__(self):
        self._lock = threading.Lock()
        self.names: dict[str, str] = {}
        self.run_ids: list[str] = []
        self.batches: list[dict] = []
        self.failures: list[str] = []

    def onQueryStarted(self, event):
        with self._lock:
            self.names[str(event.id)] = event.name or ""
            self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs
        ops = p.stateOperators
        batch = {
            "name": p.name or "",
            "start": _epoch(p.timestamp),
            "input_rows": p.numInputRows,
            "trigger_ms": d.get("triggerExecution", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "query_planning_ms": d.get("queryPlanning", 0),
            "wal_commit_ms": d.get("walCommit", 0),
            "state_commit_ms": sum(o.commitTimeMs for o in ops),
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_mem_bytes": sum(o.memoryUsedBytes for o in ops),
        }
        with self._lock:
            self.batches.append(batch)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        if event.exception:
            with self._lock:
                self.failures.append(self.names.get(str(event.id), str(event.id)))

    def mark(self) -> tuple:
        with self._lock:
            return (len(self.run_ids), len(self.batches), len(self.failures))

    def since(self, mark: tuple) -> dict:
        with self._lock:
            return {
                "run_ids": self.run_ids[mark[0]:],
                "batches": self.batches[mark[1]:],
                "failures": self.failures[mark[2]:],
            }


def process_tree() -> set:
    """This process and all its live descendants, from ``/proc``."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(entry)] = int(stat[stat.rfind(")") + 2:].split()[1])
    tree = {os.getpid()}
    grew = True
    while grew:
        kids = {p for p, pp in parent.items() if pp in tree and p not in tree}
        tree |= kids
        grew = bool(kids)
    return tree


class RssSampler:
    """Peak resident memory of this process plus every descendant (the
    driver JVM and the Python workers it forks), sampled from ``/proc``
    on a background thread while it is entered as a context manager.
    Each process counts its proportional set size, so pages that forked
    workers share with their parent are counted once, not per worker."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()

    def _tree_rss(self) -> int:
        total = 0
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())


class Tracer:
    """In-memory span recorder. A span is ``(id, name, start, end, parent,
    query)`` with epoch-second timestamps; ids double as Spark job groups.
    Spans are written out once, by :meth:`dump`, when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._next = 0

    def new_id(self, name: str) -> str:
        self._next += 1
        return f"{name}-{self._next}"

    def add(self, span_id, name, start, end, parent=None, query=None) -> str:
        self.spans.append(
            {
                "id": span_id,
                "name": name,
                "start": start,
                "end": end,
                "parent": parent,
                "query": query,
            }
        )
        return span_id

    def self_times(self) -> dict:
        """Seconds of self time per span name: each span's duration minus
        the part of it its children cover."""
        children: dict[str, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = sum(
                max(0.0, min(c["end"], s["end"]) - max(c["start"], s["start"]))
                for c in children.get(s["id"], ())
            )
            dur = s["end"] - s["start"]
            out[s["name"]] = out.get(s["name"], 0.0) + max(0.0, dur - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
