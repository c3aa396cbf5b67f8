"""Self-test of the benchmark's output contract, on the tiny sf0.001
fixture in one-pass mode (``--seconds 0``). Each test starts its own JVM,
about half a minute apiece.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

BENCH_DIR = Path(__file__).resolve().parents[1]
ROOT = BENCH_DIR.parent
# one warehouse-style collect and one streaming replay: every layer runs
KEYS = "q_sql_q5,q_stream_tumbling"
LAYER_SPANS = {
    "session.start", "contract.load", "warmup",  # session
    "build", "plan", "exec", "sink",
    "stream.run", "stream.batch",  # streaming
}


def run_bench(*extra):
    proc = subprocess.run(
        [sys.executable, str(BENCH_DIR / "run.py"), "--workload", "stream",
         "--keys", KEYS, "--sf", "sf0.001", "--seed", "7", "--seconds", "0", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.fixture(scope="module")
def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_every_end_to_end_metric_is_printed_with_its_unit(spec):
    details, result = run_bench("--trace", "0")
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, details["failures"]
    assert set(result["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    for m in spec["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert got["value"] > 0, m["name"]
    # the ungated end-to-end figures ride in the details line
    more = details["more_metrics"]
    for name in ("failed_frac", "query_p50_s", "query_tail_s", "peak_rss_mb",
                 "events_per_s", "batch_p50_s", "batch_tail_s"):
        assert more[name]["unit"], name
    assert more["failed_frac"]["value"] == 0
    assert more["peak_rss_mb"]["value"] > 0 and more["events_per_s"]["value"] > 0


def test_trace_spans_every_layer_and_gate_catches_a_wrong_checksum(spec):
    details, result = run_bench("--trace", "1", "--corrupt-oracle", "q_sql_q5")
    assert set(result["metrics"]) == {m["name"] for m in spec["per_layer"]}
    for m in spec["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
    spans = json.loads((ROOT / details["trace_file"]).read_text())
    assert LAYER_SPANS <= {s["name"] for s in spans}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        assert s["parent"] is None or s["parent"] in by_id
        assert s["end"] >= s["start"]
    assert set(details["layer_shares"]) == {"build", "plan", "exec", "sink", "stream"}
    assert "trace_overhead_frac" in details
    # the injected wrong expectation is caught, counted and reported
    assert details["more_metrics"]["failed_frac"]["value"] > 0
    assert not result["correct"] and result["failed"] > 0
    assert any(f["key"] == "q_sql_q5" for f in details["failures"])
