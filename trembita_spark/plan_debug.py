"""Test-only capture of pre-checkpoint lineage for plan audits.

The two-phase prefix machinery (``operators/ranking.py`` prefix_sum_multi,
``pipeline.py`` zip_with_index) ends its first phase in a LAZY
``localCheckpoint`` — required for correctness: the frame is consumed by
two branches, and without the barrier AQE can coalesce the range exchange
DIFFERENTLY per branch, misaligning the ``__pid`` spaces (caught at the 8x
replica, r12 extras2 sweep). The barrier truncates the visible SQL plan to
a ``Scan ExistingRDD``, so the plan audits in ``tests/test_plans.py`` that
pin the phase-1 shape (data rides a rangepartitioning exchange,
``__pid``-partitioned local windows, no single-partition data window) can
no longer see it from the consumer's ``explain``.

This hook lets the audits inspect exactly what production executes: when
enabled, the prefix machinery appends the pre-checkpoint DataFrame
(whose plan IS the plan the barrier materializes) to the capture list
just before checkpointing. Off by default — production keeps no
references.

State is THREAD-LOCAL (round 13): the plan-pin test builds 50 keys'
plans through a small thread pool (the graph keys execute their
eager-checkpoint traversals during build, so serial plan building was
the verify lane's single slowest test), and a shared list would
interleave captures across keys.
"""

from __future__ import annotations

import threading

_TLS = threading.local()


def enable() -> None:
    _TLS.enabled = True
    _TLS.captured = []


def disable() -> None:
    _TLS.enabled = False
    _TLS.captured = []


def captured() -> list:
    return getattr(_TLS, "captured", [])


def capture(df):
    """Record ``df`` for plan inspection when enabled; always returns it."""
    if getattr(_TLS, "enabled", False):
        _TLS.captured.append(df)
    return df
