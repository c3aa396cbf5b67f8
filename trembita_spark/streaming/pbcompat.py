"""google.protobuf availability shim for transformWithStateInPandas.

Spark 4's arbitrary-state API (``transformWithStateInPandas``) talks to
the JVM state server over protobuf: every spawned Python worker imports
``pyspark.sql.streaming.proto.StateMessage_pb2``, which needs the
``google.protobuf`` runtime. This container has no protobuf on
sys.path, but ships one inside the Google Cloud SDK
(``platform/google_appengine/google/protobuf``, pure-Python, v6.32).
Two deltas separate it from "just works":

1. It is not on any import path → expose it via a CLEAN shim directory
   (a ``google`` namespace dir containing ONLY a ``protobuf`` symlink —
   the appengine platform dir itself is full of top-level modules like
   ``api_server.py`` that must never shadow real imports).
2. pyspark's gencode is 6.33 vs. the bundled 6.32 runtime, which the
   runtime rejects (runtime must be >= gencode) — protobuf's own
   documented escape hatch ``TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK``
   lifts exactly this check (see runtime_version.py in any protobuf
   release). A one-minor-version skew within the same major is inside
   protobuf's cross-version guarantee for the message surface the state
   server uses.

Timing matters: Spark python workers inherit the JVM's environment,
which is frozen at JVM launch — so :func:`ensure_protobuf_env` must run
before the first ``getOrCreate()``. It is invoked at
``trembita_spark.session`` import time, which precedes session creation
in every entry point (tests, bench.py, __spark_entry__). For a session
whose JVM was launched by a foreign harness WITHOUT these vars, the
worker-side import fails and callers should fall back (see
``tws_available()``): ``q_stream_fsm_tws`` falls back to
applyInPandasWithState with identical semantics, and the other TWS keys
(``q_stream_tws_dedup``, ``q_stream_tws_topk``,
``q_stream_tws_chained``) to batch plans with the same result.

On a real cluster none of this exists: protobuf is a standard
dependency of pyspark[connect]/[sql] installs and this module becomes a
no-op at the first ``import google.protobuf`` probe.
"""

from __future__ import annotations

import os
import sys

_APPENGINE_PB = "/usr/lib/google-cloud-sdk/platform/google_appengine/google/protobuf"
_SHIM_ROOT = "/tmp/trembita_pbshim/pypath"


def _have_protobuf() -> bool:
    try:
        import google.protobuf.descriptor  # noqa: F401

        return True
    except Exception:
        return False


def _build_shim_dir() -> str | None:
    """Create /tmp/trembita_pbshim/pypath/google/{__init__.py,protobuf}
    (protobuf = symlink to the SDK-bundled runtime). Idempotent."""
    if not os.path.isdir(_APPENGINE_PB):
        return None
    gdir = os.path.join(_SHIM_ROOT, "google")
    os.makedirs(gdir, exist_ok=True)
    init = os.path.join(gdir, "__init__.py")
    if not os.path.exists(init):
        with open(init, "w") as f:
            f.write(
                "# namespace shim: expose ONLY google.protobuf from the "
                "cloud-sdk bundle\n"
                "__path__ = __import__('pkgutil').extend_path(__path__, __name__)\n"
            )
    link = os.path.join(gdir, "protobuf")
    if not os.path.exists(link):
        try:
            os.symlink(_APPENGINE_PB, link)
        except FileExistsError:
            pass
    return _SHIM_ROOT


def ensure_protobuf_env() -> bool:
    """Make google.protobuf importable here AND in Spark-spawned python
    workers (via PYTHONPATH, which the JVM snapshots at launch). Returns
    True if protobuf is importable in THIS process afterwards."""
    # The version-check escape hatch is needed even when a too-old real
    # protobuf is installed; setting it is harmless when versions align.
    os.environ.setdefault("TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true")
    if _have_protobuf():
        return True
    shim = _build_shim_dir()
    if shim is None:
        return False
    if shim not in sys.path:
        sys.path.insert(0, shim)
    pp = os.environ.get("PYTHONPATH", "")
    if shim not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = shim + (os.pathsep + pp if pp else "")
    return _have_protobuf()


def tws_available(spark=None) -> bool:
    """True when transformWithStateInPandas can actually execute: the
    protobuf runtime resolves in this process (worker processes see the
    same PYTHONPATH when the JVM was launched after ensure_protobuf_env —
    the trembita_spark.session import order guarantees that for sessions
    WE build). Callers with a foreign, pre-launched JVM can pass the
    session so the JVM-side env is probed instead of the driver's."""
    if not ensure_protobuf_env():
        return False
    if spark is not None:
        try:
            jvm_env = spark.sparkContext._jvm.java.lang.System.getenv()
            jpp = jvm_env.get("PYTHONPATH") or ""
            if _SHIM_ROOT not in jpp and not _jvm_side_protobuf(jpp):
                return False
        except Exception:
            pass  # probe is best-effort; optimistically allow
    return True


def _jvm_side_protobuf(jvm_pythonpath: str) -> bool:
    """Would a worker spawned with this PYTHONPATH resolve protobuf?"""
    for p in jvm_pythonpath.split(os.pathsep):
        if p and os.path.isdir(os.path.join(p, "google", "protobuf")):
            return True
    # site-packages protobuf (normal installs) — same probe as driver.
    try:
        import google.protobuf  # noqa: F401

        gp = sys.modules["google.protobuf"].__file__ or ""
        return _SHIM_ROOT not in gp
    except Exception:
        return False
