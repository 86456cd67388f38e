"""Environment compatibility hooks.

``ensure_protobuf`` makes the Spark-4 ``transformWithStateInPandas``
path executable in containers that ship no protobuf runtime: the Python
worker's state-server client imports the generated
``pyspark/sql/streaming/proto/StateMessage_pb2.py``, which needs a
``google.protobuf`` runtime. When the real package is importable it is
always preferred (the vendored tree never shadows it); otherwise the
repo's ``vendor/`` directory — holding a minimal clean-room runtime
implementing exactly the surface that generated module uses (see
``vendor/google/protobuf/__init__.py``) — is appended to ``sys.path``
and to ``PYTHONPATH`` so Spark's Python WORKER processes (children of
the JVM, which inherit the driver's environment in local mode and read
``spark.executorEnv.PYTHONPATH`` on a cluster) resolve it too.

Call order matters: the PYTHONPATH export must happen BEFORE the JVM
starts, so ``session.get_spark`` calls this at session build.
"""

from __future__ import annotations

import os
import sys

VENDOR_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "vendor")

_state: str | None = None


def ensure_protobuf() -> str:
    """Make ``google.protobuf`` importable; return which runtime won.

    Returns ``"native"`` (real protobuf present) or ``"vendored"`` (the
    minimal runtime from ``vendor/`` was installed on sys.path). Raises
    ``ImportError`` when neither resolves: the TWS keys have no other
    stateful API to run on, so a missing runtime must fail, not switch
    semantics."""
    global _state
    if _state is not None:
        return _state
    try:
        from google.protobuf import descriptor  # noqa: F401

        _state = "native"
        return _state
    except ImportError:
        pass
    missing = ImportError(
        "no google.protobuf runtime: neither a native install nor the "
        "vendored vendor/google/protobuf (looked in "
        f"{os.path.join(VENDOR_DIR, 'google', 'protobuf')}) resolves, and "
        "transformWithStateInPandas needs one for its state-server protocol"
    )
    if not os.path.isdir(os.path.join(VENDOR_DIR, "google", "protobuf")):
        raise missing
    if VENDOR_DIR not in sys.path:
        sys.path.append(VENDOR_DIR)  # append: a real install always wins
    existing = os.environ.get("PYTHONPATH", "")
    if VENDOR_DIR not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{existing}{os.pathsep}{VENDOR_DIR}" if existing else VENDOR_DIR
        )
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as exc:
        raise missing from exc
    _state = "vendored"
    return _state


def ensure_protobuf_session(spark) -> str:
    """``ensure_protobuf`` plus worker propagation for a session whose JVM
    is ALREADY RUNNING (the correctness driver hands us its session, so
    the pre-launch ``PYTHONPATH`` export never happened there).

    PySpark captures worker environment variables from
    ``SparkContext.environment`` at UDF-creation time — a live dict we can
    still mutate; ``PythonWorkerFactory`` merges its ``PYTHONPATH`` entry
    into the worker's path after Spark's own. Queries built after this
    call therefore resolve the vendored runtime in their workers."""
    state = ensure_protobuf()
    if state == "vendored":
        env = spark.sparkContext.environment
        existing = env.get("PYTHONPATH", "")
        if VENDOR_DIR not in existing.split(os.pathsep):
            env["PYTHONPATH"] = (
                f"{existing}{os.pathsep}{VENDOR_DIR}" if existing else VENDOR_DIR
            )
    return state
