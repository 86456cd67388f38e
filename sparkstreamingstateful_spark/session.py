"""SparkSession factory + defensive runtime configuration.

Two entry paths exist (SURVEY.md §3.4):

* our own tests / bench build the session via :func:`get_spark`;
* the correctness driver hands us *its* session — we must therefore be able
  to apply every config we rely on at **runtime** (verified settable on
  PySpark 4.1.2: ``spark.sql.legacy.parquet.nanosAsLong``,
  ``spark.sql.session.timeZone`` are SQL confs, not static).

Scale posture (100 TB): these settings are per-session, not per-cluster —
AQE handles runtime shuffle-partition coalescing and skew splitting, so the
same code runs unchanged from local[32] to a 1000-executor cluster; only
``spark.sql.shuffle.partitions`` (a ceiling under AQE) would be raised.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession

# Confs we rely on that are runtime-settable. Applied to any session that
# reaches the engine (ours or the driver's).
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet carries timestamp[ns]; Spark 4 rejects it outright
    # unless read as long nanos (we convert to micros in catalog.load_table,
    # matching DuckDB's own ns->us truncation exactly).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic wall-clock semantics for naive timestamps.
    "spark.sql.session.timeZone": "UTC",
    # Arrow transfer for pandas UDF / applyInPandas boundaries.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # RocksDB state store: required by transformWithStateInPandas and the
    # right backend for large streaming state; must reach driver-owned
    # sessions too, hence runtime.
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    # Changelog checkpointing (SURVEY §4.2's at-scale state-backend
    # posture): each micro-batch uploads only the delta (a .changelog
    # file) instead of a full RocksDB snapshot — at 100 TB state scale
    # the difference between O(changed keys) and O(state) per-batch
    # checkpoint cost. Snapshots still happen in the background for
    # bounded replay. Recovery under this mode is pinned by
    # tests/test_streaming.py::test_rocksdb_changelog_checkpointing.
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
        "true"
    ),
}

# Confs applied only to a session that has no value of its own: a
# deployment's setting (say, an object-store checkpoint manager that
# avoids renames) is left as it is.
DEFAULT_CONFS: dict[str, str] = {
    # Atomic checkpoint writes (offsets, commits, sources, state
    # changelogs) by FileSystem.rename — File.renameTo, a POSIX rename on
    # the local FS — instead of the default FileContext manager, whose
    # rename asks for the link status and, without libhadoop, forks
    # `readlink` 8 times per file (~1,500 forks per stream_stateful
    # pass, 0 with this manager). Spark falls back to this manager
    # itself when FileContext is unavailable. Hadoop's .crc sidecars and
    # Spark's own state-file checksums are written as before (pinned by
    # tests/test_streaming.py::test_rocksdb_changelog_checkpointing).
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent, cheap):
    every ``RUNTIME_CONFS`` entry, and each ``DEFAULT_CONFS`` entry the
    session has no value for. A conf that fails to set raises: running
    on without nanosAsLong, UTC or the RocksDB state store would
    silently change results."""
    for k, v in RUNTIME_CONFS.items():
        spark.conf.set(k, v)
    for k, v in DEFAULT_CONFS.items():
        if spark.conf.get(k, None) is None:
            spark.conf.set(k, v)
    return spark


@contextlib.contextmanager
def conf_guard(spark: SparkSession, confs: dict[str, str]):
    """Hold session confs for the body, then put each key back as it was:
    its prior value, or unset if it had none (so a default stays a
    default). A leaked conf would silently change every later query in
    the session — an overwrite mode, a partition count pinned into the
    next stream's checkpoint."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def get_spark(
    app_name: str = "sss-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a session with the engine's standard config.

    Defaults: ``local[$SPARK_GRAFT_CPUS]`` (fallback ``local[*]``), AQE on,
    32 shuffle partitions (a *ceiling* — AQE coalesces down at small SF and
    splits skewed partitions at large SF).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = 32

    # Make google.protobuf importable (vendored shim if no real install)
    # BEFORE the JVM launches, so Python worker processes inherit the
    # PYTHONPATH and the transformWithStateInPandas client can import its
    # generated protocol module (compat.ensure_protobuf docstring).
    from .compat import ensure_protobuf

    ensure_protobuf()

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())
