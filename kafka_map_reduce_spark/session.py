"""SparkSession factory and runtime configuration.

The engine is designed for a multi-executor cluster at ~100 TB scale; these
configs encode the scale-sensitive defaults (AQE on, skew-join handling,
Arrow for the few Python-side operators). Tests run on local[N].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Configs that are safe (and necessary) to set on an existing session at
# runtime. The driver harness owns its own SparkSession, so everything the
# engine depends on must be runtime-settable.
RUNTIME_CONFS: dict[str, str] = {
    # testdata events.parquet stores TIMESTAMP(NANOS) which the vectorized
    # parquet reader rejects; read as long and convert (sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic wall-clock semantics for TIMESTAMP <-> NTZ conversions.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime re-planning (coalesce post-shuffle partitions, skew join
    # splitting, dynamic broadcast) — essential at 100 TB where static
    # estimates are wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE coalescing is parallelism-first, so its floor is
    # minPartitionSize (default 1 MB), not the advisory size. The dedup
    # families' candidate/verify stages are compute-dense per shuffled
    # byte (a ~2 MB pair shuffle fans out to c^2 BLAS work), and the
    # 1 MB floor was measured collapsing them to 1-2 serial tasks at
    # bench scale (q_dedup_embedding_lsh: two 1-task ~1 s stages, r17
    # profile). 64 KB keeps small compute-dense shuffles parallel; at
    # production scale every partition clears either floor, so this
    # only governs the small-shuffle regime. Env-overridable like the
    # partition count above.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": os.environ.get(
        "SPARK_GRAFT_MIN_PARTITION", "64k"
    ),
    # Arrow transfer for pandas UDFs / applyInPandas (Tier C operators).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Shuffle parallelism is runtime-settable and MUST be: an external
    # harness session defaults to 200, which at small SF means up to 200
    # near-empty post-shuffle partitions — and 200 concurrent parquet
    # writers inside foreachBatch sinks, enough to exhaust a default-1g
    # driver heap (each open writer buffers a row group). On a real
    # cluster this is sized to data volume; AQE coalesces the excess.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
}

# Session-creation-time configs (only applied when *we* build the session).
BUILD_CONFS: dict[str, str] = {
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}

# Added to BUILD_CONFS for local* masters only, where the package's parent
# directory is on the workers' filesystem: Python workers fork from the
# engine's daemon (worker_daemon.py), which removes a 0.20-0.42 s per-task
# zip re-read. A cluster master keeps the stock daemon, because a daemon
# module the workers cannot import fails every Python task.
LOCAL_BUILD_CONFS: dict[str, str] = {
    "spark.python.daemon.module": "kafka_map_reduce_spark.worker_daemon",
    "spark.executorEnv.PYTHONPATH": os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    ),
}


def _remove_quietly(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass


def _package_zip() -> str:
    """Zip this package so executors can import it (the local analogue of
    shipping the egg to a cluster via --py-files).

    Each call writes a new file, removed at interpreter exit: a shared
    name would let one process rewrite the zip while another process's
    workers are still fetching it."""
    import atexit
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    fd, out = tempfile.mkstemp(prefix="kafka_map_reduce_spark_pyfiles-", suffix=".zip")
    atexit.register(_remove_quietly, out)
    with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        "kafka_map_reduce_spark", os.path.relpath(full, pkg_dir)
                    )
                    z.write(full, rel)
    return out


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session (idempotent).

    Also ships the package source to executor Python workers: pandas-UDF
    closures reference this module, and the driver's sys.path does not
    propagate to workers.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this build — keep going, reads may still work
    try:
        sc = spark.sparkContext
        if not getattr(sc, "_kmr_pyfiles_added", False):
            sc.addPyFile(_package_zip())
            sc._kmr_pyfiles_added = True
    except Exception:
        pass  # e.g. Spark Connect session without an accessible SparkContext
    return spark


def get_session(
    app_name: str = "kafka-map-reduce-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults."""
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = os.environ.get(
            "SPARK_GRAFT_MASTER",
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]",
        )
    builder = builder.master(master)
    confs = dict(BUILD_CONFS)
    if master.startswith("local"):
        confs.update(LOCAL_BUILD_CONFS)
    confs.update(RUNTIME_CONFS)
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())
