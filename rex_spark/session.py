"""SparkSession factory with scale-oriented defaults.

All entry points (tests, bench, __spark_entry__) go through
``get_session`` so every run gets the same Arrow/AQE/broadcast
configuration.  On a real cluster the same settings apply verbatim via
``spark-submit --conf``; nothing here is local-mode specific except the
default master.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DAEMON_MODULE = "spark.python.daemon.module"

# Defaults chosen for the 100 TB design point, not just local testing:
# - AQE on: runtime coalescing of small shuffle partitions and skew-join
#   splitting (head-entity bags are Zipfian; see operators/canonical.py).
# - Arrow on with a bounded batch size: every model-scoring UDF receives
#   pandas batches; 4096 rows keeps per-batch memory bounded even with
#   long documents.
# - Broadcast threshold 64 MiB: vocab / rel2id / gazetteer side tables
#   are always broadcast, never shuffled.
# - shuffle.partitions is a *floor* for local runs; AQE coalesces down,
#   and on a cluster you would raise it to ~2-3x total cores.
_DEFAULTS = {
    # local mode: driver == executor, and Spark's 1g default heap makes
    # every cache/broadcast GC-bound (and 32 threads in a 1 GiB heap
    # anti-scales).  On a cluster this maps to ordinary
    # executor/driver memory sizing via spark-submit.  Overridable via
    # SPARK_GRAFT_DRIVER_MEM for hosts with less RAM (the 24g default
    # assumes the 128 GiB bench sandbox).
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
    # throughput-oriented GC: G1's pause-time goal costs repeated
    # full-heap churn on Arrow-batch-heavy UDF stages (observed 2x+
    # CPU inflation on identical reruns); the batch pipeline has no
    # latency SLO, so the throughput collector is the right trade.
    "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
    "spark.executor.extraJavaOptions": "-XX:+UseParallelGC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(256 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # INT96 (Spark's default) timestamps carry no parquet min/max
    # statistics, and the StageStore reads its lineage watermark
    # (warc_ts) from those statistics; microseconds are also Iceberg's
    # timestamp unit.  Spark has no per-write option for this.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.ui.enabled": "false",
    "spark.driver.host": "127.0.0.1",
    # PySpark's daemon plus a stat guard on zip-archive cache
    # invalidation (rex_spark/_pyworker.py): each Python task's
    # importlib.invalidate_caches() otherwise re-reads the directories
    # of pyspark.zip, py4j and the spark-core jar, 0.10-0.19 s per task
    # on a 4-core host even in a reused worker; guarded, it takes
    # ~0.05 ms.  The daemon must import rex_spark before any task runs,
    # so get_session sets it only where a worker finds the package on
    # its start-up path (see _workers_import_package).
    _DAEMON_MODULE: "rex_spark._pyworker",
}


def _workers_import_package() -> bool:
    """Whether a Python worker of this session can import rex_spark at
    start-up: the directory holding the package is the working
    directory (which workers inherit) or on ``PYTHONPATH``.  A package
    shipped only with ``--py-files`` reaches workers per task, too late
    for the daemon, and keeps PySpark's stock daemon."""
    home = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isdir(home):  # imported from a zip
        return False
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return any(os.path.realpath(p or ".") == os.path.realpath(home) for p in paths)


def get_session(
    master: str | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "rex_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else 32).
    ``shuffle_partitions`` defaults to the local core count so one
    shuffle round fills the machine without tiny-partition overhead.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # local[N] -> N; local[*] / cluster URL -> env cpu count
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = int(inner) if inner.isdigit() else cpus

    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in _DEFAULTS.items():
        if k != _DAEMON_MODULE or _workers_import_package():
            builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.default.parallelism", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_session() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
