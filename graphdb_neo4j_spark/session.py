"""SparkSession factory with scale-oriented defaults.

Settings chosen for correctness at local[32] *and* sanity on a real
cluster: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), broadcast threshold generous enough that dimension tables
(region/nation/supplier at test SF) broadcast, Arrow on for the few
Pandas-UDF paths (similarity / multimodal).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "graphdb-neo4j-spark", **extra_conf: str) -> SparkSession:
    # Python workers must import this package even when the DRIVER got
    # it via a sys.path insert (e.g. a harness running from another
    # cwd): sys.path mutations don't reach the worker daemon, but the
    # JVM — and therefore the daemon it forks — inherits the driver's
    # environment, so export the package root on PYTHONPATH before the
    # JVM starts.  No-op when already importable from the worker cwd.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.default.parallelism", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # runtime bloom-filter semi-join pruning: on a selective
        # fact⋈fact join the build side injects a bloom filter into the
        # probe side's scan — at 100 TB this skips row groups before the
        # shuffle (no-op on broadcasts, safe everywhere)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the driver testdata writes TIMESTAMP(NANOS) parquet, which Spark
        # rejects natively; read as long and convert in sources/tables.py
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # duplicate tag keys keep the LAST occurrence — the reference's
        # dict-assignment semantics (events.py:17-22) — without an O(n²)
        # dedup expression in tags_map
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # reliable-checkpoint GC: a reliable freeze
        # (order.checkpoint_eager — Louvain's per-round assignment, or
        # every round under SPARK_GRAFT_RELIABLE_FREEZE=1) writes one
        # checkpoint file per round; with cleanCheckpoints on, the
        # ContextCleaner deletes each file once its RDD is GC'd on the
        # driver, so a long-lived session running many iterative
        # kernels does not accumulate checkpoint data unboundedly
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
