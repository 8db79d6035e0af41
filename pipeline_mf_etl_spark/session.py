"""SparkSession factory.

Single place where execution knobs live. Tuned for the local[N] test
harness but written for cluster scale: AQE on (runtime re-planning,
skew-join splitting, partition coalescing), shuffle partitions sized to
the parallelism actually available, Arrow enabled for every
pandas-exchange boundary, UTC session timezone so timestamp semantics
match the DuckDB oracle and any downstream engine.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        try:
            return max(1, int(env))
        except ValueError:
            pass
    return os.cpu_count() or 8


def get_spark(app_name: str = "pipeline_mf_etl_spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the session.

    ``shuffle_partitions`` defaults to the local core count — at cluster
    scale this would be ~2-3x total executor cores; AQE coalesces down
    when partitions come out small, and splits skewed ones.
    """
    cores = default_parallelism()
    n_shuffle = shuffle_partitions or cores
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing sizes post-shuffle partitions by BYTES; with the
        # default 1 MiB minPartitionSize floor, every few-MB shuffle
        # collapses to 1-3 partitions — which serializes the Arrow→Python
        # island stages (mapInPandas/applyInPandas) whose per-row cost
        # dwarfs their byte size (measured r14: b6's whole trade sim on 2
        # of 32 cores, wd1's tar build on 1). Lowering the floor keeps
        # small-scale runs parallel; at production volumes parallelismFirst
        # (default true) computes the target from bytes/parallelism, far
        # above this floor, so the setting is inert there. Overridable for
        # deployments that prefer fewer, larger partitions.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "64k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let the planner pick shuffled-hash join when its size
        # conditions hold (one side estimated much smaller and under the
        # per-partition build bound) instead of always sort-merge —
        # skips both sort passes on the join key (guide §3.1/§9).
        # Measured in-session A/B at sf0.1: never slower on mins,
        # -5..-15% on the join-heavy dedup/retrieval queries. CAVEAT
        # (r14 ADVICE): the muchSmaller gate runs on ESTIMATED stats,
        # which can badly underestimate intermediate frames, and a SHJ
        # build side cannot spill — a misestimated skewed build can OOM
        # an executor where SMJ would have spilled. AQE re-checks with
        # runtime sizes for the joins it re-plans, but the guarantee is
        # statistical, not absolute; production-scale runs that prefer
        # the safe default can flip it back via SPARK_GRAFT_PREFER_SMJ=1
        # without a code edit.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            "true" if os.environ.get("SPARK_GRAFT_PREFER_SMJ") else "false",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Generated-class cache (static conf, Spark default 100 entries).
        # One medallion run_pipeline pass uses ~150 generated classes and
        # one corpus pass (pair export, d7/g1/t12/r1, six decoders) ~290,
        # so at 100 the LRU evicted every class before its reuse and each
        # warm pass re-ran Janino on nearly all of them (measured ~140-160
        # and ~283 compiles per warm pass; most of the pass's CPU went to
        # the JVM's JIT threads). At 1000 a warm medallion pass compiles
        # nothing and a warm corpus pass a handful.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
