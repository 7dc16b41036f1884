"""SparkSession bootstrap with scale-oriented defaults.

The reference engine gets vectorized execution, spill-aware operators and
two-stage distributed aggregation from its own runtime
(reference: src/Processors/Executors/PipelineExecutor.cpp,
src/Interpreters/Aggregator.h); on Spark those come from Tungsten +
AQE — our job is only to configure them well.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults tuned for the local[32] test harness; on a real cluster the
# same knobs scale out (AQE coalesces/splits partitions at runtime, so a
# static shuffle.partitions is only the pre-AQE upper bound).  The one
# conf table: get_spark applies all of it at build time, and
# catalog.apply_runtime_conf re-applies its runtime-settable keys on a
# session built elsewhere (the driver's vanilla session).
_DEFAULT_CONF = {
    # Adaptive execution: runtime re-planning, skew-join splitting and
    # small-partition coalescing — the moral equivalent of the
    # reference's JoinSwitcher + two-level aggregation fallbacks.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # r13 (guide §2.2/§9): size post-shuffle partitions by BYTES, not
    # by core count.  The default parallelismFirst=true pins small
    # shuffles to defaultParallelism tasks (32 tiny tasks of scheduling
    # overhead locally; thousands of undersized reducers on a cluster).
    # r14: the r13 advisory of 256m collapsed every sf0.1 post-shuffle
    # stage to ~1 reducer and cost ~1 s across the bench (interleaved
    # 5-round driver-protocol A/B, AB_CONF_RAW.json: 256m 22.03 s /
    # spark-default 21.49 s / 8m 20.93 s) — exactly the VERDICT r13
    # item-2 suspicion.  Local default is now 8m, which keeps the
    # byte-derived partition count (≈ shuffle_bytes / advisory) at a
    # granularity that still parallelizes sf-scale data; on a cluster
    # set SPARK_GRAFT_ADVISORY_PARTITION_BYTES=256m (guide §9 figure,
    # SCALE.md).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst":
        os.environ.get("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "false"),
    "spark.sql.adaptive.advisoryPartitionSizeInBytes":
        os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "8m"),
    # Upper bound pre-AQE; at 100 TB you would raise this to ~2000-4000
    # (or let adaptive.coalescePartitions pick from
    # spark.sql.adaptive.coalescePartitions.initialPartitionNum).
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"),
    # Broadcast threshold: dimension tables (region/nation/customer-ish)
    # should broadcast; AQE also converts to broadcast at runtime.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Deterministic timestamp semantics for oracle comparison.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for any pandas interchange (pipeline operators).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # Parquet: vectorized reader + pushdown are on by default; keep
    # split size moderate so local[32] parallelizes small test files.
    "spark.sql.files.maxPartitionBytes": "128m",
    # Parquet TIMESTAMP(NANOS) (events.ts) → read as long; the catalog
    # converts to µs timestamps (matching DuckDB's truncation).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # ANSI off: the reference's SQL dialect is permissive (overflow
    # wraps, bad casts -> NULL via *OrNull variants).
    "spark.sql.ansi.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
}


def get_spark(app_name: str = "clickhouse_core_spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Create (or get) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    cluster leave it None and let spark-submit decide.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
