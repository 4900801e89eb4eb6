"""SparkSession factory tuned for this engine.

Local mode is the test harness; the conf is written so the same code
runs unchanged on a multi-executor cluster (spark-submit --py-files):
AQE on (runtime coalesce + skew-join split), shuffle partitions sized
to cores locally (override via spark.sql.shuffle.partitions on a real
cluster), Arrow enabled for every pandas-UDF stage, UTC session TZ so
results compare bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "grisp_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` controls local parallelism (``local[cores]``); on a real
    cluster, leave master unset via SPARK_GRAFT_MASTER env. Shuffle
    partitions default to the core count locally — at 100 TB you would
    set this to ~2-3x total executor cores and let AQE coalesce.
    """
    cores = cores or DEFAULT_CPUS
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    shuffle = shuffle_partitions or cores
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # bucketed-table home (incremental-dedup reference corpora,
        # tests) — .data is scratch/gitignored; derived from the
        # package location so a checkout anywhere works
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                ".data",
                "warehouse",
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_collation_support(spark)
    return spark


# Spark 4's initcap (CollationSupport.InitCap.execBinaryICU) lazily runs
# CollationAwareUTF8String's static initializer — an ICU case-mapping
# data load measured at 1.8-10 s under co-tenant load — on FIRST use,
# and every other concurrent task blocks on the class-init monitor
# until it finishes (jstack evidence in OPTIMIZATION_r08.md). Evaluate
# one constant initcap at session build so the load happens once, off
# every query's timed path. Local mode shares one JVM between driver
# and executors, so this covers both; on a real cluster each long-lived
# executor JVM pays the load once, amortized over the job. The load
# lives in the JVM, not in this process, so the guard is keyed by the
# running application: a session started after a stop is warmed again.
_COLLATION_WARMED: set[str] = set()


def _warm_collation_support(spark: SparkSession) -> None:
    app_id = spark.sparkContext.applicationId
    if app_id in _COLLATION_WARMED:
        return
    spark.sql("SELECT initcap('warm')").collect()
    _COLLATION_WARMED.add(app_id)
