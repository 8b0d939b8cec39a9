"""SparkSession factory tuned for both local testing and cluster scale.

Local runs use ``local[N]``; on a real cluster the same builder config is
what we'd ship: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), Arrow for the Python boundary, UTC session timezone so
timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _half_of_ram() -> str:
    """Default driver heap: half of physical memory, so the local JVM
    (heap plus off-heap) cannot outgrow the host."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{ram // 2 // (1 << 20)}m"


def get_spark(
    app_name: str = "flume_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    At 100 TB these configs matter: AQE coalesces post-shuffle partitions to
    target sizes instead of a fixed count, skew-join handling splits hot
    partitions, and broadcast threshold lets dimension tables skip shuffles.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # int64 micros (not legacy INT96): interoperable with pyarrow readers
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _half_of_ram()),
        )
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_rows(spark: SparkSession, data, schema: str):
    """`createDataFrame` over a SINGLE-slice parallelize — for tiny
    driver-side row lists (centroid tables, manifests) that downstream
    code funnels into one task.

    The default path splits local data into defaultParallelism pickled
    slices; a single-task consumer (e.g. `coalesce(1).write`) then
    drains every slice's Python-worker round-trip SERIALLY — measured
    round-15 at ~5 s for a 4-row centroid write on local[32] (~150 ms
    per empty slice), vs 0.6 s for the same write off one slice.  One
    slice also removes the 32-empty-file hazard without a coalesce."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(data, numSlices=1), schema
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, "object"]:
    """Load the driver's parquet tables and register them as temp views.

    Returns {name: DataFrame}. Filters/projections written against these
    views push down to the parquet scan (verify via .explain: PushedFilters).
    """
    names = [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
