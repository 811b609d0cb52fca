"""SparkSession factory with the engine's defaults.

Local-mode knobs follow the public Spark tuning guidance: shuffle partitions
≈ cores (not 200), AQE on (skew-join splitting + partition coalescing),
Arrow on for the pandas UDFs off the crawl path (scanner, SBOM codec,
robots/sitemap/WARC/media readers) and pandas conversions, UTC everywhere
(driver JVM, session, and Python workers) so parquet/DuckDB/oracle
timestamp comparisons agree. Link and text extraction are JVM expressions.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession


def pin_utc() -> None:
    os.environ["TZ"] = "UTC"
    time.tzset()


def build_session(
    master: str | None = None,
    app_name: str = "graven_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    pin_utc()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master.split("[")[-1].rstrip("]") if "[" in master else "8"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # InferFiltersFromGenerate turns posexplode(extract_links(html))
        # into an inferred `size(extract_links(html).links) > 0` filter that
        # predicate-pushdown then moves BELOW the fetch join — a second
        # extract_links pass (the JVM regex walk) over the whole pages
        # table. Generator input here is always an extraction result, so
        # the inference is a pure pessimization.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # The checkpoint store's seen_full base is written bucketed + sorted
        # with exactly one file per bucket; with this flag the bucketed scan
        # reports its sort order, so the admission SortMergeJoin merge-reads
        # the seen side with NO Exchange and NO Sort (verified in PLANS.md).
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # Local mode: shuffles go through the driver host's disk. Put them on
    # tmpfs when available — a cluster's NVMe+network shuffle service is the
    # real analog, and a single shared /tmp disk serializes big shuffles.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark_graft_local"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for key, val in (extra_conf or {}).items():
        builder = builder.config(key, val)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
