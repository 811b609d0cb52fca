"""Iceberg-when-available catalog shim (SURVEY.md §7.0; VERDICT r1 #10).

The checkpoint store's parquet LSM (checkpoint.py) is the always-available
default. On a real cluster with an Iceberg catalog configured
(``spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog`` plus the
iceberg-spark-runtime jar), the seen set can instead live in ONE Iceberg
table: the per-round "seen MERGE" becomes a transactional ``MERGE INTO``
(check-then-insert exactly like the reference's UNIQUE-key upsert,
/root/reference/graven/db/graven_database.py:103-115), resume rides Iceberg
snapshots instead of round-dir commit markers, and the bucketed layout is
expressed as a ``bucket(B, url)`` partition transform — the same
no-seen-side-exchange join shape the parquet base provides.

This container has no Iceberg jars, so the shim is availability-gated and
raises a clear error when used without a catalog; the parquet path is the
tested default. Integration point: ``RoundStore.read_seen_base`` /
``read_seen_deltas`` map to ``IcebergSeenTable.read()`` / ``None``, and the
round's ``seen_delta`` write maps to :meth:`IcebergSeenTable.merge`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime classes are loadable in the JVM."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


class IcebergSeenTable:
    """The seen set as one Iceberg table with a bucketed layout.

    ``ident`` is a fully-qualified identifier (``catalog.ns.table``). The
    table is created on first use with ``bucket(buckets, url)`` partitioning
    so the admission anti-join clusters on url without an Exchange, same as
    the parquet base."""

    def __init__(self, spark: SparkSession, ident: str, buckets: int = 32):
        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg runtime not on the classpath — configure "
                "spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog "
                "and ship iceberg-spark-runtime via --packages; the parquet "
                "RoundStore (sources/checkpoint.py) is the default elsewhere"
            )
        self.spark = spark
        self.ident = ident
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {ident} "
            f"(url STRING) USING iceberg "
            f"PARTITIONED BY (bucket({buckets}, url))"
        )

    def read(self) -> DataFrame:
        return self.spark.table(self.ident)

    def merge(self, delta: DataFrame) -> None:
        """Transactional seen upsert: insert urls not already present (the
        reference's UNIQUE-key check-then-insert, made race-free)."""
        delta.createOrReplaceTempView("_graven_seen_delta")
        self.spark.sql(
            f"MERGE INTO {self.ident} t USING "
            "(SELECT DISTINCT url FROM _graven_seen_delta) s "
            "ON t.url = s.url WHEN NOT MATCHED THEN INSERT *"
        )

    def snapshot_ids(self) -> list[int]:
        """Committed snapshot ids, oldest→newest — the resume points."""
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self.ident}.snapshots ORDER BY committed_at"
        ).collect()
        return [r.snapshot_id for r in rows]

    def read_at(self, snapshot_id: int) -> DataFrame:
        return (
            self.spark.read.option("snapshot-id", snapshot_id)
            .format("iceberg").load(self.ident)
        )

    def anti_join_new(self, candidates: DataFrame) -> DataFrame:
        """Candidates not yet seen — clusters on url via the bucket
        transform (no seen-side Exchange, storage-partitioned join)."""
        return candidates.join(
            self.read().select(F.col("url").alias("_seen_url")),
            candidates["url"] == F.col("_seen_url"),
            "left_anti",
        )
