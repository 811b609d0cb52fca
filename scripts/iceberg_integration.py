"""Opt-in Iceberg integration runner (VERDICT r2 #7).

Run in an environment where the Iceberg Spark runtime is obtainable:

    SPARK_GRAFT_ICEBERG_PACKAGES=org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0 \
        python scripts/iceberg_integration.py

(or pre-place the jar on the classpath and set the var to any value; see
scripts/submit.sh --packages note). Builds a session with a Hadoop-type
Iceberg catalog in a temp warehouse and drives ``IcebergSeenTable``
end-to-end:

  1. MERGE dedup: two overlapping seen deltas; the table holds the distinct
     union (the reference's UNIQUE-key check-then-insert).
  2. Snapshot resume: the pre-merge snapshot re-reads as exactly batch 1.
  3. Storage-partitioned join (the key scale claim): with both sides
     bucket(B, url) Iceberg tables and SPJ enabled, the admission anti-join
     plan has NO shuffle Exchange on either side.

Prints one line per check (``ICEBERG_OK <name>``) and exits non-zero on any
failure; tests/test_iceberg_integration.py asserts the markers.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    pkgs = os.environ.get("SPARK_GRAFT_ICEBERG_PACKAGES")
    if not pkgs:
        print("SKIP: SPARK_GRAFT_ICEBERG_PACKAGES not set")
        return 2

    wh = tempfile.mkdtemp(prefix="graven_ice_wh_")
    from graven_spark.session import build_session

    conf = {
        "spark.sql.catalog.ice": "org.apache.iceberg.spark.SparkCatalog",
        "spark.sql.catalog.ice.type": "hadoop",
        "spark.sql.catalog.ice.warehouse": wh,
        "spark.sql.extensions":
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        # storage-partitioned join: both sides report their bucket transform
        # as the output partitioning — no Exchange needed on either side
        "spark.sql.sources.v2.bucketing.enabled": "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled": "true",
        "spark.sql.requireAllClusterKeysForCoPartition": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the SPJ shape
        "spark.sql.adaptive.enabled": "false",
    }
    if ":" in pkgs:
        conf["spark.jars.packages"] = pkgs
    spark = build_session(master="local[4]", shuffle_partitions=4,
                          extra_conf=conf)

    from graven_spark.sources.catalog import IcebergSeenTable, iceberg_available

    if not iceberg_available(spark):
        print("SKIP: iceberg runtime did not load")
        return 2

    buckets = 4
    tbl = IcebergSeenTable(spark, "ice.graven.seen", buckets=buckets)

    def delta(urls):
        return spark.createDataFrame([(u,) for u in urls], "url string")

    b1 = [f"https://h{i % 4}.example.com/maven2/d{i}/" for i in range(64)]
    b2 = b1[32:] + [f"https://h{i % 4}.example.com/maven2/x{i}/" for i in range(32)]
    tbl.merge(delta(b1))
    tbl.merge(delta(b2))
    got = {r.url for r in tbl.read().collect()}
    assert got == set(b1) | set(b2), "merge dedup failed"
    print("ICEBERG_OK merge_dedup")

    snaps = tbl.snapshot_ids()
    assert len(snaps) >= 2
    first = {r.url for r in tbl.read_at(snaps[0]).collect()}
    assert first == set(b1), "snapshot resume mismatch"
    print("ICEBERG_OK snapshot_resume")

    # candidates as a co-bucketed Iceberg table → SPJ anti-join, no Exchange
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS ice.graven.cand (url STRING) "
        f"USING iceberg PARTITIONED BY (bucket({buckets}, url))"
    )
    cands = [f"https://h{i % 4}.example.com/maven2/c{i}/" for i in range(64)] + b1[:8]
    spark.createDataFrame([(u,) for u in cands], "url string").writeTo(
        "ice.graven.cand"
    ).append()
    out = tbl.anti_join_new(spark.table("ice.graven.cand"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"SPJ expected, plan has Exchange:\n{plan}"
    n = out.count()
    assert n == 64, n  # the 8 already-seen candidates are filtered
    print("ICEBERG_OK spj_anti_join_no_exchange")

    spark.stop()
    print("ICEBERG_OK all")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
