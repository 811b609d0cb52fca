"""Content-dedup extraction (``dedup_body_extract``): the extraction must
run above a body_sha aggregate (once per distinct body)."""


def test_dedup_content_plan_shape(spark, tmp_path):
    """The extraction must sit above the per-body aggregate, not the
    per-URL rows: the JVM regexp extraction and first(html) appear in the
    same plan (round 6 moved extraction from an Arrow UDF to pure Catalyst,
    so no Python eval node may appear at all), and the join back to URLs
    keys on body_sha WITHOUT a forced broadcast (the distinct-body set is
    unbounded; AQE may still broadcast at runtime)."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from graven_spark.functions.extract import dedup_body_extract, extract_links

    df = spark.range(100).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        F.encode(F.concat(F.lit("<a href=\"x/\">x</a>"),
                          (F.col("id") % 3).cast("string")), "utf-8")
        .alias("html"),
    )
    keyed = df.withColumn("body_sha", F.sha2(F.col("html"), 256))
    joined = dedup_body_extract(keyed, extract_links, "ext")
    buf = io.StringIO()
    with redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    assert "regexp_extract_all" in plan
    assert "ArrowEval" not in plan and "BatchEvalPython" not in plan
    assert "first(html" in plan
    # join keyed on the body hash; strategy is Catalyst's choice (no forced
    # hint in dedup_body_extract — AQE broadcasts at runtime iff small)
    assert "Join" in plan and "body_sha" in plan
    # the UDF input side is the aggregate output: partial_first shows the
    # map-side combine that keeps the shuffle at one body per hash/partition
    assert "partial_first" in plan
