"""Scalable global FIFO ranking (SURVEY.md §2.5 W1/W2).

The round plan needs each fetched URL's 0-based rank in global priority
order (the reference's FIFO dequeue position — children inherit it into
their own priorities, core.py arithmetic; the reference's analog is the
queue position of ``queue.Queue`` at
/root/reference/graven/worker/crawler.py:52,70). A bare
``row_number() OVER (ORDER BY priority)`` funnels the whole set through one
partition; ``repartitionByRange`` adds a range-sampling job. Instead we use
the key's own value distribution analytically:

1. one tiny agg pass → (min, max, count) of the order key;
2. equal-width bucket id ``floor((key - min) * nb / span)`` — a pure
   projection, order-monotonic, no sampling shuffle (crawl priorities are
   either uniform 64-bit url hashes or dense ``rank*STRIDE + idx`` ints, so
   equal-width buckets are balanced either way);
3. per-bucket counts (map-side combinable, ≤ nb rows) → an exclusive
   running sum over ``Window.orderBy(bucket)`` gives each bucket's offset —
   a single-partition window, but over ≤ nb rows, never the data;
4. ``row_number() OVER (PARTITION BY bucket ORDER BY key) + offset[bucket]``
   — the offsets broadcast-join in, and one hash shuffle on the bucket id
   is the only data movement; fully whole-stage-codegen JVM work, no
   Python/Arrow round trip anywhere.

Every stage is parallel and the only data collected is one stats row, so
the same plan holds on 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


SMALL_RANK_THRESHOLD = 100_000


def with_global_rank(
    df: DataFrame,
    order_col: str = "priority",
    rank_col: str = "fifo_rank",
    num_partitions: int | None = None,
    size_hint: int | None = None,
) -> tuple[DataFrame, int | None, DataFrame]:
    """Attach a dense 0-based global rank by ``order_col`` (numeric, must be
    unique). Returns ``(ranked_df, total_rows, pinned)`` — the count falls
    out of the stats row for free; ``pinned`` is the persisted input handle
    the CALLER must ``unpersist()`` after its actions complete (the stats
    pass and the final rank job — whose offsets side reads the input again —
    would each re-execute the upstream plan otherwise, but the cache must
    not leak round-over-round).

    ``size_hint``: the caller's known upper bound on ``df``'s row count (the
    crawl loop knows each frontier's count). Below ``SMALL_RANK_THRESHOLD``
    the analytic bucket machinery is pure per-job overhead for a few hundred
    rows, so the small path is a lazy single-partition window: same dense
    rank values, no action at all, no offsets broadcast. It counts nothing,
    so ``total_rows`` is None there — a caller that passes the hint gets its
    counts elsewhere (the crawl observes them on its one materialization)."""
    spark = df.sparkSession
    nb = num_partitions or spark.sparkContext.defaultParallelism * 4
    df = df.persist()
    if size_hint is not None and size_hint < SMALL_RANK_THRESHOLD:
        w = Window.orderBy(order_col)
        ranked = df.withColumn(
            rank_col, F.row_number().over(w).cast("long") - 1
        )
        return ranked, None, df
    stats = df.agg(
        F.min(order_col).alias("lo"), F.max(order_col).alias("hi"),
        F.count("*").alias("n"),
    ).first()
    total = int(stats["n"])
    if total == 0:
        return df.withColumn(rank_col, F.lit(0).cast("long")), 0, df

    lo = float(stats["lo"])
    span = float(stats["hi"]) - lo + 1.0
    # Order-monotonic equal-width bucket id: double cast / mul / floor are
    # all monotone non-decreasing, so bucket(p1) <= bucket(p2) iff p1 <= p2
    # — the within-bucket sort restores exact order.
    bucket = F.least(
        F.lit(nb - 1),
        F.floor((F.col(order_col).cast("double") - F.lit(lo)) * F.lit(float(nb)) / F.lit(span)),
    ).cast("int")
    bdf = df.withColumn("_rb", bucket)

    # Offsets ride in as a broadcast relation built on the JVM, not an
    # nb-literal array in the plan (nb = 4×parallelism ⇒ thousands of plan
    # literals on a cluster) nor a driver round trip.
    counts = bdf.groupBy("_rb").agg(F.count("*").alias("_n"))
    offsets = counts.select(
        "_rb", (F.sum("_n").over(Window.orderBy("_rb")) - F.col("_n")).alias("_off")
    )
    w = Window.partitionBy("_rb").orderBy(order_col)
    ranked = (
        bdf.join(F.broadcast(offsets), "_rb")
        .withColumn(
            rank_col,
            F.row_number().over(w).cast("long") - 1 + F.col("_off"),
        )
        .drop("_rb", "_off")
    )
    return ranked, total, df
