"""Similarity search over an embedding column (``array<float>``).

- :func:`cosine_topk` — brute-force exact top-k: JVM-side ``zip_with`` dot
  product + ``aggregate`` norms, a single scan, no UDF. The baseline.
- :func:`lsh_bucketed_topk` — the scale path: sign-random-projection LSH.
  Each vector hashes to a ``n_planes``-bit bucket via deterministic
  md5-derived hyperplanes; the query only scans its own bucket (plus
  optionally Hamming-adjacent buckets). At 100 TB the bucket join replaces
  the full scan; here both paths return identical top results on the
  recall set they share.

Everything is double-precision (cast up from float32) and rounded before
emission so results are engine-portable.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_sim(a: Column, b: Column) -> Column:
    """ANSI-safe cosine: the session runs spark.sql.ansi.enabled=true (Spark 4
    default), where a plain ``/`` on a zero-norm embedding (an empty document)
    aborts the whole job with DIVIDE_BY_ZERO. ``try_divide`` yields NULL
    instead — dropped by every >= threshold filter and ordered last by the
    top-k sort, so results are unchanged for non-degenerate vectors."""
    a, b = _as_double(a), _as_double(b)
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine similarity to a constant query vector. A
    zero-norm vector has no similarity (NULL) and is never returned, even
    when fewer than ``k`` vectors score."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = embeddings.select(
        id_col,
        F.round(cosine_sim(F.col(vec_col), q), 4).alias("cos_sim"),
    ).filter(F.col("cos_sim").isNotNull())
    return scored.orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k)


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: ±1 per dimension from md5 —
    reproducible across engines and runs (no RNG state)."""
    out = []
    for d in range(dim):
        h = hashlib.md5(f"plane{plane}dim{d}".encode()).digest()[0]
        out.append(1.0 if h % 2 == 0 else -1.0)
    return out


def srp_bucket(v: Column, dim: int, n_planes: int = 8) -> Column:
    """Sign-random-projection bucket id (0..2^n_planes-1).

    The hyperplane matrix rides as ONE nested-array literal — per-plane
    CreateArray literals would scatter dim × n_planes expression nodes into
    the plan (~25k nodes at dim 1536 × 16 planes), the same plan-bloat
    disease as a literal rank-offsets array. One Literal node keeps the
    plan O(1) in dim; the weights sum exactly (powers of two < 2^53 are
    exact in doubles)."""
    planes = F.lit([_hyperplane(dim, p) for p in range(n_planes)])
    vd = _as_double(v)
    bits = F.zip_with(
        planes,
        F.sequence(F.lit(0), F.lit(n_planes - 1)),
        lambda pl, p: F.when(dot(vd, pl) >= 0, F.pow(F.lit(2.0), p)).otherwise(
            F.lit(0.0)
        ),
    )
    return F.aggregate(bits, F.lit(0.0), lambda a, x: a + x).cast("long")


def lsh_bucketed_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k: score only vectors in the query's SRP bucket."""
    dim = len(query_vec)
    q_bucket_val = _query_bucket(query_vec, n_planes)
    bucketed = embeddings.withColumn("_bkt", srp_bucket(F.col(vec_col), dim, n_planes))
    cand = bucketed.filter(F.col("_bkt") == q_bucket_val)
    return cosine_topk(cand, query_vec, k, vec_col, id_col)


def _query_bucket(query_vec: list[float], n_planes: int) -> int:
    acc = 0
    dim = len(query_vec)
    for p in range(n_planes):
        plane = _hyperplane(dim, p)
        if sum(x * y for x, y in zip(query_vec, plane)) >= 0:
            acc |= 1 << p
    return acc


# -- embedding-cosine near-duplicate detection ---------------------------------

def embed_near_dup(
    embeddings: DataFrame,
    threshold: float,
    dim: int,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, SRP-bucketed — the embedding
    member of the dedup family (exact / n-gram Jaccard / MinHash-LSH /
    SimHash live in operators/textops.py).

    Candidate generation is a self-join keyed on the vector's
    sign-random-projection bucket (``srp_bucket``), so only vectors whose
    sign pattern agrees on all ``n_planes`` hyperplanes are ever compared —
    never all-pairs. Cosine is computed JVM-side (``zip_with`` dot +
    ``aggregate`` norms, no UDF), rounded to 4 places, and thresholded on
    the rounded value so the result is engine-portable. Pairs are emitted
    once with ``id_a < id_b``.

    Scale: candidates are ~N²/2^n_planes per bucket on sign-balanced data;
    raise ``n_planes`` to tighten buckets as N grows (recall follows the
    standard SRP collision curve (1 - θ/π)^n_planes). The bucket join is a
    hash shuffle on the bucket id; a pathological bucket (many co-directional
    vectors — exactly the near-dup clusters we want) is a skew key, which AQE
    skew-join splitting handles (session default). Like MinHash-LSH banding
    this trades recall for never materializing the cross join; pairs whose
    sign pattern differs on any plane are not compared.
    """
    # Each side projects to DISJOINT column names BEFORE the join: the
    # alias('a')/alias('b') self-join over the identical bucketed plan hits
    # Spark's self-join attribute dedup — the single-sided cos_sim filter
    # gets pushed below the join and the job dies with
    # [INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND] (reproduced on Spark 4.1.2 when
    # the test runs in isolation). Disjoint names leave nothing to dedup.
    bucketed = embeddings.select(
        F.col(id_col), F.col(vec_col),
        srp_bucket(F.col(vec_col), dim, n_planes).alias("_bkt"),
    )
    a = bucketed.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("_vec_a"), "_bkt"
    )
    b = bucketed.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vec_b"), "_bkt"
    )
    return (
        a.join(b, ["_bkt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine_sim(F.col("_vec_a"), F.col("_vec_b")), 4).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def near_dup_drop_ids(pairs: DataFrame) -> DataFrame:
    """Keep-lowest-id dedup verdict from a near-dup pair list: every id that
    appears as the GREATER member of any pair is dropped (its lower-id twin
    survives), so each surviving id has no above-threshold near-dup with a
    smaller id. This is the standard one-pass greedy (NOT connected
    components: two vectors that are each near a third but not near each
    other both survive, which is the right call for near-dup semantics —
    no iteration, one distinct)."""
    return pairs.select(F.col("id_b").alias("drop_id")).distinct()


# -- persisted SRP index (the 100-TB path) ------------------------------------

def write_srp_index(
    embeddings: DataFrame,
    path: str,
    dim: int,
    n_planes: int = 8,
    vec_col: str = "embedding",
) -> None:
    """Materialize the ANN index ONCE: the bucket id becomes a parquet
    partition column, so a query's scan is pruned to its probed buckets'
    directories — no per-query recomputation of every vector's bucket, no
    full scan. At 100 TB this is the difference between reading ~1/2^planes
    of the table and reading all of it for every query."""
    (
        embeddings.withColumn(
            "srp_bucket", srp_bucket(F.col(vec_col), dim, n_planes)
        )
        .write.mode("overwrite")
        .partitionBy("srp_bucket")
        .parquet(path)
    )


def multiprobe_buckets(query_vec: list[float], n_planes: int) -> list[int]:
    """The query's bucket plus all Hamming-1 neighbors (each plane flipped
    once) — standard multi-probe LSH: recall recovered from near-boundary
    sign flips without widening every bucket."""
    qb = _query_bucket(query_vec, n_planes)
    return [qb] + [qb ^ (1 << p) for p in range(n_planes)]


def ann_topk_indexed(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    buckets: list[int] | None = None,
) -> DataFrame:
    """ANN top-k against the persisted index: partition pruning restricts
    the scan to the probed bucket directories (verify: the plan's
    PartitionFilters show ``srp_bucket IN (...)``). Default probes the
    query's bucket plus all Hamming-1 neighbors; pass ``buckets`` to probe
    an explicit set (e.g. just the home bucket)."""
    if buckets is None:
        buckets = multiprobe_buckets(query_vec, n_planes)
    cand = spark.read.parquet(index_path).filter(F.col("srp_bucket").isin(buckets))
    return cosine_topk(cand, query_vec, k, vec_col, id_col)
