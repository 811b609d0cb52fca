"""Partitioned Bloom seen-filter shards (north_rule: "URL-seen dedup via a
partitioned Bloom/cuckoo filter"; SURVEY.md §4.2.2).

The seen set is split into ``n_buckets`` shards by ``pmod(xxhash64(url), B)``
— the same bucketing the exact ``seen`` table uses. Each shard is a blocked
Bloom filter (Putze, Sanders and Singler, 2007): every hash of a url lands
in one 512-bit block (the whole shard when ``bits_per_shard`` < 512), and a
shard set is one ``(blk bigint, words array<bigint>)`` row per block that
holds a url — so the blocks of a seen delta are sized by the urls it
adds. Build, merge and probe are Spark built-ins (``bit_or`` aggregates on
``blk``; one join on ``blk`` plus one bit-test expression) — no Python
worker anywhere.

Probe semantics: ``maybe_seen`` false ⇒ definitely new. Admission uses it
as a residual condition of the exact anti-join, so correctness never
depends on the filter (tested with the filter on/off).

Hashing (:func:`_layout`, the one bit-layout formula): ``_h1`` picks the
bucket; ``_h2``'s high 32 bits pick the block within the shard, its bits
0-8 the first in-block position and its bits 16-24 the odd double-hashing
step.

Reference parity: replaces the row-at-a-time UNIQUE-key probe at
/root/reference/graven/db/graven_database.py:103-115.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_H2_SALT = "graven_spark.bloom.h2"
BLOCK_WORDS = 8  # a 512-bit block: one 64-byte cache line
# Total filter size up to which the probe broadcasts the shards; above it
# (the 10^10-URL filter is tens of GB) the shards stay distributed and the
# candidates shuffle to them on ``blk``.
BROADCAST_LIMIT = 256 << 20


@dataclass(frozen=True)
class BloomSpec:
    n_buckets: int = 16
    bits_per_shard: int = 1 << 20  # 128 KiB/shard default; size for expected n/bucket
    n_hashes: int = 7

    def __post_init__(self) -> None:
        # whole 64-bit words and whole blocks (or one): a power of two >= 64
        bits = self.bits_per_shard
        if bits < 64 or bits & (bits - 1):
            raise ValueError(f"bloom bits_per_shard must be a power of two >= 64, got {bits}")
        if self.n_buckets < 1 or self.n_hashes < 1:
            raise ValueError(
                f"bloom n_buckets and n_hashes must be >= 1, got {self.n_buckets}, {self.n_hashes}"
            )

    @property
    def shard_nbytes(self) -> int:
        return self.bits_per_shard // 8


def with_bloom_hashes(df: DataFrame, url_col: str = "url", spec: BloomSpec | None = None) -> DataFrame:
    """Attach bucket + the two 64-bit hashes, all JVM-side."""
    spec = spec or BloomSpec()
    return (
        df.withColumn("_h1", F.xxhash64(F.col(url_col)))
        .withColumn("_h2", F.xxhash64(F.lit(_H2_SALT), F.col(url_col)))
        .withColumn("bucket", F.pmod(F.col("_h1"), F.lit(spec.n_buckets)).cast("int"))
    )


def _layout(spec: BloomSpec) -> tuple[str, list[str]]:
    """SQL over :func:`with_bloom_hashes`' columns: a url's block id and its
    in-block bit positions. Operands are masked before the multiply-add, so
    ANSI mode never sees an overflow."""
    bits = min(spec.bits_per_shard, 64 * BLOCK_WORDS)
    blocks = spec.bits_per_shard // bits
    mask = f"{bits - 1}L"
    blk = f"(CAST(bucket AS BIGINT) * {blocks}L + (shiftrightunsigned(_h2, 32) & {blocks - 1}L))"
    first = f"(_h2 & {mask})"
    step = f"((shiftrightunsigned(_h2, 16) | 1L) & {mask})"
    return blk, [f"(({first} + {i}L * {step}) & {mask})" for i in range(spec.n_hashes)]


def build_shards(urls: DataFrame, spec: BloomSpec, url_col: str = "url") -> DataFrame:
    """Distributed shard build: one (blk, words) row per non-empty block."""
    blk, pos = _layout(spec)
    n_words = min(spec.bits_per_shard // 64, BLOCK_WORDS)
    hashed = with_bloom_hashes(urls.select(url_col), url_col, spec)
    positions = hashed.selectExpr(f"{blk} AS blk", *(f"{p} AS _p{i}" for i, p in enumerate(pos)))
    words = ", ".join(
        "bit_or(" + " | ".join(
            f"IF(shiftright(_p{i}, 6) = {j}, shiftleft(1L, CAST(_p{i} & 63L AS INT)), 0L)"
            for i in range(spec.n_hashes)
        ) + ")"
        for j in range(n_words)
    )
    return positions.groupBy("blk").agg(F.expr(f"array({words})").alias("words"))


def merge_shards(*shard_dfs: DataFrame) -> DataFrame:
    """OR together shard generations (old ∪ per-round deltas). Words past a
    small shard's length are NULL in every row and are dropped."""
    words = ", ".join(f"bit_or(try_element_at(words, {j + 1}))" for j in range(BLOCK_WORDS))
    return (
        reduce(DataFrame.unionByName, shard_dfs)
        .groupBy("blk")
        .agg(F.expr(f"filter(array({words}), w -> w IS NOT NULL)").alias("words"))
    )


def probe(
    candidates: DataFrame,
    shards: DataFrame,
    spec: BloomSpec,
    url_col: str = "url",
    track: list | None = None,
) -> DataFrame:
    """Adds ``maybe_seen`` to ``candidates``: a left join to ``shards`` on
    ``blk`` puts each candidate next to its block's words, then one SQL
    expression of ``n_hashes`` bit tests, parsed by a single ``F.expr`` (one
    py4j call), decides membership; a candidate whose block holds no url is
    not seen. The shards are broadcast when the whole filter
    (``n_buckets × shard_nbytes``) fits ``BROADCAST_LIMIT``; above it the
    join shuffles on ``blk``. ``track`` is accepted and ignored — the
    benchmark still passes it and destroys whatever it collected."""
    blk, pos = _layout(spec)
    hashed = with_bloom_hashes(candidates, url_col, spec).withColumn("blk", F.expr(blk))
    if spec.n_buckets * spec.shard_nbytes <= BROADCAST_LIMIT:
        shards = F.broadcast(shards)
    tests = " AND ".join(
        f"((shiftright(element_at(words, CAST(shiftright({p}, 6) + 1L AS INT)), "
        f"CAST({p} & 63L AS INT)) & 1L) = 1L)"
        for p in pos
    )
    maybe = F.expr(f"CASE WHEN words IS NULL THEN false ELSE {tests} END")
    return (
        hashed.join(shards, "blk", "left")
        .withColumn("maybe_seen", maybe)
        .drop("_h1", "_h2", "bucket", "blk", "words")
    )
