"""Partitioned Bloom seen-filter shards (north_rule: "URL-seen dedup via a
partitioned Bloom/cuckoo filter"; SURVEY.md §4.2.2).

The seen set is split into ``n_buckets`` shards by ``pmod(xxhash64(url), B)``
— the same bucketing the exact ``seen`` table uses — and each shard is one
``(bucket int, longs array<bigint>)`` row: the shard's bitarray packed
little-endian into 64-bit words, so bit ``pos`` is bit ``pos & 63`` of word
``pos >> 6``. Shards are built/merged distributed (``applyInPandas`` per
bucket, numpy bitwise ops) and probed by ONE join on ``bucket`` plus a JVM
bit-test expression — no Python worker on the candidate path.

Probe semantics: bloom-negative ⇒ definitely new (skips the exact anti-join
entirely); bloom-positive ⇒ maybe seen ⇒ exact anti-join against the ``seen``
table decides. Correctness therefore never depends on the filter (tested with
the filter on/off); it only shrinks the expensive join's input.

Hashing: double hashing h_i = h1 + i*h2 (mod m_bits) over two JVM-computed
xxhash64 values — k memberships per URL, no Python hashing.

Reference parity: replaces the row-at-a-time UNIQUE-key probe at
/root/reference/graven/db/graven_database.py:103-115.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SHARD_SCHEMA = "bucket int, longs array<bigint>"
_H2_SALT = "graven_spark.bloom.h2"
# Total filter size up to which the probe broadcasts the shards; above it
# (the 10^10-URL filter is tens of GB) the shards stay distributed and the
# candidates shuffle to them on ``bucket``.
BROADCAST_LIMIT = 256 << 20


@dataclass(frozen=True)
class BloomSpec:
    n_buckets: int = 16
    bits_per_shard: int = 1 << 20  # 128 KiB/shard default; size for expected n/bucket
    n_hashes: int = 7

    def __post_init__(self) -> None:
        # whole 64-bit words, and numpy's ``% bits`` must equal the JVM's
        # ``& (bits - 1)`` mask — both need a power of two >= 64
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


def _bit_positions(h1: np.ndarray, h2: np.ndarray, spec: BloomSpec) -> np.ndarray:
    """(n, k) array of bit indexes via double hashing, uint64 wraparound ok."""
    h1 = h1.astype(np.uint64)
    h2 = h2.astype(np.uint64) | np.uint64(1)  # force odd step
    ks = np.arange(spec.n_hashes, dtype=np.uint64)
    return ((h1[:, None] + ks[None, :] * h2[:, None]) % np.uint64(spec.bits_per_shard)).astype(np.int64)


def build_shards(urls: DataFrame, spec: BloomSpec, url_col: str = "url") -> DataFrame:
    """Distributed shard build: one (bucket, longs) row per non-empty bucket."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        words = np.zeros(spec.bits_per_shard // 64, dtype=np.uint64)
        pos = _bit_positions(pdf["_h1"].to_numpy(), pdf["_h2"].to_numpy(), spec).ravel()
        np.bitwise_or.at(words, pos >> 6, np.left_shift(np.uint64(1), (pos & 63).astype(np.uint64)))
        return pd.DataFrame({"bucket": [int(pdf["bucket"].iloc[0])], "longs": [words.view(np.int64)]})

    hashed = with_bloom_hashes(urls.select(url_col), url_col, spec)
    return hashed.groupBy("bucket").applyInPandas(build, SHARD_SCHEMA)


def merge_shards(*shard_dfs: DataFrame) -> DataFrame:
    """OR together shard generations (old ∪ per-round deltas)."""

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        words = np.bitwise_or.reduce(np.stack(pdf["longs"].to_list()), axis=0)
        return pd.DataFrame({"bucket": [int(pdf["bucket"].iloc[0])], "longs": [words]})

    unioned = shard_dfs[0]
    for df in shard_dfs[1:]:
        unioned = unioned.unionByName(df)
    return unioned.groupBy("bucket").applyInPandas(merge, SHARD_SCHEMA)


def probe(
    candidates: DataFrame,
    shards: DataFrame,
    spec: BloomSpec,
    url_col: str = "url",
    track: list | None = None,
) -> DataFrame:
    """Adds ``maybe_seen`` to ``candidates``: a left join to ``shards`` on
    ``bucket`` puts each candidate next to its shard's words, then one SQL
    expression — ``n_hashes`` element_at + shift + mask tests, parsed by a
    single ``F.expr`` so building it costs one py4j call, not one per Column
    operation — decides membership (whole-stage codegen, no Python worker;
    a candidate whose bucket has no shard is not seen). The shards are
    broadcast when the whole filter (``n_buckets × shard_nbytes``) fits
    ``BROADCAST_LIMIT``; above it the join shuffles on ``bucket``, so each
    shard moves once per bucket, not once per candidate.

    Bit positions equal the numpy build side's: ``bits_per_shard`` is a
    power of two (BloomSpec enforces it), so uint64 wraparound mod 2^m is
    the JVM mask. ``track`` is accepted and ignored — the benchmark still
    passes it and destroys whatever it collected."""
    hashed = with_bloom_hashes(candidates, url_col, spec)
    if spec.n_buckets * spec.shard_nbytes <= BROADCAST_LIMIT:
        shards = F.broadcast(shards)
    joined = hashed.join(shards, "bucket", "left")
    # Reduce mod 2^m BEFORE the multiply-add: (h1 + k*h2) mod 2^m ==
    # ((h1 & mask) + k*(h2 & mask)) & mask, and the reduced operands can't
    # overflow a long — ANSI mode would abort on the raw uint64-wraparound
    # form. The odd bit of h2 survives the mask.
    mask = f"{spec.bits_per_shard - 1}L"
    tests = []
    for k in range(spec.n_hashes):
        pos = f"(((_h1 & {mask}) + {k}L * ((_h2 | 1L) & {mask})) & {mask})"
        word = f"element_at(longs, CAST(shiftright({pos}, 6) + 1 AS INT))"
        tests.append(f"((shiftright({word}, CAST({pos} & 63L AS INT)) & 1L) = 1L)")
    maybe = F.expr(f"CASE WHEN longs IS NULL THEN false ELSE {' AND '.join(tests)} END")
    return joined.withColumn("maybe_seen", maybe).drop("_h1", "_h2", "bucket", "longs")
