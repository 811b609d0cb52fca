"""Text-analysis & deduplication operators for a large-scale training-data
pipeline, over a ``documents(doc_id, text, ...)`` table.

All hot paths are JVM-side Catalyst expressions (split/transform/aggregate/
regexp) — no Python UDFs. Hashing uses md5-derived integers so every operator
has an exact DuckDB-SQL oracle (xxhash64 isn't portable across engines; the
production engine can swap ``_h32``'s md5 for xxhash64 with one line).

Scale notes:
- exact dedup is a hash-groupBy: one shuffle on the digest, map-side
  combinable;
- minhash signatures build in one explode+groupBy (shuffle on doc), LSH
  banding re-groups by (band, band_hash) — candidate pairs only ever meet
  inside a bucket, never via a cross join;
- n-gram jaccard joins on shingle — the classic inverted-index self-join;
  frequent-shingle skew is the known hazard → ``max_shingle_df`` drops
  stop-shingles (standard MinHashLSH practice) before the self-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _h32(c: Column, salt: str = "") -> Column:
    """Portable 32-bit hash: first 8 hex chars of md5 as a long."""
    s = F.concat(c, F.lit(salt)) if salt else c
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def words_col(text: Column) -> Column:
    return F.split(text, " ")


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of ``text`` (array<string>)."""
    # greatest(...,1): a doc shorter than n words yields one (short) shingle;
    # never sequence(1,0), which Spark would generate as a DESCENDING range.
    w = words_col(text)
    idx = F.sequence(F.lit(1), F.greatest(F.size(w) - (n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(w, i, n), " "))
    )


# -- exact dedup -------------------------------------------------------------

def exact_dedup(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text, keeping the
    smallest doc_id as canonical + the duplicate count."""
    return (
        documents.select(F.md5(F.col(text_col)).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count("*").alias("n_dups"))
    )


# -- n-gram jaccard near-dup --------------------------------------------------

def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.4,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard via inverted-index
    self-join (no cross join). Returns (doc_a, doc_b, jaccard).

    ``max_shingle_df`` drops stop-shingles BEFORE the self-join: one shingle
    appearing in d documents contributes d² candidate pairs, so a single
    stop-shingle at corpus scale turns the join quadratic. The default is
    None — exact Jaccard, the operator's documented contract — because the
    capped form computes Jaccard over the post-filter shingle sets (an
    approximation). ALWAYS pass a cap (e.g. 1000) at corpus scale; the
    registered entry-point query and bench do."""
    sh = (
        documents.select("doc_id", F.explode(shingles(F.col("text"), n)).alias("shingle"))
    )
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("shingle").count()
            .filter(F.col("count") > max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "sz_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# -- MinHash + LSH -------------------------------------------------------------

def minhash_signature(documents: DataFrame, n: int = 3, k: int = 16) -> DataFrame:
    """k-permutation MinHash signature per doc: min over shingles of
    h32(shingle, salt_i) for k salts. One explode + one groupBy."""
    sh = documents.select(
        "doc_id", F.explode(shingles(F.col("text"), n)).alias("shingle")
    )
    mins = [
        F.min(_h32(F.col("shingle"), f"#mh{i}")).alias(f"mh{i}") for i in range(k)
    ]
    return sh.groupBy("doc_id").agg(*mins)


def minhash_lsh_candidates(
    documents: DataFrame, n: int = 3, k: int = 16, bands: int = 4
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs
    (doc_a < doc_b). Bucket join, never a cross join."""
    rows_per_band = k // bands
    sig = minhash_signature(documents, n, k)
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows_per_band + j}") for j in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("_", *[c.cast("string") for c in cols])).alias("bucket"))
        )
    banded = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


# -- SimHash -------------------------------------------------------------------

def simhash(documents: DataFrame, bits: int = 32) -> DataFrame:
    """Per-doc SimHash over words: bit b set iff the sum over words of
    (±1 by word-hash bit b) is positive. Pure Catalyst: explode words,
    groupBy doc, sum per bit."""
    w = documents.select("doc_id", F.explode(words_col(F.col("text"))).alias("w"))
    hw = w.select("doc_id", _h32(F.col("w")).alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    agg = hw.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.alias("simhash"))


# -- language id / quality / tokens / fingerprint -------------------------------

_EN_STOPWORDS = [
    "the", "a", "of", "and", "to", "in", "is", "that", "it", "for",
    "on", "with", "as", "was", "at", "by", "an", "be", "this", "are",
]


def lang_id(documents: DataFrame, threshold: float = 0.05) -> DataFrame:
    """Stopword-ratio language heuristic: share of words in a small English
    stopword list; ≥ threshold ⇒ 'en'."""
    w = words_col(F.col("text"))
    stop = F.size(F.filter(w, lambda x: x.isin(*_EN_STOPWORDS)))
    ratio = F.round(stop / F.greatest(F.size(w), F.lit(1)), 6)
    return documents.select(
        "doc_id",
        ratio.alias("stopword_ratio"),
        F.when(ratio >= threshold, "en").otherwise("other").alias("lang_pred"),
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Heuristic quality features: char length, word count, mean word length,
    punctuation ratio, and a composite score."""
    w = words_col(F.col("text"))
    n_chars = F.length("text")
    n_words = F.size(w)
    mean_wlen = F.round(n_chars / F.greatest(n_words, F.lit(1)), 6)
    n_punct = F.length("text") - F.length(F.regexp_replace("text", r"[.!?,;:]", ""))
    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6)
    score = F.round(
        F.least(n_words / F.lit(100.0), F.lit(1.0)) * (1 - punct_ratio), 6
    )
    return documents.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars_m"),
        n_words.cast("long").alias("n_words"),
        mean_wlen.alias("mean_word_len"),
        punct_ratio.alias("punct_ratio"),
        score.alias("quality"),
    )


TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count(documents: DataFrame) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count (letters / digits /
    single punctuation — the GPT-2-style pre-tokenizer shape)."""
    return documents.select(
        "doc_id",
        F.size(words_col(F.col("text"))).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_REGEX), 0))
        .cast("long")
        .alias("re_tokens"),
    )


def fingerprint(documents: DataFrame, k: int = 8) -> DataFrame:
    """Document fingerprint: the minimum hash over all character k-grams
    (a 1-permutation winnowing bound — deterministic and portable)."""
    return documents.select(
        "doc_id",
        F.expr(
            f"array_min(transform(sequence(1, greatest(length(text)-{k - 1}, 1)), "
            f"i -> cast(conv(substring(md5(substring(text, i, {k})), 1, 8), 16, 10) as bigint)))"
        ).alias("fp"),
    )


# -- composed corpus preparation ----------------------------------------------

def corpus_prepare(
    documents: DataFrame,
    embeddings: DataFrame,
    dim: int,
    min_quality: float = 0.2,
    lang: str = "en",
    near_dup_threshold: float = 0.3,
    n_planes: int = 8,
) -> DataFrame:
    """Training-corpus preparation as ONE declarative plan: exact dedup
    (keep-lowest doc_id) → language gate → quality gate → embedding-cosine
    near-dup drop (``embeddings.vec_id`` aligned with ``doc_id``) → token
    counts. Output: (doc_id, quality, ws_tokens, re_tokens) for the
    surviving corpus.

    This is the composition story for the LLM-data ops: every stage is the
    already-oracled operator, chained as doc_id-keyed semi/anti/inner joins
    so Catalyst plans the whole prep as one job — shared scans of
    ``documents``, hash joins on doc_id, the near-dup side an SRP-bucketed
    pair list (never all-pairs), zero driver collection. At 100 TB each
    gate prunes before the next join; the anti-join's right side (drop ids)
    is duplicates-only, typically a small fraction, so AQE broadcasts it.
    """
    from .simsearch import embed_near_dup, near_dup_drop_ids

    canon = exact_dedup(documents).select(
        F.col("canonical_doc_id").alias("doc_id")
    )
    lang_ok = lang_id(documents).filter(F.col("lang_pred") == lang).select("doc_id")
    qual_ok = quality_score(documents).filter(
        F.col("quality") >= min_quality
    ).select("doc_id", "quality")
    drops = near_dup_drop_ids(
        embed_near_dup(embeddings, near_dup_threshold, dim, n_planes)
    ).withColumnRenamed("drop_id", "doc_id")
    return (
        documents.select("doc_id")
        .join(canon, "doc_id", "semi")
        .join(lang_ok, "doc_id", "semi")
        .join(drops, "doc_id", "anti")
        .join(qual_ok, "doc_id", "inner")
        .join(token_count(documents), "doc_id", "inner")
    )
