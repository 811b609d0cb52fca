"""Link/text extraction as pure-JVM Catalyst expressions (guide §4.1: prefer
built-ins over any Python boundary).

Rounds 1-5 ran these as vectorized Arrow/pandas UDFs; profiling the bench's
schedule mega-stage (round 6) showed the Python side dominating the hot
stage: every page body crossed the JVM→Arrow→Python boundary (~13 GB per
mega-round) and the per-document ``re.finditer`` loop plus per-link frozen
``Link``-dataclass construction burned ~400 task-seconds. Both extractors
are now whole-stage-codegen JVM expressions — zero bytes cross to Python,
no Arrow workers, no GC from batch buffers.

Byte-exact parity with the pure-Python definitions (``core.extract_text_py``
/ ``core.extract_links_strict_py``, which embed the byte-exact reference
regex) is preserved by translating the Python ``re`` semantics into Java
regex explicitly:

- ``(?d)`` (UNIX_LINES): Java ``.`` otherwise excludes \\r/\\u0085/\\u2028/
  \\u2029; Python ``.`` excludes only \\n.
- ``(?U)`` (UNICODE_CHARACTER_CLASS): makes Java ``\\d`` match exactly
  Unicode Nd — the Python ``str``-pattern ``\\d``.
- ``[\\s\\x1c-\\x1f]`` replaces ``\\s``: Python ``\\s`` matches the Unicode
  White_Space set *plus* the FS/GS/RS/US controls 0x1c-0x1f, which Java's
  ``(?U)\\s`` (= \\p{White_Space}) excludes.

Equivalence is pinned by tests/test_extract_jvm_parity.py: the graph
fixtures plus a differential fuzz (adversarial whitespace/digit/control-char
documents, both kernels row by row).

``extract_links`` reproduces ``finditer`` document order via
``regexp_extract_all(..., 0)`` (same non-overlapping leftmost-match walk),
then re-extracts the three groups per match. Re-running the regex on a full
match reproduces the original group split: every match starts with
``href="`` so position 0 is the leftmost candidate, the lazy group expands
to the same first closing quote, and the greedy optional tail backtracks to
the same (last) ``</a>\\s*<timestamp>`` because the match text ends at that
timestamp. Group emptiness stands in for Python's group-participation test:
the alternation's branches can never match an empty string (``/`` and
``jar`` are required), and Spark's ``regexp_extract`` returns ``''`` for a
non-participating group.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Byte-exact reference pattern (core.LINK_REGEX) with the Python->Java
# semantic shims documented above. Keep in sync with core.py.
LINK_REGEX_JVM = (
    "(?dU)href=\"(?!\\.\\.)(?:(.*?/)|(.*?jar))\""
    "(?:.*</a>[\\s\\x1c-\\x1f]*(\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2})|)"
)

_TAG_PATTERN = r"<[^>]*>"
_WS_PATTERN_JVM = "(?U)[\\s\\x1c-\\x1f]+"

LINKS_TYPE = T.StructType(
    [
        T.StructField(
            "links",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("href", T.StringType()),
                        T.StructField("is_dir", T.BooleanType()),
                        T.StructField("ts_str", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField("parse_failed", T.BooleanType()),
    ]
)

_EMPTY_LINKS = "array<struct<href:string,is_dir:boolean,ts_str:string>>"


def extract_text(html: Column) -> Column:
    """HTML binary → extracted text (golden-byte-identical invariant).

    Same transformation as ``core.extract_text_py``: strip tags, collapse
    whitespace runs to one space, strip. After the collapse every remaining
    whitespace char is a plain 0x20, so ``trim`` (space-only) equals
    Python's Unicode ``str.strip()`` here. NULL html stays NULL (the pandas
    kernel's ``na_action="ignore"`` behavior)."""
    s = html.cast("string")
    collapsed = F.regexp_replace(
        F.regexp_replace(s, _TAG_PATTERN, " "), _WS_PATTERN_JVM, " "
    )
    return F.trim(collapsed)


def _let(value: Column, body) -> Column:
    """Bind ``value`` once and reference it repeatedly inside ``body`` —
    higher-order-function lambdas evaluate their bound element exactly once,
    whereas repeating a subexpression in a nested when/struct tree gets NO
    common-subexpression elimination on the interpreted HOF path (measured
    3× on the link extractor: 3.38s → 1.2s at 400k docs)."""
    return F.get(F.transform(F.array(value), body), 0)


def extract_links(html: Column) -> Column:
    """HTML binary → struct(links array<struct<href,is_dir,ts_str>>,
    parse_failed boolean) — document-order reference-regex extraction with
    the strict failure mode (``core.extract_links_strict_py``): links stop
    at the first timestamp-less leaf match, which flags ``parse_failed``.

    The document scan is the reference regex (one Java-regex pass per doc);
    the three groups are then recovered from each full match STRUCTURALLY
    (locate/substring — no per-match regex): a match is
    ``href="<body>`` where

    - the dir branch matched iff ``/"`` occurs in <body> (the regex tries
      every ``(.*?/)"`` completion over the whole subject before any
      ``(.*?jar)"``, so a surviving match contains ``/"`` exactly when the
      dir branch won), and the href ends at the FIRST ``/"`` — the lazy
      group's leftmost completion;
    - otherwise the href ends at the first ``jar"``;
    - the optional listing-timestamp tail matched iff the match extends past
      the closing quote, and ``(\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2})`` is
      always exactly the last 16 code points (the Python kernel attaches it
      to LEAF links only).

    Equivalence with the Python kernel is pinned by the adversarial fuzz in
    tests/test_extract_jvm_parity.py (quote-bearing hrefs, Unicode digits
    and whitespace, control chars, truncated timestamps)."""
    s = html.cast("string")
    matches = F.regexp_extract_all(s, F.lit(LINK_REGEX_JVM), 0)

    def parse_match(m: Column) -> Column:
        # One binding + two locates per link. href spans m[7 .. end-marker]:
        # the first `/"` (dir branch) else the first `jar"` (leaf). The
        # optional timestamp tail matched iff m does NOT end at the closing
        # quote — and the timestamp is always the last 16 code points.
        return _let(F.locate('/"', m), lambda slash_at: F.struct(
            F.when(slash_at > 0, F.substring(m, 7, slash_at - 6))
            .otherwise(F.substring(m, 7, F.locate('jar"', m) - 4)).alias("href"),
            (slash_at > 0).alias("is_dir"),
            F.when(
                (slash_at == 0) & (~m.endswith('"')),
                F.substring(m, F.length(m) - 15, 16),
            ).alias("ts_str"),
        ))

    links_all = F.transform(matches, parse_match)

    def finish(la: Column) -> Column:
        # Strict mode: 1-based index of the first leaf link with no listing
        # timestamp (0 = none). Links before it survive; the page is flagged.
        bad_at = F.array_position(
            F.transform(la, lambda l: (~l["is_dir"]) & l["ts_str"].isNull()),
            True,
        )
        return _let(bad_at, lambda bad: F.struct(
            F.when(bad > 0, F.slice(la, 1, (bad - 1).cast("int")))
            .otherwise(la).alias("links"),
            (bad > 0).alias("parse_failed"),
        ))

    return F.when(html.isNull(), F.struct(
        F.lit([]).cast(_EMPTY_LINKS).alias("links"),
        F.lit(False).alias("parse_failed"),
    )).otherwise(_let(links_all, finish))


def dedup_body_extract(keyed, udf, out_col, html_col="html", sha_col="body_sha"):
    """Run an extraction function once per DISTINCT page body (oracled by
    the ``dedup_content_extract`` query).

    ``keyed`` must already carry ``sha_col`` (``sha2(html, 256)``). The bodies
    are grouped on the sha — ``first(html)`` gets a map-side partial combine,
    so the shuffle carries at most one body per distinct hash per input
    partition — the extractor runs over that (much smaller) distinct set, and
    the per-body outputs join back to the URL rows on the sha. Byte-identical
    bodies extract to byte-identical results, so outputs are unchanged vs the
    per-URL path.

    The join-back carries NO broadcast hint on purpose: the distinct-body set
    is unbounded (a low-duplication corpus leaves it nearly the full input),
    so forcing a broadcast is a driver/executor-memory hazard at scale. With
    AQE on (session default) Catalyst converts the post-shuffle join to a
    broadcast at runtime exactly when the distinct side turns out small
    (mirror-heavy corpora), which is the only case the hint would have been
    right. With the JVM extractors the sha+shuffle overhead exceeds the saved
    extraction time at every duplicate rate (bench `dedup_extract` micro),
    which is why the crawl extracts per URL. Returns ``keyed`` minus
    ``html_col``/``sha_col`` plus ``out_col``."""
    per_body = (
        keyed.select(sha_col, html_col)
        .groupBy(sha_col)
        .agg(F.first(html_col).alias(html_col))
        .select(sha_col, udf(F.col(html_col)).alias(out_col))
    )
    return (
        keyed.drop(html_col)
        .join(per_body, sha_col, "inner")
        .drop(sha_col)
    )
