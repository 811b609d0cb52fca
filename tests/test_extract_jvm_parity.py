"""Parity of the JVM extraction expressions vs the pure-Python kernels
(core.extract_links_strict_py / core.extract_text_py), the byte-identical
extraction invariant (BASELINE.json input_hint): on the synthetic graph's
pages, and differentially on adversarial documents — Python-vs-Java regex
divergence classes (Unicode whitespace, 0x1c-0x1f controls, Unicode digits,
\\r / NEL line semantics for ``.``), strict-failure truncation, NULLs, and
random fuzz documents."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from graven_spark.core import extract_links_strict_py, extract_text_py
from graven_spark.functions.extract import extract_links, extract_text

ADVERSARIAL = [
    '<a href="sub/">sub/</a>  <a href="x.jar">x.jar</a>  2024-01-02 12:33',
    '<a href="../">../</a><a href="a/">a</a>',
    '<a href="bad.jar">bad</a> no timestamp <a href="after/">after</a>',
    '<a href="y.jar">y</a></a>  2024-01-02 12:33',
    'href="z.jar" </a> 2024-01-02 12:33',   # NEL: Java-only "." excl.
    'href="w.jar" </a>\x1c 2024-01-02 12:33',     # FS: Python-only \\s
    'href="w2.jar" </a>\x1d\x1e\x1f 2024-01-02 12:33',
    'href="v.jar" </a>\xa0 2024-01-02 12:33',     # NBSP whitespace
    'href="u.jar" </a> ٢024-01-02 12:33',    # Arabic-Indic digit
    'href="u2.jar" </a> ۲۰۲۴-01-02 12:33',  # all-Nd ts
    'href="t.jar" </a>\r 2024-01-02 12:33',       # \\r vs dot/UNIX_LINES
    'href="t2.jar" </a>x  2024-01-02 12:33', # LS line separator
    'href="s.jar" x</a> 2024-01-02 12:33\nhref="d/" next line',
    'href="q.jar"',
    "<html><h1>Index of /x</h1></html>",
    "",
    'href="r/" then href="m.jar" noquote',
    'href="")" href="k.jar" </a> 9999-12-31 23:59',
    'href="世界/">x</a>',
    'href="nested “quote”.jar" </a> 2020-02-02 02:02',
    'href="a/"</a>2024-01-02 12:33',              # ts with no whitespace
    'href="a/">x</a> 2024-01-02 12:3',            # truncated ts
    'href="..x/">legal, lookahead is ".." only</a>',
    'two: href="p/" href="l.jar" </a> 2020-01-01 00:00 href="m.jar"',
]


def _expected(b):
    if b is None:
        return [], False, None
    links, failed = extract_links_strict_py(b)
    return [(l.href, l.is_dir, l.ts_str) for l in links], failed, extract_text_py(b)


def _check(spark, bodies: list[bytes | None]):
    df = spark.createDataFrame(
        [(i, b) for i, b in enumerate(bodies)], "i long, html binary"
    )
    rows = df.select(
        "i",
        extract_links(F.col("html")).alias("e"),
        extract_text(F.col("html")).alias("t"),
    ).collect()
    for r in rows:
        exp_links, exp_failed, exp_text = _expected(bodies[r.i])
        got_links = [(l.href, l.is_dir, l.ts_str) for l in r.e.links]
        assert got_links == exp_links, (r.i, bodies[r.i])
        assert r.e.parse_failed == exp_failed, (r.i, bodies[r.i])
        assert r.t == exp_text, (r.i, bodies[r.i])


def test_adversarial_documents(spark):
    bodies = [d.encode("utf-8") for d in ADVERSARIAL] + [None]
    _check(spark, bodies)


def test_fuzz_documents(spark):
    """Random documents over an alphabet biased toward the regex's trigger
    tokens and the known Python/Java divergence characters."""
    rng = random.Random(1206)
    tokens = [
        'href="', '"', "/", "jar", ".jar", "../", "</a>", "<a>", ">", "<",
        " ", "\t", "\n", "\r", "\x1c", "\x1f", "", "\xa0", " ",
        " ", "　", "2024-01-02 12:33", "0000-00-00 00:00",
        "٢", "x", "dir0/", "lib-1.jar", "-", ":", "9", "é", "世",
    ]
    bodies = []
    for _ in range(300):
        n = rng.randint(0, 40)
        bodies.append("".join(rng.choice(tokens) for _ in range(n)).encode())
    _check(spark, bodies)


@pytest.mark.parametrize("n", [3])
def test_fuzz_structured_listings(spark, n):
    """Realistic listing pages with per-line corruption."""
    rng = random.Random(42 + n)
    bodies = []
    for _ in range(150):
        lines = ["<html><h1>Index of /r</h1><pre>"]
        for j in range(rng.randint(0, 12)):
            kind = rng.randrange(6)
            if kind == 0:
                lines.append(f'<a href="d{j}/">d{j}/</a>')
            elif kind == 1:
                lines.append(
                    f'<a href="l{j}.jar">l{j}.jar</a>  2024-0{1 + j % 9}-11 08:0{j % 10}'
                )
            elif kind == 2:
                lines.append(f'<a href="l{j}.jar">no ts</a>')
            elif kind == 3:
                lines.append(f'<a href="../">up</a> <a href="x{j}/">x</a>')
            elif kind == 4:
                lines.append(f'<a href="l{j}.jar">l</a>\x1c 2024-01-11 08:00')
            else:
                lines.append("plain text 123")
        lines.append("</pre></html>")
        bodies.append("\n".join(lines).encode())
    _check(spark, bodies)


def test_extract_text_udf_byte_identical(spark, smoke_graph):
    df = spark.createDataFrame(smoke_graph.pages[["url", "html"]])
    got = {r.url: r.t for r in df.select("url", extract_text(F.col("html")).alias("t")).collect()}
    for r in smoke_graph.pages.itertuples():
        assert got[r.url] == extract_text_py(r.html) == r.text


def test_extract_links_udf_matches_python(spark, smoke_graph):
    df = spark.createDataFrame(smoke_graph.pages[["url", "html"]])
    got = {
        r.url: (r.e.links, r.e.parse_failed)
        for r in df.select("url", extract_links(F.col("html")).alias("e")).collect()
    }
    for r in smoke_graph.pages.itertuples():
        links, failed = extract_links_strict_py(r.html)
        g_links, g_failed = got[r.url]
        assert g_failed == failed
        assert [(l.href, l.is_dir, l.ts_str) for l in g_links] == [
            (l.href, l.is_dir, l.ts_str) for l in links
        ]
