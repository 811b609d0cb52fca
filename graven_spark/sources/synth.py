"""Deterministic synthetic web-graph generator (FIXTURES.md §1-3).

Builds the authoritative ``pages`` input table (BASELINE.json input_hint:
``url, warc_ts, html BINARY, text, lang``) plus ``seeds`` and ``robots``,
as pandas DataFrames. All randomness is hash-derived from the URL string —
no RNG state — so any subset of the graph regenerates identically and the
generator itself parallelizes (bench sizes are built per-host).

The listing HTML is constructed so the reference regex
(/root/reference/graven/worker/crawler.py:24-25) parses it: one anchor per
line, relative child-dir hrefs, leaf ``*.jar`` hrefs followed by
``</a>  YYYY-MM-DD HH:MM``, a ``../`` parent link (must be excluded by the
lookahead), plus noise the regex must ignore. The graph includes
multi-segment duplicate links (same URL reachable from 2+ parents —
exercises the seen-set dedup, crawler.py:82-84) and dead links (URLs with no
``pages`` row — the 404 analog).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

import pandas as pd

from ..core import extract_text_py, stable_hash64

_EPOCH = dt.datetime(2025, 1, 1)
_LANGS = ["en", "de", "ja"]

# Word pool for leaf "document" body text (keeps extracted text non-trivial).
_WORDS = (
    "spark frontier crawl queue shuffle partition broadcast bloom filter "
    "politeness robots host depth priority lineage checkpoint resume arrow "
    "vector batch column parquet iceberg merge join window union dedup"
).split()


@dataclass
class SiteSpec:
    """Shape of one host's directory tree."""

    host: str
    depth: int = 3
    dir_fanout: int = 3
    leaf_fanout: int = 2
    # Fraction knobs are hash-gated per-URL (deterministic, no RNG).
    dead_dir_every: int = 7  # every Nth dir link points at a missing page
    dead_leaf_every: int = 11
    dup_link_every: int = 5  # every Nth dir also links a grandchild directly
    # Every Nth dir page anchors its ANCESTOR (the site root) by absolute
    # URL — FIXTURES.md's "cycles (dir linking to ancestor)". Under the
    # reference's concat absolutization (crawler.py:74,80) the anchor
    # resolves to parent+href — a URL with no pages row — so the back-edge
    # collapses to a dead-link error row; the seen-set dedup is what
    # guarantees the crawl still terminates and fetches no URL twice
    # (asserted in tests/test_crawl_replay.py).
    cycle_every: int = 6
    scheme: str = "https"

    @property
    def root(self) -> str:
        return f"{self.scheme}://{self.host}/maven2/"


@dataclass
class SiteGraph:
    pages: pd.DataFrame  # url, warc_ts, html(bytes), text, lang
    seeds: pd.DataFrame  # seed_rank, url
    robots: pd.DataFrame  # host, disallow_prefixes, crawl_delay_tokens
    specs: list[SiteSpec] = field(default_factory=list)


def _warc_ts(url: str) -> dt.datetime:
    return _EPOCH + dt.timedelta(days=stable_hash64(url) % 365)


def _lang(url: str) -> str:
    return _LANGS[stable_hash64(url + "#lang") % len(_LANGS)]


def _listing_ts(url: str) -> str:
    t = _EPOCH + dt.timedelta(minutes=stable_hash64(url + "#pub") % (365 * 24 * 60))
    return t.strftime("%Y-%m-%d %H:%M")


def _leaf_body(url: str) -> str:
    h = stable_hash64(url + "#body")
    n = 8 + h % 25
    return " ".join(_WORDS[(h + i * 31) % len(_WORDS)] for i in range(n))


def _dir_html(child_dirs: list[str], leaves: list[str], page_url: str) -> str:
    """Directory-listing HTML, one anchor per line (see module docstring)."""
    lines = [
        "<html><head><title>Index</title></head><body>",
        '<h1>Index of listing</h1><hr><pre id="contents">',
        '<a href="../">../</a>',
    ]
    for d in child_dirs:
        lines.append(f'<a href="{d}" title="{d}">{d}</a>' + " " * 17 + "-")
    for leaf in leaves:
        lines.append(
            f'<a href="{leaf}" title="{leaf}">{leaf}</a>  {_listing_ts(page_url + leaf)}  '
            f"{stable_hash64(page_url + leaf) % 99999}"
        )
    # Noise the regex must not match: non-jar file links and a mailto.
    lines.append('<a href="notes.txt">notes.txt</a>  2025-01-01 00:00  17')
    lines.append('<a href="mailto:owner@example.com">contact</a>')
    lines.append("</pre><hr></body></html>")
    return "\n".join(lines)


def generate_site(
    spec: SiteSpec, leaf_texts: list[str] | None = None
) -> tuple[list[dict], list[str]]:
    """Return (page rows, dead urls) for one host, breadth-first.

    ``leaf_texts``: optional corpus — leaf page bodies are drawn from it by
    url-hash (used by ``entry()`` to crawl pages whose content comes from the
    driver's ``documents`` table)."""
    rows: list[dict] = []
    dead: list[str] = []
    frontier = [(spec.root, 0)]
    counter = 0
    while frontier:
        url, depth = frontier.pop(0)
        child_dirs: list[str] = []
        leaves: list[str] = []
        if depth < spec.depth:
            for i in range(spec.dir_fanout):
                counter += 1
                name = f"d{depth}s{i}/"
                if counter % spec.dead_dir_every == 0:
                    dead.append(url + name)  # link emitted, page never created
                    child_dirs.append(name)
                    continue
                child_dirs.append(name)
                frontier.append((url + name, depth + 1))
            # Multi-segment duplicate link: points two levels down at a page
            # another parent also links — same URL reachable from 2+ parents.
            if depth + 2 <= spec.depth and counter % spec.dup_link_every == 0:
                child_dirs.append("d%ds0/d%ds0/" % (depth, depth + 1))
            # Ancestor back-edge (cycle in the logical link graph).
            if depth >= 1 and spec.cycle_every and counter % spec.cycle_every == 0:
                child_dirs.append(spec.root)
                dead.append(url + spec.root)
        for i in range(spec.leaf_fanout):
            counter += 1
            name = f"art{depth}x{i}-1.{counter % 10}.jar"
            leaves.append(name)
            leaf_url = url + name
            if counter % spec.dead_leaf_every == 0:
                dead.append(leaf_url)
                continue
            if leaf_texts:
                content = leaf_texts[stable_hash64(leaf_url) % len(leaf_texts)]
            else:
                content = _leaf_body(leaf_url)
            body = f"<html><body><p>{content}</p></body></html>"
            rows.append(_page_row(leaf_url, body))
        html = _dir_html(child_dirs, leaves, url)
        rows.append(_page_row(url, html))
    return rows, dead


def _page_row(url: str, html: str) -> dict:
    return {
        "url": url,
        "warc_ts": _warc_ts(url),
        "html": html.encode("utf-8"),
        "text": extract_text_py(html),
        "lang": _lang(url),
    }


def smoke_specs() -> list[SiteSpec]:
    """t1 smoke: 1 host, ~200 pages."""
    return [SiteSpec("host0.example.com", depth=3, dir_fanout=3, leaf_fanout=2)]


def mini_specs() -> list[SiteSpec]:
    """3 small hosts of different depths — staggered per-host completion
    rounds for the domain-lifecycle checks, fast enough for per-round
    CORRECTNESS queries."""
    return [
        SiteSpec("host0.example.com", depth=3, dir_fanout=2, leaf_fanout=2),
        SiteSpec("host1.example.com", depth=2, dir_fanout=2, leaf_fanout=2),
        SiteSpec("host2.example.com", depth=1, dir_fanout=2, leaf_fanout=1),
    ]


def correctness_specs() -> list[SiteSpec]:
    """t2 correctness: 8 hosts, ~5k pages, skewed (host0 ≈ half the URLs)."""
    specs = [SiteSpec("host0.example.com", depth=4, dir_fanout=6, leaf_fanout=3)]
    for i in range(1, 8):
        specs.append(
            SiteSpec(f"host{i}.example.com", depth=3, dir_fanout=3, leaf_fanout=2)
        )
    return specs


def bench_specs(n_hosts: int = 64, depth: int = 4, fanout: int = 5) -> list[SiteSpec]:
    """Bench: ≥200k pages across n_hosts, host0 heavily skewed."""
    specs = [SiteSpec("host0.example.com", depth=depth + 1, dir_fanout=fanout + 2, leaf_fanout=4)]
    for i in range(1, n_hosts):
        specs.append(
            SiteSpec(f"host{i}.example.com", depth=depth, dir_fanout=fanout, leaf_fanout=3)
        )
    return specs


def generate_graph(
    specs: list[SiteSpec],
    host_budget: int = 8,
    disallow_every: int = 4,
    leaf_texts: list[str] | None = None,
) -> SiteGraph:
    """Build the full fixture set for a list of hosts.

    robots: every ``disallow_every``-th host blocks its ``d0s1/`` subtree —
    exercises the robots gate on a prefix that exists — and all hosts share a
    per-round ``crawl_delay_tokens`` fetch budget.
    """
    all_rows: list[dict] = []
    seeds = []
    robots = []
    for rank, spec in enumerate(specs):
        rows, _dead = generate_site(spec, leaf_texts=leaf_texts)
        all_rows.extend(rows)
        seeds.append({"seed_rank": rank, "url": spec.root.rstrip("/")})  # no slash:
        # canonicalization (crawler.py:152,195) must add it back.
        disallow = (
            ["/maven2/d0s1/"] if rank % disallow_every == 0 and rank > 0 else []
        )
        robots.append(
            {
                "host": spec.host,
                "disallow_prefixes": disallow,
                "crawl_delay_tokens": host_budget,
            }
        )
    pages = pd.DataFrame(all_rows).drop_duplicates(subset=["url"]).reset_index(drop=True)
    # Spark's parquet reader rejects TIMESTAMP(NANOS) — keep microseconds.
    pages["warc_ts"] = pages["warc_ts"].astype("datetime64[us]")
    return SiteGraph(
        pages=pages,
        seeds=pd.DataFrame(seeds),
        robots=pd.DataFrame(robots),
        specs=specs,
    )
