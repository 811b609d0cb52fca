"""Seeded workload inputs, cached per (workload, scale, seed), with the
answers the benchmark checks against stored beside them.

Everything here is plain Python (no Spark): the synthetic graph comes from
``graven_spark.sources.synth``, the crawl answer from
``graven_spark.oracle.crawl_oracle`` and the mega-round answer from an exact,
Bloom-free reference written below. Generation time is never part of a
metric.

The seed renames every host and permutes which host gets which tree shape
(and which seed rank), so URL hashes, bucket placement and Bloom bits move
while the multiset of shapes -- and so the page count -- stays fixed.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from graven_spark.core import (
    PRIORITY_STRIDE, extract_links_strict_py, stable_hash64, url_host,
)
from graven_spark.oracle import crawl_oracle
from graven_spark.sources import synth

# Tree shapes (depth, dir_fanout, leaf_fanout). The first entry is the
# skewed host; the rest are permuted over the other hosts per seed.
SHAPES = {
    ("crawl", "full"): [(2, 12, 3)] + [(2, 6, 2)] * 15,
    ("crawl", "toy"): [(3, 3, 2)] + [(2, 3, 2)] * 2 + [(1, 3, 2)],
    ("polite", "full"): [(3, 6, 3)] + [(3, 5, 2)] * 3 + [(3, 4, 3)] * 4
    + [(3, 4, 2)] * 4 + [(2, 5, 3)] * 4,
    ("polite", "toy"): [(3, 3, 2)] + [(2, 3, 2)] * 2 + [(1, 3, 2)],
    ("mega", "full"): [(4, 8, 3)] + [(4, 5, 3)] * 10 + [(4, 6, 3)] * 2,
    ("mega", "toy"): [(3, 4, 2)] + [(2, 4, 2)] * 3,
}

# Per-round fetch budgets (robots crawl_delay_tokens). The skewed host gets a
# budget that binds; every other host one no host reaches, so politeness
# still computes their thresholds. schedule_mega: the skewed host fetches
# this many of its directory pages in the one round. crawl_polite: the
# skewed host defers most of its deepest level for several rounds.
SKEW_BUDGET = {("mega", "full"): 2000, ("mega", "toy"): 8,
               ("polite", "full"): 64, ("polite", "toy"): 16}
OPEN_BUDGET = 1 << 20
# crawl_polite: every DISALLOW_EVERY-th host blocks its d0s1/ subtree (as in
# synth.generate_graph), and failed directory fetches requeue once.
DISALLOW_EVERY = 4
POLITE_RETRIES = 1

SEEN_SHARE = 3  # mega-round: url is pre-seen iff stable_hash64 % 10 < 3

_TLDS = ["com", "org", "net", "io", "dev"]


# -- Spark-compatible xxhash64 (seed 42 for xxhash64(col, ...)) -------------
_M = (1 << 64) - 1
_P1, _P2 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F
_P3, _P4, _P5 = 0x165667B19E3779F9, 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def _xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` (unsigned result), as Spark's XXH64 computes it."""
    n, i, seed = len(data), 0, seed & _M
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed, (seed - _P1) & _M]
        while i <= n - 32:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    return h ^ (h >> 32)


def _signed(h: int) -> int:
    return h - (1 << 64) if h >> 63 else h


def xxhash64(*values: str | int) -> int:
    """``F.xxhash64`` over string and bigint values, as a signed long."""
    h = 42
    for v in values:
        data = v.encode("utf-8") if isinstance(v, str) else (v & _M).to_bytes(8, "little")
        h = _xxh64(data, h)
    return _signed(h)


def xor_digest(keys) -> int:
    """Order-free digest of a set: the xor of each key tuple's xxhash64 --
    what ``F.bit_xor(F.xxhash64(...))`` computes on the Spark side."""
    d = 0
    for key in keys:
        d ^= xxhash64(*key)
    return d


# -- graph generation ---------------------------------------------------------
def seeded_specs(kind: str, scale: str, seed: int) -> list[synth.SiteSpec]:
    """Host specs for one seed, listed in seed-rank order."""
    rng = random.Random(f"{kind}/{scale}/{seed}")
    shapes = list(SHAPES[(kind, scale)])
    rest = shapes[1:]
    rng.shuffle(rest)
    shapes = [shapes[0]] + rest
    specs = []
    for i, (depth, fan, leaf) in enumerate(shapes):
        name = f"h{i}-{rng.getrandbits(32):08x}.example.{rng.choice(_TLDS)}"
        specs.append(synth.SiteSpec(name, depth=depth, dir_fanout=fan, leaf_fanout=leaf))
    rng.shuffle(specs)  # the skewed host lands at a seeded seed rank
    return specs


def _graph(specs: list[synth.SiteSpec]) -> tuple[pd.DataFrame, pd.DataFrame]:
    rows = []
    for spec in specs:
        rows.extend(synth.generate_site(spec)[0])
    pages = pd.DataFrame(rows).drop_duplicates(subset=["url"]).reset_index(drop=True)
    pages["warc_ts"] = pages["warc_ts"].astype("datetime64[us]")
    seeds = pd.DataFrame(
        [{"seed_rank": r, "url": s.root.rstrip("/")} for r, s in enumerate(specs)]
    )
    return pages, seeds


def _robots(specs: list[synth.SiteSpec], kind: str, scale: str) -> pd.DataFrame:
    skewed = max(specs, key=lambda s: (s.depth, s.dir_fanout))
    return pd.DataFrame([
        {"host": s.host,
         "disallow_prefixes": ["/maven2/d0s1/"]
         if kind == "polite" and i % DISALLOW_EVERY == DISALLOW_EVERY - 1 else [],
         "crawl_delay_tokens": SKEW_BUDGET[(kind, scale)] if s is skewed else OPEN_BUDGET}
        for i, s in enumerate(specs)
    ])


def _write_pages(pages: pd.DataFrame, path: str, files: int = 8) -> None:
    """Pages as several parquet files, so the fetch scan has parallelism."""
    os.makedirs(path)
    table = pa.Table.from_pandas(pages, preserve_index=False)
    step = -(-table.num_rows // files)
    for f in range(files):
        pq.write_table(table.slice(f * step, step), os.path.join(path, f"part-{f:02d}.parquet"))


# -- answers ------------------------------------------------------------------
def crawl_answer(pages: pd.DataFrame, seeds: pd.DataFrame, robots: pd.DataFrame | None,
                 max_retries: int) -> dict:
    """The oracle crawl: the seen-set digest and size, the results count and
    the frontier size entering every depth."""
    run = crawl_oracle(
        {r.url: {"html": r.html, "warc_ts": r.warc_ts.to_pydatetime(), "lang": r.lang}
         for r in pages.itertuples()},
        list(seeds.sort_values("seed_rank")["url"]),
        robots=None if robots is None else {
            r.host: {"disallow_prefixes": list(r.disallow_prefixes),
                     "crawl_delay_tokens": r.crawl_delay_tokens}
            for r in robots.itertuples()},
        max_retries=max_retries,
    )
    return {
        "seen_n": len(run.seen),
        "seen_digest": xor_digest((u,) for u in run.seen),
        "results_n": len(run.results),
        "frontier_counts": [len(s) for s in run.frontier_snapshots],
    }


def mega_answer(pages: pd.DataFrame, robots: pd.DataFrame, seen: set[str]) -> dict:
    """Exact, Bloom-free mega-round: every host's ``budget`` directory pages
    with the smallest ``xxhash64(url)`` ranked by it, their links extracted,
    each child keeping its smallest ``rank * STRIDE + link index``, minus the
    pre-seen urls."""
    budget = dict(zip(robots["host"], robots["crawl_delay_tokens"]))
    by_host: dict[str, list] = {}
    for url, html in zip(pages["url"], pages["html"]):
        if url.endswith("/"):
            by_host.setdefault(url_host(url), []).append((xxhash64(url), url, html))
    selected = sorted(t for host, rows in by_host.items()
                      for t in sorted(rows)[:budget[host]])
    best: dict[str, int] = {}
    for rank, (_h, url, html) in enumerate(selected):
        links, _failed = extract_links_strict_py(html)
        for idx, link in enumerate(links):
            child, prio = url + link.href, rank * PRIORITY_STRIDE + idx
            if child not in best or prio < best[child]:
                best[child] = prio
    admitted = [(u, p) for u, p in best.items() if u not in seen]
    return {
        "selected_n": len(selected),
        "admitted_n": len(admitted),
        "admitted_digest": xor_digest(admitted),
    }


# -- the cache ----------------------------------------------------------------
@dataclass
class Inputs:
    """Paths of one workload's cached inputs plus its expected answer."""

    dir: str
    answer: dict

    @property
    def pages(self) -> str:
        return os.path.join(self.dir, "pages")

    @property
    def seeds(self) -> str:
        return os.path.join(self.dir, "seeds.parquet")

    @property
    def robots(self) -> str:
        return os.path.join(self.dir, "robots.parquet")

    @property
    def seen(self) -> str:
        return os.path.join(self.dir, "seen.parquet")


def ensure_inputs(cache_root: str, kind: str, scale: str, seed: int) -> Inputs:
    """Generate (once) and return the inputs for a ``kind`` in
    {crawl, polite, mega}."""
    d = os.path.join(cache_root, f"{kind}-{scale}-s{seed}")
    done = os.path.join(d, "answer.json")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        specs = seeded_specs(kind, scale, seed)
        pages, seeds = _graph(specs)
        _write_pages(pages, os.path.join(d, "pages"))
        seeds.to_parquet(os.path.join(d, "seeds.parquet"), index=False)
        robots = None if kind == "crawl" else _robots(specs, kind, scale)
        if robots is not None:
            robots.to_parquet(os.path.join(d, "robots.parquet"), index=False)
        if kind != "mega":
            answer = crawl_answer(pages, seeds, robots,
                                  POLITE_RETRIES if kind == "polite" else 0)
        else:
            urls = [u for u in pages["url"] if stable_hash64(u) % 10 < SEEN_SHARE]
            pd.DataFrame({"url_hash": [xxhash64(u) for u in urls], "url": urls}).to_parquet(
                os.path.join(d, "seen.parquet"), index=False
            )
            answer = mega_answer(pages, robots, set(urls))
        answer["pages_n"] = len(pages)
        tmp = done + ".tmp"
        with open(tmp, "w") as f:
            json.dump(answer, f)
        os.replace(tmp, done)
    with open(done) as f:
        return Inputs(d, json.load(f))
