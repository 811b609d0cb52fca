"""Single-threaded reference-faithful crawl oracle (SURVEY.md §5.1).

A ~150-line faithful re-implementation of the reference crawl loop — FIFO
queue semantics (/root/reference/graven/worker/crawler.py:52,70-96,130-163)
plus the UNIQUE-key URL-seen set (/root/reference/graven/db/graven_database.py:103-115)
— extended with the round/politeness semantics the north_rule adds (per-host
token budgets, robots gating), which the reference approximates with a global
request cap (crawler.py:27).

The oracle runs in plain Python over the synthetic ``pages`` table and records
per-round frontier snapshots, the final URL-seen set, results, errors and
lineage. pytest asserts the Spark engine reproduces all of them exactly.

Semantic choices pinned here (and documented in SURVEY.md §7.4):
- intra-level ordering is the single-threaded FIFO order (the reference's
  thread pool makes it racy; we define it);
- directory URLs are deduped too (the reference only seen-checks leaf jar
  URLs and relies on Maven's acyclic listings; FIXTURES graphs contain
  duplicate multi-parent links, so "no URL fetched twice" requires it);
- a leaf ``*.jar`` href with no trailing listing timestamp aborts that page's
  parse (the reference raises AttributeError on ``match.group(3).strip()``,
  crawler.py:91, caught at crawler.py:119-125 → error log).
"""

from __future__ import annotations

import datetime as dt
import json
from dataclasses import dataclass, field

from .core import (
    LISTING_TS_FORMAT,
    PRIORITY_STRIDE,
    SEED_PRIORITY_BASE,
    canonicalize_url,
    extract_links_strict_py,
    extract_text_py,
    robots_blocked,
    url_host,
    url_path,
)


def details_json(**kw) -> str:
    """Error ``details`` exactly as the engine's to_json(struct(...)) emits
    it: insertion-ordered keys, null fields omitted, no whitespace."""
    return json.dumps(
        {k: v for k, v in kw.items() if v is not None}, separators=(",", ":")
    )


@dataclass
class FrontierRow:
    url: str
    host: str
    depth: int
    priority: int
    parent_url: str | None
    discovery_idx: int
    retry_count: int = 0


@dataclass
class OracleRun:
    frontier_snapshots: list[list[FrontierRow]] = field(default_factory=list)
    seen: set[str] = field(default_factory=set)
    results: list[dict] = field(default_factory=list)
    errors: list[dict] = field(default_factory=list)
    lineage: list[dict] = field(default_factory=list)


def crawl_oracle(
    pages: dict[str, dict],
    seeds: list[str],
    robots: dict[str, dict] | None = None,
    default_host_budget: int = 1 << 30,
    max_rounds: int = 1 << 20,
    max_retries: int = 0,
    jar_limit: int | None = None,
) -> OracleRun:
    """Run the reference-faithful crawl; ``pages`` maps url → page row dict
    with at least ``html`` (bytes); ``robots`` maps host →
    {disallow_prefixes, crawl_delay_tokens}. ``max_retries``: failed dir
    fetches re-enter the next frontier with retry_count+1 (U4, reference
    requeue /root/reference/graven/worker/generator.py:71-76); every failed
    attempt logs an error row. ``jar_limit``: global per-round fetch cap
    (T3, reference downloader.py:60,188-195 semaphore) — the first
    jar_limit selected URLs in priority order fetch, the rest defer."""
    robots = robots or {}
    run = OracleRun()

    def blocked(url: str) -> bool:
        rule = robots.get(url_host(url))
        return robots_blocked(url_path(url), rule["disallow_prefixes"] if rule else None)

    def budget(host: str) -> int:
        rule = robots.get(host)
        return int(rule["crawl_delay_tokens"]) if rule else default_host_budget

    # Seed admission (reference: crawler.py:189-203, seeds consumed in file
    # order — seed_rank is the priority between roots, cli_parser.py:246-259).
    frontier: list[FrontierRow] = []
    for rank, raw in enumerate(seeds):
        url = canonicalize_url(raw)
        if url in run.seen or blocked(url):
            continue
        run.seen.add(url)
        frontier.append(FrontierRow(url, url_host(url), 0, rank, None, rank))

    priority_base = SEED_PRIORITY_BASE
    round_no = 0
    while frontier and round_no < max_rounds:
        run.frontier_snapshots.append(sorted(frontier, key=lambda r: r.priority))
        # Politeness selection: per host, the budget-many smallest priorities.
        frontier.sort(key=lambda r: r.priority)
        taken: dict[str, int] = {}
        selected: list[FrontierRow] = []
        deferred: list[FrontierRow] = []
        for row in frontier:
            if taken.get(row.host, 0) < budget(row.host):
                taken[row.host] = taken.get(row.host, 0) + 1
                selected.append(row)
            else:
                deferred.append(row)
        if not selected:
            # every pending host has budget ≤ 0: no progress is possible —
            # fail fast exactly like the engine (frontier.py _advance)
            # instead of spinning max_rounds no-op rounds
            raise RuntimeError(
                "frontier non-empty but nothing selected — politeness "
                "budget must be ≥ 1 per active host"
            )
        if jar_limit is not None and jar_limit < 1:
            raise ValueError("jar_limit must be >= 1")
        if jar_limit is not None and len(selected) > jar_limit:
            # T3 global cap: over-limit rows defer with priority intact
            deferred = deferred + selected[jar_limit:]
            selected = selected[:jar_limit]

        new_dirs: list[FrontierRow] = []
        retries: list[FrontierRow] = []
        bytes_fetched = 0
        urls_out = 0
        # FIFO fetch order within the round = priority order; parent fifo
        # rank feeds the children's priorities (core.py arithmetic).
        for rank, row in enumerate(selected):
            page = pages.get(row.url)
            if page is None:  # dead link — 404 analog (crawler.py:119-125)
                run.errors.append(
                    {"round": round_no, "url": row.url, "stage": "crawler",
                     "reason": "fetch_failed",
                     "details": details_json(
                         attempt=row.retry_count + 1,
                         parent_url=row.parent_url, depth=row.depth)}
                )
                if row.retry_count < max_retries:  # U4 requeue
                    retries.append(
                        FrontierRow(row.url, row.host, row.depth, row.priority,
                                    row.parent_url, row.discovery_idx,
                                    row.retry_count + 1)
                    )
                continue
            html = page["html"]
            bytes_fetched += len(html)
            links, parse_failed = extract_links_strict_py(html)
            if parse_failed:
                run.errors.append(
                    {"round": round_no, "url": row.url,
                     "stage": "crawler", "reason": "parse_failed",
                     "details": details_json(
                         parent_url=row.parent_url, depth=row.depth)}
                )
            for idx, link in enumerate(links):
                child = row.url + link.href  # absolutize (crawler.py:74,80)
                prio = priority_base + rank * PRIORITY_STRIDE + idx
                if link.is_dir:
                    if child in run.seen or blocked(child):
                        continue
                    run.seen.add(child)
                    urls_out += 1
                    new_dirs.append(
                        FrontierRow(child, url_host(child), row.depth + 1,
                                    prio, row.url, idx)
                    )
                else:
                    if child in run.seen or blocked(child):
                        continue
                    run.seen.add(child)
                    urls_out += 1
                    leaf_page = pages.get(child)
                    if leaf_page is None:
                        run.errors.append(
                            {"round": round_no, "url": child,
                             "stage": "download", "reason": "fetch_failed",
                             "details": details_json(
                                 parent_url=row.url, depth=row.depth + 1)}
                        )
                        continue
                    run.results.append(
                        {
                            "url": child,
                            "warc_ts": leaf_page["warc_ts"],
                            "text": extract_text_py(leaf_page["html"]),
                            "lang": leaf_page["lang"],
                            "depth": row.depth + 1,
                            "round": round_no,
                            "publish_ts": dt.datetime.strptime(
                                link.ts_str, LISTING_TS_FORMAT
                            ),
                        }
                    )
        run.lineage.append(
            {
                "round": round_no,
                "urls_in": len(selected),
                "urls_out": urls_out,
                "bytes_fetched": bytes_fetched,
            }
        )
        priority_base += len(selected) * PRIORITY_STRIDE
        frontier = deferred + new_dirs + retries
        round_no += 1
    return run


def domains_oracle(run: OracleRun) -> dict[str, tuple[str, int, int | None]]:
    """Fold the frontier snapshots into the expected domain-lifecycle table:
    host → (status, start_round, end_round). A host is IN_PROGRESS while
    present in the frontier; its first absence stamps COMPLETED/end_round;
    re-discovery re-opens it. The engine computes the same table with
    frontier.py:fold_domains, once per commit over the commit's depths.

    Assumes the crawl ran to frontier exhaustion (the trailing empty state);
    for a max_rounds-truncated run compare against the engine's domains at
    the truncation round instead."""
    states = [{r.host for r in snap} for snap in run.frontier_snapshots]
    states.append(set())  # the final committed state dir holds the empty frontier
    out: dict[str, tuple[str, int, int | None]] = {}
    for k, hosts in enumerate(states):
        for h in set(out) | hosts:
            prev = out.get(h)
            if h in hosts:
                out[h] = ("IN_PROGRESS", prev[1] if prev else k, None)
            else:
                _status, start, end = prev
                out[h] = ("COMPLETED", start, end if end is not None else k)
    return out
