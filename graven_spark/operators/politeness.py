"""Per-host politeness token buckets + robots.txt gating (north_rule;
reference analog: global 100-request cap,
/root/reference/graven/worker/crawler.py:27).

Selection is **threshold-based** so the full frontier never shuffles:

1. ``groupBy(host).count()`` (map-side combined — tiny shuffle of one row
   per host), with the per-host budgets broadcast-joined onto its one row
   per host (the only read of the robots frame), splits hosts into
   *within-budget* (everything selected, no further work) and
   *over-budget* — a budget ≤ 0 host always lands here;
2. over-budget hosts' rows — and only those — are pruned by a salted
   `(host, salt)` window to ≤ ``n_salts × budget`` rows per host (the hot
   host spreads over ``n_salts`` slices), then a per-host ``row_number``
   window over the pruned rows picks the **selection threshold** (the
   budget-th smallest priority) — one JVM window, no Python worker;
3. the frontier gets its ``selected`` flag from a broadcast join of the
   per-host thresholds — no full-row shuffle, no Python round-trip, no
   multi-million-row broadcast.

Priorities are unique (core.py arithmetic), so ``priority ≤ threshold``
selects exactly ``budget`` rows per over-budget host — deterministic FIFO.

Rows not selected stay in the frontier for the next round (backpressure is
structural, not sleep-based as in the reference's cache backoff,
/root/reference/graven/worker/downloader.py:149-153).

Robots gating (``gate_robots``) happens at admission time: blocked URLs never
enter the frontier at all. The rules table is tiny → broadcast hash join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DEFAULT_BUDGET = 1 << 30  # effectively unlimited when no robots row exists
_MAX_PRIO = (1 << 63) - 1  # Long.MaxValue — priorities span the full int64 range
_MIN_PRIO = -(1 << 63)  # Long.MinValue — a threshold that selects nothing


def gate_robots(candidates: DataFrame, robots: DataFrame | None, url_col: str = "url") -> DataFrame:
    """Drop candidates whose URL path starts with a disallowed prefix for its
    host. Keeps hosts with no robots row.

    Dispatches on the robots frame's shape: a ``rules`` column means the
    RFC 9309 table built by ``functions.robots.rules_from_robots_pages``
    (wildcards + longest-match precedence, JVM-side); the legacy
    ``disallow_prefixes`` shape keeps its simple prefix semantics."""
    if robots is None:
        return candidates
    if "rules" in robots.columns:
        from ..functions.robots import gate_robots_rfc

        return gate_robots_rfc(candidates, robots, url_col=url_col)
    rules = robots.select("host", "disallow_prefixes")
    from ..functions.canon import path_of

    path = path_of(F.col(url_col))
    blocked = F.exists(
        F.coalesce(F.col("disallow_prefixes"), F.array()),
        lambda p: path.startswith(p),
    )
    return (
        candidates.join(F.broadcast(rules), "host", "left")
        .filter(~blocked)
        .drop("disallow_prefixes")
    )


def rfc_delay_budgets(robots: DataFrame, delay_window_s: float) -> DataFrame:
    """RFC rules table (``crawl_delay`` seconds per request) → per-host
    round budget: one round models ``delay_window_s`` seconds of wall time,
    so a host granting one request per ``d`` seconds gets
    ``max(1, floor(window / d))`` fetches per round — floored at 1 so a
    delay longer than the window slows a host, never starves it. Hosts
    without a Crawl-delay line get NULL (caller coalesces to the default
    budget)."""
    d = F.col("crawl_delay")
    return robots.select(
        "host",
        F.when(
            d.isNotNull() & (d > 0),
            F.greatest(F.lit(1), F.floor(F.lit(float(delay_window_s)) / d)),
        ).cast("long").alias("_budget"),
    )


def host_thresholds(
    frontier: DataFrame,
    robots: DataFrame | None,
    default_budget: int,
    n_salts: int,
    delay_window_s: float | None = None,
) -> DataFrame:
    """Per-host selection thresholds: (host, _thr). Hosts within budget get
    no row (select everything); over-budget hosts get the budget-th smallest
    priority via salted prune + a per-host row_number window, and budget ≤ 0
    hosts ``_MIN_PRIO`` (select nothing).

    Per-host budgets come from the robots frame's shape: a legacy
    ``crawl_delay_tokens`` column is taken as-is; an RFC table's
    ``crawl_delay`` (seconds) converts via :func:`rfc_delay_budgets` when
    ``delay_window_s`` is set (without it, RFC Crawl-delay lines are inert
    and every host gets the default budget)."""
    budgets = None
    if robots is not None and "crawl_delay_tokens" in robots.columns:
        budgets = robots.select(
            "host", F.col("crawl_delay_tokens").cast("long").alias("_budget")
        )
    elif (
        robots is not None
        and delay_window_s is not None
        and "crawl_delay" in robots.columns
    ):
        budgets = rfc_delay_budgets(robots, delay_window_s)
    # budgets join the one-row-per-host counts, not the frontier: that join
    # is the only read of robots.
    counts = frontier.groupBy("host").agg(F.count("*").alias("_n"))
    budget = F.lit(default_budget)
    if budgets is not None:
        counts = counts.join(F.broadcast(budgets), "host", "left")
        budget = F.coalesce(F.col("_budget"), budget)
    # A budget ≤ 0 host is over budget too (n ≥ 1): it keeps one row through
    # the prune and gets a threshold below every real priority — it must not
    # drop out of ``over``, whose missing row would mean "select everything".
    over = (
        counts.withColumn("_budget", budget)
        .filter(F.col("_n") > F.col("_budget"))
        .select("host", "_budget", F.greatest(F.col("_budget"), F.lit(1)).alias("_keep"))
    )

    # Only over-budget hosts' rows shuffle; everyone else is done already.
    big = frontier.select("host", "url", "priority").join(F.broadcast(over), "host")
    salt = F.pmod(F.xxhash64("url"), F.lit(n_salts))
    w = Window.partitionBy(F.col("host"), salt).orderBy("priority")
    pruned = (
        big.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.col("_keep"))
        .select("host", "priority", "_budget", "_keep")
    )

    # an over-budget host keeps ≥ _keep rows through the per-salt prune,
    # so its row numbered _keep always exists
    wh = Window.partitionBy("host").orderBy("priority")
    return (
        pruned.withColumn("_rn", F.row_number().over(wh))
        .filter(F.col("_rn") == F.col("_keep"))
        .select("host", F.when(F.col("_budget") > 0, F.col("priority"))
                .otherwise(F.lit(_MIN_PRIO)).alias("_thr"))
    )


def _flag_selected(frontier: DataFrame, thr: DataFrame) -> DataFrame:
    """Frontier + ``selected`` = priority ≤ the host's ``_thr`` (broadcast
    join; a host without a threshold row selects everything)."""
    return (
        frontier.join(F.broadcast(thr), "host", "left")
        .withColumn(
            "selected",
            F.col("priority") <= F.coalesce(F.col("_thr"), F.lit(_MAX_PRIO)),
        )
        .select(*frontier.columns, "selected")
    )


def select_round_bytes(
    frontier: DataFrame,
    byte_budget: int,
    bytes_col: str = "est_bytes",
    min_row_bytes: int | None = None,
    n_salts: int = 8,
) -> DataFrame:
    """Byte-cost token bucket (SURVEY.md §4.2.3 — the case the count-based
    window CANNOT express): per host, admit rows in priority order while the
    cumulative ``bytes_col`` stays ≤ ``byte_budget``; the first row is always
    admitted (progress guarantee — a single oversized page must not starve
    its host forever). Returns the frontier + ``selected``.

    Scale shape mirrors :func:`select_round`: hosts whose TOTAL bytes fit
    the budget are selected by one map-side-combinable sum (no further
    work); only over-budget hosts' rows reach a per-host running-sum
    window, which yields one threshold row per host (the largest admitted
    priority) — the frontier gets its flag from a broadcast threshold join,
    never a full-row shuffle. A NULL ``bytes_col`` row is admitted only as
    its host's first row and adds nothing to the running total. When
    ``min_row_bytes`` is known, over-budget hosts' rows are first pruned by
    a salted window to ``n_salts × (ceil(budget/min_row_bytes)+1)`` rows (a
    hot host's 10^7 rows never reach one window partition)."""
    sums = frontier.groupBy("host").agg(F.sum(F.col(bytes_col)).alias("_tot"))
    over = sums.filter(F.col("_tot") > byte_budget).select("host")
    big = frontier.select("host", "priority", bytes_col).join(F.broadcast(over), "host")
    if min_row_bytes:
        # the admitted prefix holds ≤ ceil(budget/min)+1 rows, so keeping
        # that many per (host, salt) slice provably preserves every admitted
        # row (same argument as the count-budget prune above)
        cap = -(-byte_budget // min_row_bytes) + 1  # ceil + progress row
        salt = F.pmod(F.xxhash64("priority"), F.lit(n_salts))
        w = Window.partitionBy(F.col("host"), salt).orderBy("priority")
        big = big.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= cap
        ).drop("_rn")

    w = Window.partitionBy("host").orderBy("priority").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    admitted = (
        F.col(bytes_col).isNotNull() & (F.sum(bytes_col).over(w) <= byte_budget)
    ) | (F.row_number().over(w) == 1)
    thr = (
        big.withColumn("_ok", admitted)
        .filter("_ok")
        .groupBy("host")
        .agg(F.max("priority").alias("_thr"))
    )
    return _flag_selected(frontier, thr)


def select_round(
    frontier: DataFrame,
    robots: DataFrame | None,
    default_budget: int = DEFAULT_BUDGET,
    n_salts: int = 8,
    delay_window_s: float | None = None,
) -> DataFrame:
    """Split the frontier into this round's fetch set vs deferred rows.

    Returns the frontier with a ``selected`` boolean column. Deterministic:
    per host, the ``budget`` smallest ``priority`` values win.
    """
    if robots is None and default_budget >= DEFAULT_BUDGET:
        # politeness disabled → selection is a no-op; don't pay anything.
        return frontier.withColumn("selected", F.lit(True))

    thr = host_thresholds(frontier, robots, default_budget, n_salts,
                          delay_window_s=delay_window_s)
    return _flag_selected(frontier, thr)
