"""Spans and the Spark event-log reader behind the per-layer metrics.

The benchmark records a :class:`Span` around each of its own calls into an
engine layer (kept in memory until the run ends). Spark's event log, switched
on for the traced session only, is read back afterwards and every job, stage,
task and SQL execution is attributed to the innermost span open when it was
submitted. Both clocks are the host's wall clock in milliseconds.

Only the event-log keys below are read; everything else is skipped:

- ``SparkListenerJobStart``/``JobEnd``: job id, stage ids, submit/end time;
- ``SparkListenerTaskEnd``: stage id, executor run time, JVM GC time,
  shuffle bytes written, memory + disk bytes spilled;
- ``SparkListenerSQLExecutionStart``/``End``: execution id, start/end time
  and the physical plan, whose ``InsertIntoHadoopFsRelationCommand`` names
  the directory (the checkpoint artifact) an execution writes.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
# the write node's section of the formatted physical plan
_WRITE_RE = re.compile(
    r"\(\d+\) Execute InsertIntoHadoopFsRelationCommand\nInput: [^\n]*\nArguments: ([^,\s]+),")


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder."""

    def __init__(self):
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.time())
        try:
            yield s
        finally:
            s.end = time.time()
            self.spans.append(s)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


@dataclass
class Job:
    id: int
    submit: float
    end: float = 0.0
    stages: list = field(default_factory=list)
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    spill_b: int = 0


@dataclass
class Write:
    path: str
    start: float
    end: float = 0.0

    @property
    def artifact(self) -> str:
        return os.path.basename(self.path.rstrip("/"))


@dataclass
class EventLog:
    jobs: list[Job]
    writes: list[Write]


def read_event_log(path: str) -> EventLog:
    """Jobs (with their tasks' totals) and artifact writes from one
    uncompressed event-log file."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    writes: dict[int, Write] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = Job(ev["Job ID"], ev["Submission Time"] / 1000, stages=ev["Stage IDs"])
                jobs[job.id] = job
                for sid in job.stages:
                    stage_job[sid] = job
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                job, m = stage_job.get(ev["Stage ID"]), ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job.task_s += m["Executor Run Time"] / 1000
                job.gc_s += m["JVM GC Time"] / 1000
                job.shuffle_write_b += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                job.spill_b += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            elif kind == _SQL_START:
                hit = _WRITE_RE.search(ev.get("physicalPlanDescription", ""))
                if hit:
                    writes[ev["executionId"]] = Write(hit.group(1), ev["time"] / 1000)
            elif kind == _SQL_END and ev["executionId"] in writes:
                writes[ev["executionId"]].end = ev["time"] / 1000
    return EventLog(sorted(jobs.values(), key=lambda j: j.submit), list(writes.values()))


def find_event_log(log_dir: str) -> str:
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    return os.path.join(log_dir, name)


def innermost(spans: list[Span], t: float) -> Span | None:
    """The latest-started span open at time ``t``."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


class Attribution:
    """Event-log items grouped by the span each one was submitted under."""

    def __init__(self, spans: list[Span], log: EventLog):
        self.jobs: dict[int, list[Job]] = {}
        self.writes: dict[int, list[Write]] = {}
        for job in log.jobs:
            s = innermost(spans, job.submit)
            if s is not None:
                self.jobs.setdefault(id(s), []).append(job)
        for w in log.writes:
            s = innermost(spans, w.start)
            if s is not None:
                self.writes.setdefault(id(s), []).append(w)
        self._log = log

    def jobs_in(self, spans: list[Span]) -> list[Job]:
        return [j for s in spans for j in self.jobs.get(id(s), [])]

    def writes_in(self, spans: list[Span]) -> list[Write]:
        return [w for s in spans for w in self.writes.get(id(s), [])]

    def jobs_within(self, span: Span) -> list[Job]:
        """Every job submitted inside ``span``, nested spans included."""
        return [j for j in self._log.jobs if span.start <= j.submit <= span.end]

    def idle_seconds(self, span: Span) -> float:
        """Wall time inside ``span`` with no Spark job running."""
        return span.seconds - covered(
            [(j.submit, j.end or span.end) for j in self._log.jobs], span.start, span.end)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _mb(b: float) -> float:
    return b / (1 << 20)


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(tracer: Tracer, att: Attribution, cores: int, primary: list[str],
              commit_spans: list[str], round_mb: float, bloom_pred: float,
              overhead_frac: float) -> dict[str, tuple[float, str]]:
    """Every per-layer metric as ``name -> (value, unit)``.

    ``primary``: names of the spans that make up the traced operation itself
    (the ``spark.*`` totals cover exactly these). ``commit_spans``: spans
    whose SQL writes are checkpoint artifacts. Replayed-operator spans are
    named after their metric's layer (``politeness.select`` ...)."""
    sp = tracer.named
    rounds = sp("round")
    n_rounds = len(rounds)
    durations = sorted(s.seconds for s in rounds)
    round_jobs = [j for s in rounds for j in att.jobs_within(s)]
    commits = [s for n in commit_spans for s in sp(n)]
    writes = att.writes_in(commits)
    # a round's artifact writes run concurrently: count their wall-clock union
    write_s = sum(covered([(w.start, w.end) for w in att.writes_in([s])], s.start, s.end)
                  for s in commits)
    compactions = [s for s in sp("checkpoint.compact") if s.attrs["compacted"]]
    sel, rank, ext = sp("politeness.select"), sp("ranking.rank"), sp("extract.fetch_extract")
    probe, admit = sp("bloom.probe"), sp("dedup.admit")
    fp = sp("bloom.fp_check")

    def total(spans, key=None):
        return sum(s.attrs[key] if key else s.seconds for s in spans)

    cand_n, pos_n, in_seen = total(probe, "candidates"), total(probe, "positives"), total(fp, "in_seen")
    prim = list({id(j): j for n in primary for s in sp(n) for j in att.jobs_within(s)}.values())
    ext_s = total(ext)
    return {
        "frontier.rounds": (n_rounds, "count"),
        "frontier.depths": (rounds[-1].attrs["depth_after"] if rounds else 0, "count"),
        "frontier.round_p50_s": (statistics.median(durations) if durations else 0.0, "s"),
        "frontier.round_max_s": (durations[-1] if durations else 0.0, "s"),
        "frontier.jobs_per_round": (_ratio(len(round_jobs), n_rounds), "count"),
        "frontier.core_busy_frac": (
            _ratio(sum(j.task_s for j in round_jobs), sum(durations) * cores), "ratio"),
        "frontier.driver_idle_s_per_round": (
            _ratio(sum(att.idle_seconds(s) for s in rounds), n_rounds), "s"),
        "checkpoint.write_s_per_round": (_ratio(write_s, n_rounds), "s"),
        "checkpoint.writes_per_round": (_ratio(len(writes), n_rounds), "count"),
        "checkpoint.round_mb": (round_mb, "MB"),
        "checkpoint.compact_s": (total(compactions), "s"),
        "checkpoint.compactions": (len(compactions), "count"),
        "politeness.select_s": (total(sel), "s"),
        "politeness.selected_frac": (
            _ratio(total(sel, "selected"), total(sel, "frontier")), "ratio"),
        "ranking.rank_s": (total(rank), "s"),
        "ranking.jobs": (len(att.jobs_in(rank)), "count"),
        "extract.fetch_extract_s": (ext_s, "s"),
        "extract.links": (total(ext, "links"), "count"),
        "extract.html_mb_per_s": (_ratio(_mb(total(ext, "html_bytes")), ext_s), "MB/s"),
        "bloom.probe_s": (total(probe), "s"),
        "bloom.positive_frac": (_ratio(pos_n, cand_n), "ratio"),
        "bloom.fp_rate": (_ratio(pos_n - in_seen, cand_n - in_seen), "ratio"),
        "bloom.fp_rate_pred": (bloom_pred, "ratio"),
        "bloom.build_s": (total(sp("bloom.build")), "s"),
        "bloom.merge_s": (total(sp("bloom.merge")), "s"),
        "dedup.admit_s": (total(admit), "s"),
        "dedup.admitted_frac": (_ratio(total(admit, "admitted"), total(admit, "candidates")), "ratio"),
        "dedup.shuffle_write_mb": (_mb(sum(j.shuffle_write_b for j in att.jobs_in(admit))), "MB"),
        "spark.jobs": (len(prim), "count"),
        "spark.task_s": (sum(j.task_s for j in prim), "s"),
        "spark.gc_s": (sum(j.gc_s for j in prim), "s"),
        "spark.shuffle_write_mb": (_mb(sum(j.shuffle_write_b for j in prim)), "MB"),
        "spark.spill_mb": (_mb(sum(j.spill_b for j in prim)), "MB"),
        "trace.overhead_frac": (overhead_frac, "ratio"),
    }
