"""Seeded, closed-loop benchmark of graven_spark's URL frontier.

    python3 perfbench/run.py --workload crawl_bfs --seed 1 --seconds 10 --trace 0

Runs one workload (see perfbench/README.md) in this process on
``local[<cores>]``, with the session from ``graven_spark.session.build_session``.
One client: each timed operation starts only after the previous one returned,
until ``--seconds`` have passed (at least one operation). Every operation's
output is checked against the answer cached beside the seeded inputs; a wrong
answer or an exception counts as failed. The last stdout line is the JSON
result: with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the
per-layer metrics of one traced operation (Spark event log on, a span around
every layer).

Everything the run writes stays under ``.perfbench/`` in the checkout: the
per-seed input cache and a work directory emptied at every start.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "2g"


class PeakRss:
    """Samples the summed resident memory of a process tree (the driver JVM
    and the Python workers it forks) on a background thread."""

    def __init__(self, pid: int, every_s: float = 0.05):
        self.pid, self.every_s, self.peak = pid, every_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [self.pid]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.every_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _session(work: str, cores: int, event_log: str | None = None):
    from graven_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": DRIVER_MEM,
        # the parallel collector keeps no concurrent GC threads competing
        # with the driver for 4 cores: steadier operation times than G1
        "spark.driver.extraJavaOptions":
            f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseParallelGC",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return build_session(master=f"local[{cores}]", app_name="perfbench", extra_conf=conf)


def _stop_jvm() -> None:
    """Stop the py4j gateway JVM and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def _timed(wl, spark, inp, reg, state: str) -> tuple[float | None, object]:
    """One operation: wall seconds (None if it raised) and its checked outcome."""
    from workloads import reset_dir

    try:
        t = time.perf_counter()
        res = wl.run(spark, inp, reg, reset_dir(state))
        wall = time.perf_counter() - t
        return wall, wl.check(spark, inp, res)
    except Exception:  # a failed operation is counted, and the loop goes on
        traceback.print_exc(file=sys.stderr)
        return None, None


def _set_up(wl, inp, work: str, cores: int, excluded: float, traced: bool,
            event_log: str | None) -> tuple:
    """The run's one set-up, timed from process start to the first timed
    operation: the session (which launches the JVM), the Spark-built inputs,
    input registration and the workload's warm-up. The ``excluded`` seconds
    of input generation before it, cached per seed, are not counted."""
    from workloads import reset_dir

    spark = _session(work, cores, event_log)
    wl.prepare(spark, inp, work)
    reg = wl.register(spark, inp)
    wl.warm(spark, inp, reg, reset_dir(os.path.join(work, "warm")), traced)
    return spark, reg, time.perf_counter() - T_START - excluded


def run(workload: str, seed: int, seconds: float, trace: bool, scale: str,
        corrupt: bool) -> dict:
    from pyspark import SparkContext

    from eventlog import Attribution, Tracer, find_event_log, per_layer, read_event_log
    from workloads import WORKLOADS, fp_rate_pred, reset_dir

    work = reset_dir(os.path.join(STATE, "work"))
    # shuffle and spill files: spark.local.dir, unless SPARK_LOCAL_DIRS is set
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(
        work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    cores = len(os.sched_getaffinity(0))
    wl = WORKLOADS[workload]()

    t = time.perf_counter()
    cache = os.path.join(STATE, "cache")
    inp = wl.inputs(cache, scale, seed)
    if corrupt:  # self-test: every operation must now count as failed
        inp.answer = {k: v + 1 if isinstance(v, int) else v for k, v in inp.answer.items()}
    excluded = time.perf_counter() - t
    log_dir = os.path.join(work, "eventlog") if trace else None
    spark, reg, setup_s = _set_up(wl, inp, work, cores, excluded, trace, log_dir)
    state = os.path.join(work, "op")
    # memory is sampled in traced runs only: the sampler thread would compete
    # with the driver's py4j calls for the GIL during timed operations
    rss = PeakRss(SparkContext._gateway.proc.pid) if trace else contextlib.nullcontext()
    with rss:
        walls, urls, attempted, failed = [], [], 0, 0
        start = time.perf_counter()
        while attempted == 0 or time.perf_counter() - start < seconds:
            attempted += 1
            wall, out = _timed(wl, spark, inp, reg, state)
            if out is None or not out.correct:
                failed += 1
            if out is not None:
                walls.append(wall)
                urls.append(out.urls)
            if trace:
                break
    op_s = statistics.median(walls) if walls else 0.0
    print(f"perfbench: {workload} seed={seed} ops={attempted} failed={failed} "
          f"walls={[round(w, 3) for w in walls]} setup_s={setup_s:.3f} "
          f"inputs_s={excluded:.3f}", file=sys.stderr)
    if not trace:
        spark.stop()
        return {
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {
                "setup_s": (setup_s, "s"),
                "op_p50_s": (op_s, "s"),
                "urls_per_s": (statistics.median(urls) / op_s if op_s else 0.0, "URLs/s"),
            },
        }

    # traced: after the one untraced operation above (warm on every
    # workload), the same operation driven layer by layer under spans, in the
    # same session (event log on)
    tr = Tracer()
    try:
        traced = wl.traced(spark, inp, wl.register(spark, inp), reset_dir(state), tr)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        traced = None
    spark.stop()  # flushes and closes the event log
    if traced is None:
        failed += 1
    elif out is not None and out.digest != traced.outcome.digest:
        failed += 1  # the traced operation must reproduce the untraced answer
    elif not traced.outcome.correct:
        failed += 1
    metrics = {}
    if traced is not None:
        att = Attribution(tr.spans, read_event_log(find_event_log(log_dir)))
        traced_wall = sum(s.seconds for n in traced.primary for s in tr.named(n))
        overhead = traced_wall / op_s - 1 if op_s else 0.0
        metrics = per_layer(tr, att, cores, traced.primary, traced.commit_spans,
                            traced.round_mb, fp_rate_pred(traced.seen_n), overhead)
    metrics["peak_rss_mb"] = (rss.peak / (1 << 20), "MB")
    metrics["failed_frac"] = (failed / 2, "ratio")
    return {"correct": failed == 0, "attempted": 2, "failed": failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "toy"), default="full",
                    help="input size; toy is for the self-test")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: corrupt the expected answer")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "graven_spark", "__init__.py")):
        print(f"perfbench: no graven_spark package in {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace),
                     args.scale, args.corrupt)
    finally:
        _stop_jvm()
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
