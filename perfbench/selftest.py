"""Self-test of the benchmark at toy size (about fifteen minutes on 4 vCPUs).

    python3 perfbench/selftest.py

Checks that every workload runs end to end, untraced and traced, with a
correct answer; that every metric it prints is listed in BENCHMARK.json with
the same unit (and that each listed metric is printed); and that a
deliberately corrupted expected answer shows up as failed operations. Exits
non-zero on the first mismatch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "toy", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.exit(f"FAIL {' '.join(cmd[1:])}: exit {p.returncode}\n{p.stderr[-4000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def main() -> int:
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {trace: {m["name"]: m["unit"] for m in spec[key]}
             for trace, key in ((0, "end_to_end"), (1, "per_layer"))}
    for workload in WORKLOADS:
        for trace in (0, 1):
            r = bench(workload, trace)
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            expect(r["correct"] and r["failed"] == 0 and r["attempted"] >= 1,
                   f"{workload} trace={trace}: correct, {r['attempted']} attempted")
            expect(got == units[trace],
                   f"{workload} trace={trace}: metrics and units match BENCHMARK.json"
                   + ("" if got == units[trace] else f" (diff {set(got.items()) ^ set(units[trace].items())})"))
    r = bench("crawl_bfs", 0, "--corrupt")
    expect(not r["correct"] and r["failed"] == r["attempted"] >= 1,
           f"crawl_bfs --corrupt: {r['failed']} of {r['attempted']} failed")
    r = bench("schedule_mega", 1, "--corrupt")
    expect(not r["correct"] and r["metrics"]["failed_frac"]["value"] == 1.0,
           "schedule_mega --trace 1 --corrupt: failed_frac == 1")
    return 0


if __name__ == "__main__":
    sys.exit(main())
