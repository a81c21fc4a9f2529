#!/usr/bin/env python3
"""Steadiness check: run the benchmark's untraced measurement once per seed
and report, for each end-to-end metric, the median, the quartiles and the
quartile spread ((Q3 - Q1) / median, quartiles from
``statistics.quantiles(n=4)``).

    python3 perfbench/spread.py --workload single_pass --workload loops_streams --seeds 1-10

Each run is a fresh process, as in a real measurement, and measures for
BENCHMARK.json's ``run_seconds``. Results are appended as JSON lines to
``.perfbench_out/spread.jsonl``; ``--summarise`` only summarises the rows of
the given workloads and seeds already there.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from stats import quartile_spread  # noqa: E402


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


OUT = os.path.join(ROOT, ".perfbench_out", "spread.jsonl")


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(HERE, "run.py"),
            "--workload", workload,
            "--seed", str(seed),
            "--seconds", str(seconds),
            "--trace", "0",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
    )
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    if result is None:
        sys.stderr.write(proc.stderr[-2000:])
    notes = [ln for ln in proc.stderr.splitlines() if ln.startswith("[perfbench] notes ")]
    return {
        "notes": json.loads(notes[-1].split("notes ", 1)[1]) if notes else None,
        "workload": workload,
        "seed": seed,
        "rc": proc.returncode,
        "run_wall_s": wall,
        "result": result,
    }


def summarise(rows: list[dict]) -> None:
    by_wl: dict[str, list[dict]] = {}
    for r in rows:
        if r["result"] is not None:
            by_wl.setdefault(r["workload"], []).append(r)
    for wl, rs in sorted(by_wl.items()):
        walls = [r["run_wall_s"] for r in rs]
        ok = all(r["result"]["correct"] for r in rs)
        print(
            f"{wl}: {len(rs)} runs, correct={ok}, run wall "
            f"median {statistics.median(walls):.1f} s max {max(walls):.1f} s"
        )
        names = rs[0]["result"]["metrics"].keys()
        for name in names:
            vals = [r["result"]["metrics"][name]["value"] for r in rs]
            if len(vals) < 2:
                continue
            q1, q2, q3 = statistics.quantiles(vals, n=4)
            print(
                f"  {name:28s} median {q2:10.4f}  Q1 {q1:10.4f}  Q3 {q3:10.4f}"
                f"  spread {quartile_spread(vals):.3f}"
            )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", default=[])
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--summarise", action="store_true", help="only summarise earlier runs")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    if not args.summarise:
        for seed in args.seeds:
            for wl in args.workload:
                row = run_once(wl, seed, seconds)
                with open(OUT, "a") as f:
                    f.write(json.dumps(row) + "\n")
                print(f"{wl} seed {seed} rc {row['rc']} {row['run_wall_s']:.1f} s", flush=True)
    with open(OUT) as f:
        rows = [json.loads(line) for line in f]
    summarise(
        [
            r
            for r in rows
            if r["seed"] in args.seeds and (not args.workload or r["workload"] in args.workload)
        ]
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
