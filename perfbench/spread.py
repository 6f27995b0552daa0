"""Run the benchmark on several seeds and report each end-to-end metric's
median, quartiles and spread against its bound.

    python3 perfbench/spread.py --runs 10 --first-seed 100 [--workload NAME] [--out FILE]

Runs are sequential. The spread is the interquartile distance as a share
of the median (``statistics.quantiles(values, n=4)``); every metric but
``setup_s`` should stay under a third of its bound. ``--out`` writes the
figures, with ``BENCHMARK.json``'s workload rationale and the layer map,
as a baseline file.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# per-layer metric prefix -> (end-to-end metric, workload) pairs it should move
LAYER_MAP = {
    "session.": [["setup_s", "llm_kernels"], ["setup_s", "fanout_live"]],
    "queries.": [["pass_s", "llm_kernels"], ["latency_ms", "llm_kernels"]],
    "driver.gap_s": [["pass_s", "llm_kernels"], ["latency_ms", "llm_kernels"],
                     ["pass_s", "fanout_live"]],
    "driver.peak_rss_mb": [],
    "spark.": [["pass_s", "llm_kernels"], ["pass_s", "fanout_live"],
               ["latency_ms", "fanout_live"]],
    "tables.": [["pass_s", "llm_kernels"]],
    "python.": [["pass_s", "llm_kernels"], ["latency_ms", "fanout_live"]],
    "functions.": [["pass_s", "llm_kernels"]],
    "streaming.": [["latency_ms", "fanout_live"], ["pass_s", "fanout_live"]],
    "state.": [["latency_ms", "fanout_live"]],
    "sinks.": [["latency_ms", "fanout_live"]],
    "sources.": [["latency_ms", "fanout_live"]],
    "trace.": [],
}


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, float]:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1]), time.time() - t0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    names = args.workload or [w["name"] for w in bench["workloads"]]
    out = {"workloads": {}, "layer_map": LAYER_MAP}
    for w in bench["workloads"]:
        if w["name"] not in names:
            continue
        values: dict[str, list[float]] = {}
        walls, failed, attempted = [], 0, 0
        for i in range(args.runs):
            res, wall = run_once(w["name"], args.first_seed + i, bench["run_seconds"])
            walls.append(round(wall, 1))
            failed += res["failed"]
            attempted += res["attempted"]
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        rows = {}
        for k, xs in values.items():
            q1, q3 = stats.quartiles(xs)
            med = stats.median(xs)
            rows[k] = {"median": med, "q1": q1, "q3": q3, "spread": stats.rel_spread(xs),
                       "unit": bounds[k]["unit"], "bound": bounds[k]["bound"]}
            print(f"{w['name']:<12} {k:<14} median={med:<12.6g} q1={q1:<12.6g} "
                  f"q3={q3:<12.6g} spread={rows[k]['spread']:.4f} bound={bounds[k]['bound']}")
        print(f"{w['name']:<12} failed={failed}/{attempted} run walls (s): {walls}")
        out["workloads"][w["name"]] = {
            "why": w["why"], "runs": args.runs, "first_seed": args.first_seed,
            "failed": failed, "attempted": attempted, "run_wall_s": walls, "metrics": rows,
        }
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(out, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
