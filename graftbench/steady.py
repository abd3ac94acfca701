#!/usr/bin/env python3
"""Run workloads several times and report how steady each end-to-end metric is.

    python3 graftbench/steady.py --runs 10 --workloads tsdb_read ingest_routed

Each run uses another seed. For every workload and end-to-end metric the
helper prints the median, the first and third quartiles, the quartile
spread as a share of the median (what a regression bound must exceed),
and (max - min) / median, and the wall time a run takes, which the
regression check's time budget must cover. Workloads, metrics, bounds and
the run length default to BENCHMARK.json at the repository root.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run_once(workload, seed, seconds):
    t0 = time.monotonic()
    r = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {r.returncode}")
    out = json.loads(lines[-1])
    if not out["correct"]:
        print(f"  {workload} seed {seed}: {out['failed']} of {out['attempted']} failed",
              file=sys.stderr)
    return out, time.monotonic() - t0


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    args = ap.parse_args()
    if args.runs < 4:
        ap.error("quartiles need at least 4 runs")
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    for w in args.workloads:
        values, walls = {}, []
        for i in range(args.runs):
            seed = args.first_seed + i
            out, wall = run_once(w, seed, args.seconds)
            walls.append(wall)
            for k, m in out["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"  {w} seed {seed}: wall={wall:.1f}s " +
                  " ".join(f"{k}={m['value']:.4g}" for k, m in out["metrics"].items()),
                  file=sys.stderr, flush=True)
        print(f"{w} ({args.runs} runs, {args.seconds:g} s each; wall per run: "
              f"median {statistics.median(walls):.1f} s, max {max(walls):.1f} s)")
        print(f"  {'metric':<12} {'median':>12} {'q1':>12} {'q3':>12} {'iqr/med':>8}"
              f" {'range/med':>9} {'bound':>6}")
        for k, vs in values.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4)
            bound = bounds.get(k)
            flag = "" if bound is None or (q3 - q1) / med < bound / 3 else "  <- above bound/3"
            print(f"  {k:<12} {med:>12.4f} {q1:>12.4f} {q3:>12.4f} {(q3 - q1) / med:>8.3f}"
                  f" {(max(vs) - min(vs)) / med:>9.3f} {bound if bound is not None else '':>6}{flag}")
        sys.stdout.flush()


if __name__ == "__main__":
    main()
