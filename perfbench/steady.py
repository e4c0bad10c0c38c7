#!/usr/bin/env python3
"""Steadiness check: run one commit's benchmark in sets of runs and print
each end-to-end metric's spread against its bound.

Run from the repository root::

    python3 perfbench/steady.py --workload suite_mix --sets 2 --runs 10

Every run uses its own seed.  For each set and metric it prints the
median and the spread (the distance between the first and third
quartile, ``statistics.quantiles(values, n=4)``, as a share of the
median); with two or more sets, also how far each later set's median
moved from the first set's, in the metric's worse direction.  A metric
passes when every spread (``setup_s`` excepted) and every drift is
within the bound in ``BENCHMARK.json``.  ``--trace`` adds one traced
run per set and prints the tracing overhead (traced minus untraced
``warm_pass_s``).  Each run's line shows all its end-to-end figures,
wall times included.  Exits 1 if any metric fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def one_run(spec: dict, workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    """The run's reported metrics and the summary line's end-to-end
    figures (wall times included)."""
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.time()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.exit(f"run failed ({' '.join(cmd)}):\n{out.stderr[-2000:]}")
    log = os.path.join(ROOT, ".perfbench", "steady", f"{workload}-{seed}-t{trace}.out")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as fh:
        fh.write(out.stdout)
    lines = out.stdout.strip().splitlines()
    summary = json.loads(lines[-2].removeprefix("perfbench summary: "))
    host = summary["host"]
    print(f"  seed {seed}: {time.time() - t0:.1f} s wall, load1 max {host['load1_max']:.2f},"
          f" steal {host['steal_pct']:.1f}%", flush=True)
    res = json.loads(lines[-1])
    if not res["correct"]:
        print(f"  seed {seed}: outputs NOT correct ({res['failed']}/{res['attempted']} failed)")
    return {k: v["value"] for k, v in res["metrics"].items()}, summary["end_to_end"]


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(base: float, new: float, better: str) -> float:
    return (new - base) / base if better == "lower" else (base - new) / base


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    sets: list[list[dict]] = []
    overhead: list[float] = []
    for k in range(args.sets):
        runs, walls = [], []
        for i in range(args.runs):
            seed = args.seed0 + 1000 * k + i
            metrics, figures = one_run(spec, args.workload, seed, 0)
            runs.append(metrics)
            walls.append(figures["warm_pass_s"])
            print(f"set {k} run {i} seed {seed}: " + json.dumps(
                {m: round(v, 4) for m, v in figures.items()}), flush=True)
        sets.append(runs)
        if args.trace:
            traced, _ = one_run(spec, args.workload, args.seed0 + 1000 * k + args.runs, 1)
            overhead.append(traced["wall.warm_pass_s"] - statistics.median(walls))

    ok = True
    print(f"\n{args.workload}: {args.sets} set(s) x {args.runs} runs")
    print(f"{'metric':<18}{'unit':<6}{'bound':>7}  " + "  ".join(
        f"{'median' + str(k):>11}{'spread' + str(k):>9}" for k in range(args.sets))
        + (f"{'drift':>9}" if args.sets > 1 else "") + "  verdict")
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        meds, spreads = [], []
        for runs in sets:
            vals = [r[name] for r in runs]
            meds.append(statistics.median(vals))
            spreads.append(spread(vals) if len(vals) > 1 else 0.0)
        drift = max((worse_by(meds[0], x, m["better"]) for x in meds[1:]), default=0.0)
        good = drift <= bound and (name == "setup_s" or all(s <= bound for s in spreads))
        ok &= good
        print(f"{name:<18}{m['unit']:<6}{bound:>7.3f}  " + "  ".join(
            f"{md:>11.4f}{sp:>9.3f}" for md, sp in zip(meds, spreads))
            + (f"{drift:>9.3f}" if args.sets > 1 else "")
            + ("  ok" if good else "  FAIL"))
    for k, o in enumerate(overhead):
        print(f"tracing overhead, set {k}: {o:+.4f} s per warm pass")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
