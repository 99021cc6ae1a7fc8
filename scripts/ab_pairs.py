"""Interleaved A/B of two checkouts on one perfbench workload.

    python3 scripts/ab_pairs.py --parent ../base --change . \\
        --workload spatial_write_10x --seed 5 --pairs 10

Each pair runs `python3 perfbench/run.py --workload W --seed S --seconds T
--trace 0` once in each checkout (its own directory, its own sources),
alternating which side goes first; T is BENCHMARK.json's `run_seconds`.
It then prints, for every end-to-end metric that BENCHMARK.json declares,
each side's median and quartiles; for the claimed metric, call_p50_s, the
number of pairs the change won and whether the median gap exceeds the
parent's interquartile range; and the `failed` count of every run. It only runs
perfbench and reads its last output line: it changes no file.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

CLAIM = "call_p50_s"  # lower is better

def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{checkout}: perfbench exited {p.returncode}\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def quartiles(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    return tuple(statistics.quantiles(vals, n=4, method="inclusive"))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, default=10)
    args = ap.parse_args(argv)

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    sides = {"parent": args.parent, "change": args.change}
    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    for i in range(args.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            out = run_once(sides[side], args.workload, args.seed, bench["run_seconds"])
            runs[side].append(out)
            claim = out["metrics"][CLAIM]["value"]
            print(f"pair {i + 1} {side}: {CLAIM}={claim:.4f} failed={out['failed']}"
                  f" attempted={out['attempted']}", flush=True)

    def values(side: str, metric: str) -> list[float]:
        return [r["metrics"][metric]["value"] for r in runs[side]]

    print(f"\n{args.workload} seed {args.seed}, {args.pairs} pairs: median [Q1, Q3]")
    for metric in better:
        cells = []
        for side in sides:
            q1, q2, q3 = quartiles(values(side, metric))
            cells.append(f"{side} {q2:.4g} [{q1:.4g}, {q3:.4g}]")
        print(f"  {metric} ({better[metric]} is better): " + "; ".join(cells))

    parent, change = values("parent", CLAIM), values("change", CLAIM)
    wins = sum(p > c for p, c in zip(parent, change))
    p_q1, p_med, p_q3 = quartiles(parent)
    gap = p_med - statistics.median(change)
    print(f"\nclaim {CLAIM}: change won {wins}/{len(parent)} pairs;"
          f" median gap {gap:.4g} vs parent IQR {p_q3 - p_q1:.4g}:"
          f" {'exceeds' if gap > p_q3 - p_q1 else 'does not exceed'}")
    print("failed per run: parent", [r["failed"] for r in runs["parent"]],
          "change", [r["failed"] for r in runs["change"]])
    return 0


if __name__ == "__main__":
    sys.exit(main())
