"""Paired benchmark runs of two checkouts: parent (BASE) against change (HEAD).

Runs ``perfbench/run.py`` once per side per pair, inside each checkout, on
the same seed (``--seed0`` + pair index), alternating which side runs
first. Only the JSON line ``run.py`` prints last is read. For every
end-to-end metric it then prints each side's median and quartiles, the
change's win count over the pairs (ties count for neither side) and
whether the gain rule holds: the change wins at least nine tenths of the
pairs and the medians differ, in the better direction, by more than the
distance between the parent's quartiles.

Metric directions and the run length (``run_seconds``) come from HEAD's
``BENCHMARK.json``.

Usage:
    python tools/bench_pairs.py BASE HEAD --workload W --pairs N --seed0 S
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict | None:
    """One untraced run.py in ``checkout``; its result dict, or None."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        return None
    try:
        return json.loads(lines[-1])
    except json.JSONDecodeError:
        return None


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def summarize(pairs: list[tuple[dict | None, dict | None]], better: dict[str, str]) -> list[str]:
    out = [
        f"{'metric':<16} {'base q1/median/q3':>32} {'head q1/median/q3':>32} "
        f"{'gain':>8} {'wins':>6}  gain rule"
    ]
    n = len(pairs)
    for name, direction in better.items():
        base, head, wins = [], [], 0
        for b, h in pairs:
            if b is None or h is None:
                continue
            bv, hv = b["metrics"][name]["value"], h["metrics"][name]["value"]
            base.append(bv)
            head.append(hv)
            wins += (hv > bv) if direction == "higher" else (hv < bv)
        if not base:
            out.append(f"{name:<16} no complete pairs")
            continue
        bq, hq = quartiles(base), quartiles(head)
        sign = 1 if direction == "higher" else -1
        gain = sign * (hq[1] - bq[1])
        rel = gain / abs(bq[1]) if bq[1] else float("nan")
        holds = wins >= 0.9 * n and gain > bq[2] - bq[0]
        out.append(
            f"{name:<16} {bq[0]:>10.4g} {bq[1]:>10.4g} {bq[2]:>10.4g} "
            f"{hq[0]:>10.4g} {hq[1]:>10.4g} {hq[2]:>10.4g} "
            f"{rel:>+8.1%} {wins:>3}/{n:<2}  {'holds' if holds else 'not met'}"
        )
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("base", help="checkout of the parent commit")
    ap.add_argument("head", help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    args = ap.parse_args(argv)

    with open(os.path.join(args.head, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]

    pairs = []
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ("base", "head") if i % 2 == 0 else ("head", "base")
        got = {}
        for side in order:
            t0 = time.perf_counter()
            got[side] = res = run_once(getattr(args, side), args.workload, seed, seconds)
            shown = "FAILED" if res is None else json.dumps(
                {k: v["value"] for k, v in res["metrics"].items()} | {"correct": res["correct"]}
            )
            print(f"pair {i} seed {seed} {side} ({time.perf_counter() - t0:.0f} s): {shown}", flush=True)
        pairs.append((got["base"], got["head"]))

    incorrect = sum(r is None or not r["correct"] for p in pairs for r in p)
    print(f"\n{args.workload}: {len(pairs)} pairs, seeds {args.seed0}-{args.seed0 + len(pairs) - 1}, "
          f"{seconds} s windows, {incorrect} failed or incorrect runs")
    print("\n".join(summarize(pairs, better)))
    return 0 if incorrect == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
