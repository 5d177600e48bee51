"""Interleaved A/B of the etlbench benchmark between two checkouts.

Usage:
    python tools/ab_etlbench.py A_DIR B_DIR --workloads etl_incremental \
        --seeds 1 2 3 4 5 6 7 8 9 10 [--seconds 8] [--trace 0] [--json out.json]

For every (workload, seed) pair it runs ``etlbench/run.py`` once in each
checkout, back to back, and alternates which side goes first (even pairs
A first, odd pairs B first), so a drift in host load falls on both sides
alike. Each run starts from its own checkout as working directory, so
each side builds and runs its own code.

For each workload and metric it prints the median and quartiles of both
sides, the median change B vs A, the parent-side IQR, and the number of
pairs B won (the better direction comes from ``BENCHMARK.json`` of A;
metrics it does not list count higher-is-worse). A pair that failed or
returned ``correct: false`` is reported and left out of the statistics.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run_one(checkout: Path, workload: str, seed: int, seconds: float,
            trace: int) -> dict | None:
    """One benchmark run; its parsed result line, or None on failure."""
    proc = subprocess.run(
        [sys.executable, "etlbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=checkout, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"  {checkout.name} {workload} seed {seed}: exit "
              f"{proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
        return None
    result = json.loads(lines[-1])
    if not result.get("correct") or result.get("failed"):
        print(f"  {checkout.name} {workload} seed {seed}: correct="
              f"{result.get('correct')} failed={result.get('failed')}",
              file=sys.stderr)
        return None
    return {k: v["value"] for k, v in result["metrics"].items()}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: list[tuple[dict, dict]], better: dict[str, str]) -> list[str]:
    out = [f"{'metric':<28} {'A q1/med/q3':>30} {'B q1/med/q3':>30} "
           f"{'B/A med':>8} {'A IQR':>9} {'B wins':>7}"]
    for name in sorted(pairs[0][0]):
        a = [p[0][name] for p in pairs if name in p[0] and name in p[1]]
        b = [p[1][name] for p in pairs if name in p[0] and name in p[1]]
        if not a:
            continue
        lower = better.get(name, "lower") == "lower"
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        qa, qb = quartiles(a), quartiles(b)
        ratio = qb[1] / qa[1] if qa[1] else float("nan")
        out.append(
            f"{name:<28} {qa[0]:>9.4g} {qa[1]:>9.4g} {qa[2]:>9.4g} "
            f"{qb[0]:>9.4g} {qb[1]:>9.4g} {qb[2]:>9.4g} "
            f"{ratio:>8.3f} {qa[2] - qa[0]:>9.4g} {wins:>3}/{len(a)}"
        )
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("a", type=Path, help="baseline checkout (A)")
    p.add_argument("b", type=Path, help="changed checkout (B)")
    p.add_argument("--workloads", nargs="+", required=True)
    p.add_argument("--seeds", nargs="+", type=int, required=True)
    p.add_argument("--seconds", type=float, default=8)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--json", type=Path, help="also write every pair here")
    args = p.parse_args()
    a, b = args.a.resolve(), args.b.resolve()
    spec = json.loads((a / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"]
              for m in spec["end_to_end"] + spec.get("per_layer", [])}
    report: dict[str, list] = {}
    for workload in args.workloads:
        pairs: list[tuple[dict, dict]] = []
        for i, seed in enumerate(args.seeds):
            order = [(a, 0), (b, 1)] if i % 2 == 0 else [(b, 1), (a, 0)]
            got: list[dict | None] = [None, None]
            for checkout, side in order:
                got[side] = run_one(checkout, workload, seed, args.seconds,
                                    args.trace)
            first = "A" if i % 2 == 0 else "B"
            print(f"{workload} seed {seed} ({first} first): "
                  f"{'ok' if None not in got else 'dropped'}", flush=True)
            if None not in got:
                pairs.append((got[0], got[1]))
                report.setdefault(workload, []).append(
                    {"seed": seed, "a": got[0], "b": got[1]})
        print(f"\n== {workload}: {len(pairs)} pairs, A={a} B={b}")
        if pairs:
            print("\n".join(summarize(pairs, better)))
        print()
    if args.json:
        args.json.write_text(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
