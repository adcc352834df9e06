"""Medians, quartiles and spreads over run records.

    python3 perfbench/summarize.py [--seeds 1-10] [--dir .perfbench_out]

Reads every record `perfbench/run.py` wrote (one per workload, seed and
trace mode) and prints, per workload and metric, the median and the
first and third quartiles over ALL runs found (no trial is dropped),
the spread (q3 - q1) / median next to the metric's bound, and the
tracing overhead: the traced run's op latency minus the untraced run's,
for seeds that have both.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seed_range(text: str | None) -> set[int] | None:
    if not text:
        return None
    out: set[int] = set()
    for part in text.split(","):
        a, _, b = part.partition("-")
        out.update(range(int(a), int(b or a) + 1))
    return out


def quart(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default=None, help="e.g. 1-10 or 1,4,7")
    ap.add_argument("--dir", default=os.path.join(ROOT, ".perfbench_out"))
    args = ap.parse_args()
    seeds = seed_range(args.seeds)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    recs: dict[tuple[str, int], dict] = {}
    for path in sorted(glob.glob(os.path.join(args.dir, "*.json"))):
        with open(path) as fh:
            r = json.load(fh)
        if seeds is None or r["seed"] in seeds:
            recs[(r["workload"], int(r["trace"]))] = recs.get(
                (r["workload"], int(r["trace"])), {})
            recs[(r["workload"], int(r["trace"]))][r["seed"]] = r
    for (workload, trace), by_seed in sorted(recs.items()):
        runs = list(by_seed.values())
        print(f"== {workload} trace={trace} runs={len(runs)} "
              f"seeds={sorted(by_seed)} correct={sum(r['result']['correct'] for r in runs)}"
              f" steal_max={max(r.get('steal_frac', 0) for r in runs):.3f}"
              f" wall_median={statistics.median(r['wall_s'] for r in runs):.1f}s")
        groups = ("e2e", "details") if not trace else ("layer",)
        for g in groups:
            names = sorted({n for r in runs for n in r[g]})
            for n in names:
                xs = [r[g][n][0] for r in runs if n in r[g]]
                q1, q2, q3 = quart(xs)
                spread = (q3 - q1) / q2 if q2 else float("nan")
                b = bounds.get(n) if g == "e2e" else None
                flag = "" if b is None else f" bound={b} {'OK' if spread <= b / 3 else ('within' if spread <= b else 'OVER')}"
                print(f"  {g:7s} {n:40s} median={q2:12.4f} q1={q1:12.4f} q3={q3:12.4f} "
                      f"spread={spread:.3f}{flag}")
        if trace == 1 and (workload, 0) in recs:
            base = recs[(workload, 0)]
            diffs = [by_seed[s]["e2e"]["op_p50_ms"][0] - base[s]["e2e"]["op_p50_ms"][0]
                     for s in by_seed if s in base]
            if diffs:
                print(f"  tracing overhead (op_p50_ms traced - untraced, same seed): "
                      f"median {statistics.median(diffs):+.1f} ms over {len(diffs)} seed(s)")


if __name__ == "__main__":
    main()
