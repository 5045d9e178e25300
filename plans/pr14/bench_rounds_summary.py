"""Summarise interleaved ``bench.py --only=Q`` rounds.

Input lines: ``round <i> <side> <bench.py JSON line>``, one process
per line, every side once per round (sides rotate their order from
round to round). Prints per side the median and inclusive quartiles
of the query's seconds, and for every side against ``--base`` the
paired deltas (side − base, per round) and how often the side was
lower.

Usage: python plans/pr14/bench_rounds_summary.py FILE [--base parent]
"""

from __future__ import annotations

import argparse
import json
import statistics


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("file")
    ap.add_argument("--base", default="parent")
    args = ap.parse_args()

    runs: dict[str, dict[int, float]] = {}
    for line in open(args.file):
        if not line.startswith("round "):
            continue
        _, i, side, payload = line.split(" ", 3)
        (sec,) = json.loads(payload)["queries"].values()
        runs.setdefault(side.rstrip("2"), {})[int(i)] = sec
    base = runs[args.base]
    for side, by_round in runs.items():
        q1, q2, q3 = quartiles(list(by_round.values()))
        line = f"{side:8s} n={len(by_round):2d} median {q2:.2f} s (IQR {q1:.2f}-{q3:.2f})"
        if side != args.base:
            deltas = [by_round[i] - base[i] for i in sorted(by_round) if i in base]
            lower = sum(d < 0 for d in deltas)
            line += (
                f"; vs {args.base}: lower in {lower}/{len(deltas)}, paired deltas "
                + " ".join(f"{d:+.2f}" for d in deltas)
                + f", median {statistics.median(deltas):+.2f}"
            )
        print(line)


if __name__ == "__main__":
    main()
