"""Interleaved parent/change pairs of ``perfbench/run.py``, one process per run.

    python plans/pr10/ab_pairs.py run --parent P --change C --workload W \
        --seeds 1001-1010 --cache DIR --raw FILE [--change-first]
    python plans/pr10/ab_pairs.py summary FILE [FILE ...]

``run`` alternates which side goes first inside a pair and points
``XDG_CACHE_HOME`` of both sides at ``--cache``, so the change's first
run on an empty cache is the one that records the class-data archive.
Each run appends one JSON line to ``--raw``: the perfbench metrics, the
process's own wall and CPU time (the archive dump at JVM exit included;
Python workers that outlive the JVM are not in the CPU time) and the
lines the package printed about class-data sharing.
``summary`` prints per workload and metric the pairs, medians,
inclusive quartiles and how often the change was lower.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import subprocess
import sys
import time

METRICS = ("setup_s", "cold_run_cpu_s", "cold_run_s", "peak_rss_mb")


def one_run(root: str, workload: str, seed: int, cache: str) -> dict:
    env = {**os.environ, "XDG_CACHE_HOME": cache}
    ru0, t0 = resource.getrusage(resource.RUSAGE_CHILDREN), time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "0"],
        cwd=root, env=env, capture_output=True, text=True,
    )
    wall = time.perf_counter() - t0
    ru1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    rec = {"rc": proc.returncode, "process_wall_s": round(wall, 2),
           "process_cpu_s": round(ru1.ru_utime + ru1.ru_stime - ru0.ru_utime - ru0.ru_stime, 2)}
    for line in proc.stdout.splitlines():
        parts = line.split()
        if len(parts) == 3 and parts[0] in METRICS:
            rec[parts[0]] = float(parts[1])
        elif line.startswith('{"correct"'):
            final = json.loads(line)
            rec["correct"], rec["failed"] = final["correct"], final["failed"]
    rec["cds"] = [ln for ln in proc.stderr.splitlines() if ln.startswith("class-data sharing:")]
    return rec


def run(args) -> None:
    lo, hi = map(int, args.seeds.split("-"))
    change_first = args.change_first
    for seed in range(lo, hi + 1):
        sides = ["change", "parent"] if change_first else ["parent", "change"]
        for side in sides:
            root = args.change if side == "change" else args.parent
            rec = {"workload": args.workload, "seed": seed, "side": side,
                   "cache": args.cache, **one_run(root, args.workload, seed, args.cache)}
            with open(args.raw, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(json.dumps(rec), flush=True)
        change_first = not change_first


def quartiles(xs: list[float]) -> tuple[float, float]:
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summary(files: list[str]) -> None:
    recs = [json.loads(ln) for f in files for ln in open(f) if ln.strip()]
    for (workload, cache) in dict.fromkeys((r["workload"], r["cache"]) for r in recs):
        rs = [r for r in recs if r["workload"] == workload and r["cache"] == cache]
        side = {(r["seed"], r["side"]): r for r in rs}
        seeds = sorted({s for s, _ in side if (s, "parent") in side and (s, "change") in side})
        print(f"{workload}: {len(seeds)} pairs, seeds {seeds[0]}-{seeds[-1]}, "
              f"cache {os.path.basename(cache)}")
        for m in METRICS:
            p = [side[s, "parent"][m] for s in seeds]
            c = [side[s, "change"][m] for s in seeds]
            wins = sum(ci < pi for pi, ci in zip(p, c))
            pq, cq = quartiles(p), quartiles(c)
            pm, cm = statistics.median(p), statistics.median(c)
            print(f"  {m}: change lower in {wins}/{len(seeds)}; parent median {pm:.2f} "
                  f"IQR {pq[0]:.2f}-{pq[1]:.2f}; change median {cm:.2f} IQR {cq[0]:.2f}-{cq[1]:.2f}; "
                  f"ratio {cm / pm:.3f}; median gap {pm - cm:.2f} vs parent IQR width "
                  f"{pq[1] - pq[0]:.2f}")
        print(f"  {'seed':>5} {'side':7} " + " ".join(f"{m:>14}" for m in METRICS)
              + f" {'proc_wall_s':>11} {'proc_cpu_s':>10} correct failed  cds")
        for s in seeds:
            for sd in ("parent", "change"):
                r = side[s, sd]
                cds = "record" if any("recording" in x for x in r["cds"]) else (
                    "; ".join(r["cds"]) or "-")
                print(f"  {s:>5} {sd:7} " + " ".join(f"{r[m]:>14.2f}" for m in METRICS)
                      + f" {r['process_wall_s']:>11.2f} {r['process_cpu_s']:>10.2f} "
                      f"{str(r['correct']):7} {r['failed']:>6}  {cds}")
        print()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    for flag in ("--parent", "--change", "--workload", "--seeds", "--cache", "--raw"):
        r.add_argument(flag, required=True)
    r.add_argument("--change-first", action="store_true")
    s = sub.add_parser("summary")
    s.add_argument("files", nargs="+")
    args = ap.parse_args()
    run(args) if args.cmd == "run" else summary(args.files)


if __name__ == "__main__":
    main()
