"""Interleaved parent/change pairs of ``perfbench/run.py`` where each side
keeps its own class-data cache, so each side's ``session.py`` alone
records, chooses and cleans its archives.

    python plans/pr11/ab_pairs_per_side.py --parent P --change C --workload W \
        --seeds 1201-1210 --caches DIR --raw FILE [--change-first] [--stale]
    python plans/pr10/ab_pairs.py summary FILE [FILE ...]

The caches are ``DIR/parent`` and ``DIR/change`` (``XDG_CACHE_HOME`` of
each side). ``--stale`` first puts into each cache an archive and a
recording count of a key no run uses, 31 days old, and afterwards prints
whether each is still there: with empty caches the first run of each
side records and promotes its archive, and the change deletes the stale
files on promotion. Runs and raw lines as in ``plans/pr10/ab_pairs.py``;
the ``cache`` field of each line is ``per-side``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "pr10"))

from ab_pairs import one_run  # noqa: E402


def cds_dir(cache: str) -> str:
    return os.path.join(cache, "stock_indicators_etl_spark", "cds")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    for flag in ("--parent", "--change", "--workload", "--seeds", "--caches", "--raw"):
        ap.add_argument(flag, required=True)
    ap.add_argument("--change-first", action="store_true")
    ap.add_argument("--stale", action="store_true")
    args = ap.parse_args()
    caches = {side: os.path.join(args.caches, side) for side in ("parent", "change")}
    stale = [os.path.join(cds_dir(c), "0" * 24 + ext) for c in caches.values()
             for ext in (".jsa", ".recordings")]
    if args.stale:
        old = time.time() - 31 * 24 * 3600
        for path in stale:
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as f:
                f.write(b"\0" * 4096)
            os.utime(path, (old, old))
    lo, hi = map(int, args.seeds.split("-"))
    change_first = args.change_first
    for seed in range(lo, hi + 1):
        for side in (["change", "parent"] if change_first else ["parent", "change"]):
            root = args.change if side == "change" else args.parent
            rec = {"workload": args.workload, "seed": seed, "side": side,
                   "cache": "per-side", **one_run(root, args.workload, seed, caches[side])}
            with open(args.raw, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(json.dumps(rec), flush=True)
        change_first = not change_first
    if args.stale:
        for path in stale:
            print(f"{os.path.relpath(path, args.caches)}: "
                  f"{'present' if os.path.exists(path) else 'deleted'}")


if __name__ == "__main__":
    main()
