"""Check that the traced run's count metrics repeat exactly.

    python3 perfbench/repeat_counts.py --workload serving_mix --seed 3

runs the traced benchmark twice with one seed and compares every
count metric (Spark jobs / stages / tasks per operation, the ACID
table's log entries and data files, and the sources' files scanned and
latest-row share) for exact equality. ``acid.bytes_per_live_row`` may
differ by a few bytes, since the board rows and its log carry commit
timestamps; it is compared within 1%. Exits 1 on any other difference.
A claim resting on one of these counts needs them to repeat, so run
this before making one.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COUNT_PREFIXES = ("spark.", "acid.log_entries", "acid.data_files",
                  "acid.bytes_per_live_row", "sources.files_scanned",
                  "sources.latest_row_share")
#: metric → relative difference allowed between the two runs
TOLERANCE = {"acid.bytes_per_live_row": 0.01}


def traced_counts(workload: str, seed: int, seconds: int) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        check=True, capture_output=True, text=True,
    ).stdout
    metrics = json.loads(out.strip().splitlines()[-1])["metrics"]
    return {k: v["value"] for k, v in metrics.items() if k.startswith(COUNT_PREFIXES)}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=5)
    args = p.parse_args()
    first = traced_counts(args.workload, args.seed, args.seconds)
    second = traced_counts(args.workload, args.seed, args.seconds)
    diff = {k: (first[k], second[k]) for k in first
            if abs(first[k] - second[k]) > TOLERANCE.get(k, 0.0) * abs(first[k])}
    for k in sorted(first):
        if first[k]:
            mark = "DIFFERS" if k in diff else "same"
            print(f"{k:44s} {first[k]:>12g} {second[k]:>12g}  {mark}")
    print(f"{args.workload} seed {args.seed}: {len(first) - len(diff)} of {len(first)} "
          "count metrics repeat exactly")
    return 1 if diff else 0


if __name__ == "__main__":
    sys.exit(main())
