"""Compare two sets of perfbench result records, workload by workload.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds the ``<workload>-seed<n>-trace0.json`` records
that ``run.py`` writes to ``.perfbench/results``. For every workload
and end-to-end metric this prints both medians, their ratio and
whether NEW is worse than BASE by more than the metric's bound in
BENCHMARK.json. Records taken at different core counts are refused:
a local[4] number says nothing about a local[8] one.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(directory: str) -> dict[str, list[dict]]:
    by_workload: dict[str, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(directory, "*-trace0.json"))):
        with open(path) as f:
            rec = json.load(f)
        by_workload.setdefault(rec["workload"], []).append(rec)
    return by_workload


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[0]), load(argv[1])
    cores = {(r["nproc"], r["local_n"]) for recs in (*base.values(), *new.values()) for r in recs}
    if len(cores) != 1:
        print(f"refusing to compare runs taken at different core counts (nproc, local[N]): {sorted(cores)}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    worse = 0
    for workload in sorted(set(base) & set(new)):
        for m in metrics:
            b = statistics.median(r["e2e"][m["name"]] for r in base[workload])
            n = statistics.median(r["e2e"][m["name"]] for r in new[workload])
            ratio = n / b
            regressed = ratio > 1 + m["bound"] if m["better"] == "lower" else ratio < 1 - m["bound"]
            worse += regressed
            print(f"{workload:<11} {m['name']:<13} base {b:10.4f} new {n:10.4f} {m['unit']:<3} "
                  f"x{ratio:.3f} (n={len(base[workload])}/{len(new[workload])})"
                  f"{'  WORSE than bound ' + str(m['bound']) if regressed else ''}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
