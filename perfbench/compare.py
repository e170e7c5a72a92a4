"""Compare two sets of benchmark reports metric by metric.

    python3 perfbench/compare.py A1/report.json A2/report.json -- B1/report.json ...

Each report is the ``report.json`` a run leaves in its output directory.
Prints, per metric, the median of each set and B's median over A's.
Refuses (exit code 2) when the reports come from hosts with different
core counts, or mix workloads or trace modes: such numbers do not compare.
"""

from __future__ import annotations

import json
import sys

from measure import median


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    sets = []
    for paths in (argv[:cut], argv[cut + 1 :]):
        reports = []
        for p in paths:
            with open(p) as f:
                reports.append(json.load(f))
        sets.append(reports)
    if not all(sets):
        print("each side needs at least one report", file=sys.stderr)
        return 2
    every = sets[0] + sets[1]
    for what, seen in (
        ("nproc", {r["host"]["nproc"] for r in every}),
        ("workload", {r["workload"] for r in every}),
        ("trace", {r["trace"] for r in every}),
    ):
        if len(seen) > 1:
            print(f"refusing: the reports mix {what} {sorted(seen)}", file=sys.stderr)
            return 2
    a, b = sets
    print(f"{'metric':32s} {'A median':>12s} {'B median':>12s} {'B/A':>8s}  unit")
    for name, m in a[0]["metrics"].items():
        ma = median(r["metrics"][name]["value"] for r in a)
        mb = median(r["metrics"][name]["value"] for r in b)
        ratio = f"{mb / ma:8.3f}" if ma else "       -"
        print(f"{name:32s} {ma:12.4f} {mb:12.4f} {ratio}  {m['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
