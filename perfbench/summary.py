"""Spread of the end-to-end metrics over the untraced runs of a workload.

    python3 perfbench/summary.py <workload> [<out_dir>]

Reads ``.perfbench_out/<workload>-seed*-trace0.json`` and prints, per
metric, the median, the quartiles (``statistics.quantiles(n=4)``) and
the quartile spread as a share of the median: the figure each metric's
``bound`` in ``BENCHMARK.json`` is compared against.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import OUT, quartile_spread  # noqa: E402


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__)
        return 2
    workload = argv[0]
    out_dir = argv[1] if len(argv) > 1 else OUT
    runs = []
    for path in sorted(glob.glob(os.path.join(out_dir, f"{workload}-seed*-trace0.json"))):
        with open(path) as f:
            runs.append(json.load(f))
    if len(runs) < 4:
        print(f"{workload}: {len(runs)} untraced runs in {out_dir}; need at least 4")
        return 1
    failed = sum(r["failed"] for r in runs)
    attempted = sum(r["attempted"] for r in runs)
    print(f"{workload}: {len(runs)} runs, seeds {sorted(r['seed'] for r in runs)}, "
          f"all correct: {all(r['correct'] for r in runs)}, "
          f"failed {failed} of {attempted}")
    for name in runs[0]["end_to_end"]:
        xs = [r["end_to_end"][name] for r in runs]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        print(f"  {name:16s} median {q2:12.4f}  Q1 {q1:12.4f}  Q3 {q3:12.4f}  "
              f"spread {quartile_spread(xs):.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
