"""Dump the PRODUCTION-path executed plan tail (the presentation-sort
shape): unlike ``python -m conduit_spark plan`` this does NOT disable
checkpoint barriers, because the claim under test is precisely the
post-checkpoint sort tail — `Exchange rangepartitioning + Sort`
(before) vs `Coalesce 1 + Sort(local)` (after the r15
`ordered_result` small-result path).

The query is executed via the noop sink first so the dumped plan is
the FINAL adaptive plan, not the pre-execution sketch.

Usage: python scripts/dump_sort_tail.py <outdir> <suffix> name [...]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    outdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("PLAN_SF_DIR", "/root/testdata/sf0.001")
    os.makedirs(outdir, exist_ok=True)

    import __spark_entry__ as entrymod
    from conduit_spark import get_spark
    from conduit_spark.plans import executed_plan

    spark = get_spark("conduit-spark-sort-tail-dump")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.extended_queries()
    for name in names:
        df = queries[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        plan = executed_plan(df)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        tail = (
            "coalesce1"
            if "Coalesce 1" in plan
            else ("range" if "rangepartitioning" in plan else "other")
        )
        print(f"{name}: sort tail = {tail} -> {path}")


if __name__ == "__main__":
    main()
