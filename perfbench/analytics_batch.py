"""``analytics_batch``: gate queries over generated tables, each run
through a ``noop`` write.

Set-up is the session, one priming pass, which also collects every
query's rows for the oracle check, and one untimed warm pass. Timed
passes follow until ``--seconds`` have gone by, at least three, each in
an order drawn from the seed. Each query's time is its median over the
timed passes; ``work_s`` is the sum of those medians and the latency
percentiles run over them, so one pass slowed by a busy host moves
neither. A traced run alternates untraced and traced passes; end-to-end
numbers come from the untraced ones only.
"""

from __future__ import annotations

import os
import random
import re
import statistics
import time

from harness import (
    WORK,
    SparkRest,
    Tracer,
    covered_seconds,
    geomean,
    persisted_rdds,
    stage_totals,
)

# The ROADMAP's optimisation targets, one query per mechanism: the
# md5/minhash kernel (d_containment_pairs), a multi-exchange AQE plan of
# 17 jobs (q2_min_cost_supplier), an iteration loop (smp_coreset), a
# sort-converted ``ordered_result`` query (q_bucketed_join) and the
# bloom probe (q_bloom_prune_join). Five, not more: the cold priming
# pass of every query is paid in each run's set-up, and a short pass
# lets every timed query run at least three times.
QUERIES = (
    "d_containment_pairs", "q2_min_cost_supplier", "smp_coreset", "q_bucketed_join",
    "q_bloom_prune_join",
)
DATA_SEED = 20_261_017  # the tables are fixed; the workload seed sets the order


def tables_dir() -> str:
    import datagen

    sf = os.path.join(WORK, f"analytics_sf_{DATA_SEED}")
    marker = os.path.join(sf, "_complete")
    if not os.path.exists(marker):
        datagen.write_analytics_tables(DATA_SEED, sf)
        open(marker, "w").close()
    return sf


def oracle_rows(sf: str, names) -> dict:
    import duckdb

    import __spark_entry__ as entry
    from conduit_spark.sources.tables import TABLE_NAMES

    sql = entry.extended_oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf, t + '.parquet')}')")
        out = {}
        for q in names:
            try:
                pdf = con.execute(sql[q]).df()
                out[q] = (list(pdf.columns),
                          [tuple(r) for r in pdf.itertuples(index=False, name=None)])
            except Exception as e:  # noqa: BLE001 — recorded as a failed check
                out[q] = f"oracle {type(e).__name__}: {e}"
        return out
    finally:
        con.close()


def run(ctx) -> dict:
    import __spark_entry__ as entry
    from checks import check_analytics

    fns = entry.extended_queries()
    sf = tables_dir()
    rng = random.Random(ctx.seed)

    t0 = time.time()
    spark, start_s = ctx.start_spark()
    sc = spark.sparkContext
    collected, attempted, failed = {}, 0, 0
    for q in rng.sample(QUERIES, len(QUERIES)):
        attempted += 1
        try:
            df = fns[q](spark, sf)
            collected[q] = (list(df.columns), [tuple(r) for r in df.collect()])
        except Exception as e:  # noqa: BLE001 — counted as a failed query
            collected[q] = f"{type(e).__name__}: {e}"
    # the pass after the cold one still runs up to 30% slower than later
    # ones, as the JIT catches up: run it untimed
    for q in rng.sample(QUERIES, len(QUERIES)):
        attempted += 1
        try:
            fns[q](spark, sf).write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001 — counted as a failed query
            failed += 1
    setup_s = time.time() - t0

    passes = []
    t_meas = time.time()
    # three passes give every query a median; a traced run needs untraced
    # passes on both sides of a traced one
    min_passes = 3
    while len(passes) < min_passes or time.time() - t_meas < ctx.seconds:
        k = len(passes)
        traced = ctx.trace and k % 2 == 1
        tracer = ctx.tracer if traced else Tracer(False)
        p = {"traced": traced, "start": time.time(), "queries": {}}
        for q in rng.sample(QUERIES, len(QUERIES)):
            attempted += 1
            group = f"p{k}.{q}"
            if traced:
                sc.setJobGroup(group, q)
            with tracer.span("analytics.query", group, query=q) as sp:
                t = time.time()
                try:
                    with tracer.span("analytics.construct", group):
                        df = fns[q](spark, sf)
                    c = time.time()
                    with tracer.span("analytics.execute", group):
                        df.write.format("noop").mode("overwrite").save()
                    e = time.time()
                except Exception:  # noqa: BLE001 — a failed query has no time
                    failed += 1
                    continue
                finally:
                    if traced:
                        sc.setLocalProperty("spark.jobGroup.id", None)
                if traced:
                    sp["persisted_rdds"] = persisted_rdds(spark)
            p["queries"][q] = {"start": t, "construct_s": c - t, "execute_s": e - c,
                               "end": e, "persisted_rdds": sp and sp["persisted_rdds"]}
        p["end"] = time.time()
        p["total_s"] = sum(v["construct_s"] + v["execute_s"] for v in p["queries"].values())
        passes.append(p)

    _, n_bad, correct, detail = check_analytics(collected, oracle_rows(sf, QUERIES))
    untraced = [p for p in passes if not p["traced"]]
    # a query that failed in some pass has its median over the others
    typical_s = [statistics.median(p["queries"][q]["construct_s"]
                                   + p["queries"][q]["execute_s"]
                                   for p in untraced if q in p["queries"])
                 for q in QUERIES if any(q in p["queries"] for p in untraced)]
    res = {
        "setup_s": setup_s,
        "work_s": sum(typical_s),
        "latency_ms": [1000.0 * t for t in typical_s],
        "named": {"query_total_s": (sum(typical_s), "s"),
                  "query_geomean_s": (geomean(typical_s), "s")},
        "attempted": attempted,
        "failed": failed + n_bad,
        "correct": correct,
        "detail": {"oracle": detail, "passes": [
            {"traced": p["traced"], "total_s": p["total_s"],
             "queries": {q: v["construct_s"] + v["execute_s"]
                         for q, v in p["queries"].items()}} for p in passes]},
        "layers": {"session.start_s": start_s, "session.warmup_s": setup_s - start_s},
    }
    if ctx.trace:
        res["layers"].update(_traced_layers(ctx, spark, passes))
    return res


def _traced_layers(ctx, spark, passes) -> dict:
    rest = SparkRest(spark)
    jobs, stages, executions = rest.jobs(), rest.stages(), rest.sql()
    by_group: dict[str, list] = {}
    for j in jobs:
        by_group.setdefault(j["group"], []).append(j)
        if j["group"]:
            ctx.tracer.add("spark.job", j["group"], j["start"], j["end"],
                           job=j["id"], tasks=j["tasks"])
    job_exchanges: dict[int, int] = {}
    python_ms: dict[int, float] = {}
    for ex in executions:
        ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
        n_ex = sum("Exchange" in n.get("nodeName", "") for n in ex.get("nodes", []))
        py = sum(_python_time_ms(n) for n in ex.get("nodes", []))
        if ids:
            job_exchanges[min(ids)] = job_exchanges.get(min(ids), 0) + n_ex
            python_ms[min(ids)] = python_ms.get(min(ids), 0.0) + py

    traced = [p for p in passes if p["traced"]]
    per_q: dict[str, dict[str, list]] = {q: {} for q in QUERIES}
    pass_tot: list[dict] = []
    for k, p in enumerate(passes):
        if not p["traced"]:
            continue
        tot = {"jobs": 0, "stages": 0, "tasks": 0, "exchanges": 0, "spill_bytes": 0,
               "python_udf_s": 0.0, "driver_gap_s": 0.0, "run_s": 0.0, "cpu_s": 0.0,
               "gc_s": 0.0}
        for q, v in p["queries"].items():
            js = by_group.get(f"p{k}.{q}", [])
            st = stage_totals([s for j in js for s in j["stages"]], stages)
            gap = (v["end"] - v["start"]) - covered_seconds(
                [(j["start"], j["end"]) for j in js], v["start"], v["end"])
            row = per_q[q]
            for key, val in (("construct_s", v["construct_s"]),
                             ("execute_s", v["execute_s"]), ("jobs", len(js)),
                             ("shuffle_bytes", st["shuffle_bytes"])):
                row.setdefault(key, []).append(val)
            tot["jobs"] += len(js)
            tot["stages"] += st["stages"]
            tot["tasks"] += st["tasks"]
            tot["spill_bytes"] += st["spill_bytes"]
            tot["driver_gap_s"] += gap
            tot["run_s"] += st["run_s"]
            tot["cpu_s"] += st["cpu_s"]
            tot["gc_s"] += st["gc_s"]
            tot["exchanges"] += sum(job_exchanges.get(j["id"], 0) for j in js)
            tot["python_udf_s"] += sum(python_ms.get(j["id"], 0.0) for j in js) / 1000.0
        tot["wall_s"] = p["end"] - p["start"]
        tot["geomean_s"] = geomean(v["construct_s"] + v["execute_s"]
                                   for v in p["queries"].values())
        tot["persisted_rdds_left"] = list(p["queries"].values())[-1]["persisted_rdds"]
        pass_tot.append(tot)

    def med(key):
        return statistics.median(t[key] for t in pass_tot)

    out = {}
    for q, row in per_q.items():
        for key, vals in row.items():
            out[f"analytics.{q}.{key}"] = statistics.median(vals)
    out.update({f"analytics.{k}": med(k) for k in (
        "jobs", "stages", "tasks", "exchanges", "spill_bytes", "python_udf_s",
        "driver_gap_s")})
    out["analytics.query_geomean_s"] = med("geomean_s")
    out["plans.persisted_rdds_left"] = med("persisted_rdds_left")
    out["spark.executor_run_s"] = med("run_s")
    out["spark.executor_cpu_s"] = med("cpu_s")
    out["spark.gc_s"] = med("gc_s")
    out["spark.utilization"] = statistics.median(
        t["run_s"] / (t["wall_s"] * ctx.cores) for t in pass_tot)
    out["spark.job_coverage"] = statistics.median(
        1.0 - t["driver_gap_s"] / t["wall_s"] for t in pass_tot)
    untraced = statistics.median(p["total_s"] for p in passes if not p["traced"])
    out["trace.overhead_share"] = statistics.median(
        p["total_s"] for p in traced) / untraced - 1.0
    return out


def _python_time_ms(node: dict) -> float:
    """``time to run Python workers`` of a Python evaluation node (task
    time summed over tasks); nodes without the metric add nothing."""
    for m in node.get("metrics", []):
        if m.get("name") == "time to run Python workers":
            return _parse_ms(m.get("value", ""))
    return 0.0


def _parse_ms(text: str) -> float:
    """The total of a Spark UI timing such as
    ``total (min, med, max ...)\n5.6 s (1.4 s, ...)`` or ``350 ms``."""
    m = re.search(r"([\d.,]+)\s*(ms|s|m|h)\b", text.split("\n")[-1])
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0}[m.group(2)]
