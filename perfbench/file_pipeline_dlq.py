"""``file_pipeline_dlq``: one large batch through ``Pipeline.run_batch``.

``builtin:file`` (text lines) -> ``json.decode`` -> ``field.convert``
-> ``field.set`` -> ``error`` (``id % 50 == 0``, nacked to a file DLQ)
-> ``filter`` (drops ``grp == 0``) -> ``builtin:file`` (JSON).

Set-up is the session plus one run over a small warm-up input. Timed
runs over the seeded input follow until ``--seconds`` have gone by; the
last run's destination and DLQ are checked. A traced run alternates
untraced and traced runs, then times prefix passes of the same plan:
the source alone, the source with the processor chain, and the
destination write of a persisted copy.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time

from harness import WORK, SparkRest, Tracer, stage_totals

N_RECORDS = 150_000
N_FILES = 8
WARMUP_RECORDS = 20_000
DLQ_EVERY = 50


def pipeline_yaml(in_dir: str, out_dir: str, dlq_dir: str) -> str:
    return f"""
version: "2.2"
pipelines:
  - id: file-dlq
    connectors:
      - id: src
        type: source
        plugin: builtin:file
        settings: {{path: "{in_dir}", format: text}}
      - id: dst
        type: destination
        plugin: builtin:file
        settings: {{path: "{out_dir}", format: json}}
    processors:
      - id: decode
        plugin: json.decode
        settings: {{field: .Payload.After}}
      - id: convert
        plugin: field.convert
        settings: {{field: .Payload.After.amount, type: int}}
      - id: tag
        plugin: field.set
        settings: {{field: .Payload.After.route, value: bench}}
      - id: poison
        plugin: error
        condition: '{{{{ eq (mod .Payload.After.id {DLQ_EVERY}) 0 }}}}'
      - id: drop
        plugin: filter
        condition: '{{{{ eq .Payload.After.grp 0 }}}}'
    dead-letter-queue:
      plugin: builtin:file
      settings: {{path: "{dlq_dir}", format: json}}
      window-nack-threshold: {10 * N_RECORDS}
"""


def _input(seed: int, n: int, name: str) -> str:
    import datagen

    d = os.path.join(WORK, "file_pipeline", f"{name}-seed{seed}-n{n}")
    marker = os.path.join(d, "_complete")
    if not os.path.exists(marker):
        shutil.rmtree(d, ignore_errors=True)
        datagen.write_jsonl_files(seed, n, N_FILES, os.path.join(d, "in"))
        open(marker, "w").close()
    return d


def _ids(out_dir: str) -> tuple[list[int], int]:
    """Record ids in a JSON destination, and records whose payload lost
    the converted ``amount`` or the ``route`` set by ``field.set``."""
    ids, bad = [], 0
    for path in glob.glob(os.path.join(out_dir, "*.json")):
        with open(path) as f:
            for line in f:
                payload = json.loads(json.loads(line)["payload_after_json"])
                ids.append(payload["id"])
                bad += payload.get("route") != "bench" or not isinstance(
                    payload.get("amount"), int)
    return ids, bad


def run(ctx) -> dict:
    from conduit_spark.pipeline.config import parse_yaml
    from conduit_spark.pipeline.runtime import Pipeline

    import datagen
    from checks import check_file_split

    data = _input(ctx.seed, N_RECORDS, "main")
    warm = _input(ctx.seed + 1, WARMUP_RECORDS, "warm")
    out_dir, dlq_dir = os.path.join(data, "out"), os.path.join(data, "dlq")

    def fresh(base: str):
        for d in ("out", "dlq"):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
        return parse_yaml(pipeline_yaml(os.path.join(base, "in"), os.path.join(base, "out"),
                                        os.path.join(base, "dlq")))[0]

    t0 = time.time()
    spark, start_s = ctx.start_spark()
    Pipeline(spark, fresh(warm)).run_batch()
    setup_s = time.time() - t0

    sc = spark.sparkContext
    runs = []
    t_meas = time.time()
    while not runs or time.time() - t_meas < ctx.seconds or (ctx.trace and len(runs) < 3):
        k = len(runs)
        traced = ctx.trace and k % 2 == 1
        tracer = ctx.tracer if traced else Tracer(False)
        cfg = fresh(data)
        if traced:
            sc.setJobGroup(f"run{k}", "run_batch")
        with tracer.span("pipeline.run_batch", f"run{k}"):
            t = time.time()
            res = Pipeline(spark, cfg).run_batch()
            runs.append({"traced": traced, "start": t, "seconds": time.time() - t,
                         "dlq": res.dlq_routed, "delivered": res.delivered.get("dst", 0)})
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)

    grp = datagen.record_columns(ctx.seed, N_RECORDS)[0]
    dest_ids, bad_dest = _ids(out_dir)
    dlq_ids, bad_dlq = _ids(dlq_dir)
    attempted, failed, correct, detail = check_file_split(
        grp, N_RECORDS, dest_ids, dlq_ids, DLQ_EVERY)
    detail["bad_content"] = bad_dest + bad_dlq
    detail["runs"] = runs
    untraced = [r["seconds"] for r in runs if not r["traced"]]
    res = {
        "setup_s": setup_s,
        "work_s": statistics.median(untraced),
        # every record of a batch run becomes visible when its run ends
        "latency_ms": [1000.0 * s for s in untraced],
        "named": {"pipeline_rec_per_s": (N_RECORDS / statistics.median(untraced), "rec/s")},
        "attempted": attempted,
        "failed": failed,
        "correct": correct and bad_dest + bad_dlq == 0,
        "detail": detail,
        "layers": {"session.start_s": start_s, "session.warmup_s": setup_s - start_s},
    }
    if ctx.trace:
        res["layers"].update(_traced_layers(ctx, spark, cfg, runs))
    for d in (out_dir, dlq_dir):
        shutil.rmtree(d, ignore_errors=True)
    return res


def _traced_layers(ctx, spark, cfg, runs) -> dict:
    from conduit_spark.operators.base import ERROR_COL
    from conduit_spark.pipeline.registry import (
        build_processor,
        build_source,
        write_destination,
    )
    from conduit_spark.pipeline.runtime import Pipeline

    src = cfg.sources[0]
    dst = cfg.destinations[0]

    def source():
        return build_source(spark, src.plugin, src.settings, src.id, streaming=False)

    def chained():
        df = source()
        for p in cfg.processors:
            df = build_processor(p.plugin, p.settings, p.condition)(df)
        return df

    def timed(name: str, fn) -> float:
        with ctx.tracer.span(name, "prefix"):
            t = time.time()
            fn()
            return time.time() - t

    noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
    scan_s = statistics.median(timed("sources.file_scan", lambda: noop(source()))
                               for _ in range(2))
    chain_total = statistics.median(timed("operators.chain", lambda: noop(chained()))
                                    for _ in range(2))
    build_s = timed("pipeline.build_batch", lambda: Pipeline(spark, cfg).build_batch())
    ok = chained().persist()
    ok.count()
    sink_dir = dst.settings["path"] + "-prefix"
    try:
        ok_rows = ok.filter(ok[ERROR_COL].isNull()).drop(ERROR_COL)
        write_s = timed("sinks.file_write", lambda: write_destination(
            ok_rows, dst.plugin, {**dst.settings, "path": sink_dir}))
    finally:
        ok.unpersist()
        shutil.rmtree(sink_dir, ignore_errors=True)

    rest = SparkRest(spark)
    jobs, stages = rest.jobs(), rest.stages()
    traced = [(k, r) for k, r in enumerate(runs) if r["traced"]]
    per_run = []
    for k, r in traced:
        js = [j for j in jobs if j["group"] == f"run{k}"]
        st = stage_totals([s for j in js for s in j["stages"]], stages)
        per_run.append({"jobs": len(js), **st, "wall_s": r["seconds"]})
        for j in js:
            ctx.tracer.add("spark.job", f"run{k}", j["start"], j["end"], job=j["id"],
                           tasks=j["tasks"])
    run_s = statistics.median(r["seconds"] for _, r in traced)
    untraced = statistics.median(r["seconds"] for r in runs if not r["traced"])

    def med(key):
        return statistics.median(p[key] for p in per_run)

    return {
        "sources.file_scan_s": scan_s,
        "operators.chain_s": chain_total - scan_s,
        "sinks.file_write_s": write_s,
        "pipeline.build_batch_s": build_s,
        "pipeline.jobs_per_run": med("jobs"),
        "pipeline.deliver_overhead_s": run_s - chain_total - write_s,
        "pipeline.dlq_records": statistics.median(r["dlq"] for _, r in traced),
        "spark.executor_run_s": med("run_s"),
        "spark.executor_cpu_s": med("cpu_s"),
        "spark.gc_s": med("gc_s"),
        "spark.utilization": statistics.median(
            p["run_s"] / (p["wall_s"] * ctx.cores) for p in per_run),
        "trace.overhead_share": run_s / untraced - 1.0,
    }
