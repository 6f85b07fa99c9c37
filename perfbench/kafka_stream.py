"""``kafka_stream``: a streaming Kafka-wire pipeline fed by a separate
load process.

Pipeline: ``builtin:kafka`` (wire, streaming) -> ``json.decode`` ->
``field.set`` -> ``filter`` (drops ``grp == 0``) -> ``builtin:kafka``
(wire), 4-partition topics, default (as-fast-as-possible) trigger.

Set-up is the session plus one warm-up drain round. Then:
- drain, ``DRAIN_ROUNDS`` times: stop the query, pre-load ``BACKLOG``
  records, restart the query from its checkpoint and time it until the
  last record is visible at the destination (a traced run traces only
  its last round, so the untraced rounds give the tracing overhead);
- steady: the load process offers ``RATE`` records/s on an open-loop
  schedule for ``--seconds``; each record's latency runs from its due
  time to its first sighting on the destination topic.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

from kafka_load import TOPIC_IN, TOPIC_OUT
from harness import (
    BENCH_DIR,
    WORK,
    SparkRest,
    Tracer,
    covered_seconds,
    percentile,
    stage_totals,
)

BACKLOG = 25_000
DRAIN_ROUNDS = 2
# 1,000 rec/s, well under the 5-7k rec/s a 4-core box drains: each
# trigger's fixed cost of about 1.5 s, not the rows, then sets latency.
# Nearer the drain rate (2,500 and 5,000 rec/s were tried), a host that
# lends the engine less CPU for a while lets the backlog grow, and p50
# swung by a factor of two or more from run to run.
RATE = 1_000
SETTLE_S = 30.0
DRAIN_TIMEOUT_S = 60.0


def pipeline_yaml(bootstrap: str) -> str:
    return f"""
version: "2.2"
pipelines:
  - id: kafka-stream
    connectors:
      - id: src
        type: source
        plugin: builtin:kafka
        settings: {{servers: "{bootstrap}", topic: {TOPIC_IN}, transport: wire}}
      - id: dst
        type: destination
        plugin: builtin:kafka
        settings: {{servers: "{bootstrap}", topic: {TOPIC_OUT}, transport: wire}}
    processors:
      - id: decode
        plugin: json.decode
        settings: {{field: .Payload.After}}
      - id: tag
        plugin: field.set
        settings: {{field: .Payload.After.route, value: bench}}
      - id: drop
        plugin: filter
        condition: '{{{{ eq .Payload.After.grp 0 }}}}'
"""


class LoadProcess:
    def __init__(self, seed: int, max_records: int):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(BENCH_DIR, "kafka_load.py"),
             "--seed", str(seed), "--max-records", str(max_records)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.bootstrap = self._read()["bootstrap"]

    def _read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"load process exited ({self.proc.poll()})")
        return json.loads(line)

    def call(self, **cmd) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return self._read()

    def close(self) -> None:
        try:
            if self.proc.poll() is None:
                self.call(cmd="quit")
        except (OSError, RuntimeError, ValueError):
            pass
        finally:
            try:
                self.proc.wait(timeout=15)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


class ProgressLog:
    """The benchmark's own StreamingQueryListener: keeps every progress
    event of the run (batch id, trigger timestamp, ``durationMs``,
    ``numInputRows``)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.events: list[dict] = []
        self.lock = threading.Lock()
        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                p = event.progress
                end = time.time()
                durations = dict(p.durationMs or {})
                with log.lock:
                    log.events.append({
                        "batch": p.batchId, "run": str(p.runId),
                        "start": end - durations.get("triggerExecution", 0) / 1000.0,
                        "end": end,
                        "rows": int(p.numInputRows or 0),
                        "duration_ms": durations,
                    })

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def window(self, lo: float, hi: float) -> list[dict]:
        """Triggers with input that started in [lo, hi)."""
        with self.lock:
            return [e for e in self.events if lo <= e["start"] < hi and e["rows"] > 0]


def _stop_committed(pipe, query) -> None:
    """Stop once the delivered micro-batches are committed.
    ``Pipeline.stop`` alone can interrupt a batch whose records already
    reached the destination but whose commit is not yet written; the
    restart then delivers it again (seen once in five runs: 81k
    duplicates)."""
    query.processAllAvailable()
    pipe.stop(query)


def run(ctx) -> dict:
    from conduit_spark.pipeline.config import parse_yaml
    from conduit_spark.pipeline.runtime import Pipeline

    import datagen
    from checks import check_kafka

    seconds = ctx.seconds
    n_total = (DRAIN_ROUNDS + 1) * BACKLOG + int(RATE * seconds)
    work = os.path.join(WORK, "kafka_stream")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load = LoadProcess(ctx.seed, n_total)
    ctx.rss.exclude.add(load.proc.pid)
    try:
        grp = datagen.record_columns(ctx.seed, n_total)[0]
        cfg = parse_yaml(pipeline_yaml(load.bootstrap))[0]
        ck = os.path.join(work, "ck")
        first_id = expected_out = 0
        drains, progress, traced_from = [], None, None
        t0 = time.time()
        spark, start_s = ctx.start_spark()
        pipe = Pipeline(spark, cfg)
        # round 0 is the warm-up and belongs to set-up; the last round of
        # a traced run is the traced one
        for rnd in range(DRAIN_ROUNDS + 1):
            traced = ctx.trace and rnd == DRAIN_ROUNDS
            if traced:
                progress = ProgressLog(spark)
            load.call(cmd="load", first_id=first_id, n=BACKLOG)
            expected_out += sum(1 for i in range(first_id, first_id + BACKLOG) if grp[i] != 0)
            first_id += BACKLOG
            tracer = ctx.tracer if traced else Tracer(False)
            with tracer.span("pipeline.drain", f"drain-{rnd}", records=BACKLOG):
                t_start = time.time()
                if traced:
                    traced_from = t_start
                query = pipe.run_streaming(ck, trigger_once=False)
                got = load.call(cmd="await", n=expected_out, timeout=DRAIN_TIMEOUT_S)
            # a drain that times out reads as the timeout; the check counts
            # its missing records
            end = got["last_visible_ms"] / 1000.0 if got["visible"] >= expected_out \
                else t_start + DRAIN_TIMEOUT_S
            if rnd == 0:
                setup_s = end - t0
            else:
                drains.append({"seconds": end - t_start, "traced": traced})
            if rnd < DRAIN_ROUNDS:
                _stop_committed(pipe, query)

        # steady phase on the running query
        steady_from = time.time()
        with ctx.tracer.span("pipeline.steady", "steady", rate=RATE):
            gen = load.call(cmd="steady", first_id=first_id, rate=RATE, seconds=seconds)
        steady_to = time.time()
        n_offered = first_id + gen["sent"]
        expected_out += sum(1 for i in range(first_id, n_offered) if grp[i] != 0)
        settled = load.call(cmd="await", n=expected_out, timeout=SETTLE_S)
        _stop_committed(pipe, query)
        observed_to_ms = time.time() * 1000.0

        out = load.call(cmd="collect")
        records = out["records"]
        attempted, failed, correct, detail = check_kafka(
            grp, 0, n_offered, [r[0] for r in records], out["bad"])
        first_seen: dict[int, tuple] = {}
        for rid, created, visible in records:
            if rid >= first_id and rid not in first_seen:
                first_seen[rid] = (created, visible)
        lat = [v - c for c, v in first_seen.values()]
        # a steady record that never arrived misses every latency limit:
        # it counts with the latency it had reached when observation ended
        missing = [i for i in range(first_id, n_offered)
                   if grp[i] != 0 and i not in first_seen]
        start_ms = steady_from * 1000.0
        lat += [observed_to_ms - (start_ms + (i - first_id) * 1000.0 / RATE)
                for i in missing]
        untraced = [d["seconds"] for d in drains if not d["traced"]]
        res = {
            "setup_s": setup_s,
            "work_s": statistics.median(untraced),
            "latency_ms": lat,
            "named": {"drain_rec_per_s": (BACKLOG / statistics.median(untraced), "rec/s")},
            "attempted": attempted,
            "failed": failed,
            "correct": correct,
            "detail": {**detail, "drains": drains, "generator": gen,
                       "settled_visible": settled["visible"],
                       "expected_visible": expected_out,
                       "drain_rec_per_s": [BACKLOG / d["seconds"] for d in drains]},
        }
        res["layers"] = {"session.start_s": start_s, "session.warmup_s": setup_s - start_s,
                         "loadgen.late_p99_ms": gen["late_p99_ms"]}
        if ctx.trace:
            res["layers"].update(_traced_layers(
                ctx, spark, progress, load, traced_from, steady_from, steady_to,
                drains, n_offered))
        return res
    finally:
        load.close()


def _traced_layers(ctx, spark, progress, load, traced_from, steady_from, steady_to,
                   drains, n_offered) -> dict:
    rest = SparkRest(spark)
    jobs, stages = rest.jobs(), rest.stages()
    drain_events = progress.window(traced_from, steady_from)
    steady_events = progress.window(steady_from, steady_to)
    for e in progress.events:
        ctx.tracer.add("stream.trigger", f"trigger-{e['run'][:8]}-{e['batch']}",
                       e["start"], e["end"], rows=e["rows"], duration_ms=e["duration_ms"])
    for j in jobs:
        if j["start"] and j["end"] and j["start"] >= traced_from:
            ctx.tracer.add("spark.job", f"job-{j['id']}", j["start"], j["end"],
                           job=j["id"], job_name=j["name"], tasks=j["tasks"])

    def med(events, key):
        xs = [e["duration_ms"].get(key, 0) for e in events]
        return percentile(xs, 50) if xs else 0.0

    trig = [e["duration_ms"].get("triggerExecution", 0) for e in steady_events]
    steady_jobs = [j for j in jobs if j["start"] and steady_from <= j["start"] <= steady_to]
    window_jobs = [j for j in jobs if j["start"] and j["start"] >= traced_from]
    read_s = write_s = 0.0
    for j in window_jobs:
        t = stage_totals(j["stages"], stages)
        # per trigger, foreachBatch saves through the wire sink (a noop
        # save around mapInPandas); its other jobs materialise the
        # persisted micro-batch: the source read and the chain
        if j["name"].startswith("save"):
            write_s += t["run_s"]
        else:
            read_s += t["run_s"]
    totals = stage_totals([s for j in window_jobs for s in j["stages"]], stages)
    wall = steady_to - traced_from
    processed = sum(e["rows"] for e in progress.events if e["start"] < steady_to)
    stats = load.call(cmd="broker_stats")
    untraced = [d["seconds"] for d in drains if not d["traced"]]
    traced = [d["seconds"] for d in drains if d["traced"]]
    return {
        "stream.trigger_p50_ms": percentile(trig, 50) if trig else 0.0,
        "stream.trigger_p99_ms": percentile(trig, 99) if trig else 0.0,
        "stream.addBatch_ms": med(steady_events, "addBatch"),
        "stream.latestOffset_ms": med(steady_events, "latestOffset"),
        "stream.queryPlanning_ms": med(steady_events, "queryPlanning"),
        "stream.walCommit_ms": med(steady_events, "walCommit"),
        "stream.commitOffsets_ms": med(steady_events, "commitOffsets"),
        "stream.jobs_per_trigger": len(steady_jobs) / max(1, len(steady_events)),
        "stream.rows_per_trigger": (sum(e["rows"] for e in drain_events)
                                    / max(1, len(drain_events))),
        "stream.backlog_end_records": max(0, n_offered - DRAIN_ROUNDS * BACKLOG - processed),
        "sources.pyds_read_task_s": read_s,
        "sinks.kafka_wire_task_s": write_s,
        "broker.fetch_requests": stats["fetch_requests"],
        "broker.produce_requests": stats["produce_requests"],
        "broker.fetch_bytes": stats["fetch_bytes"],
        "broker.produce_bytes": stats["produce_bytes"],
        "spark.executor_run_s": totals["run_s"],
        "spark.executor_cpu_s": totals["cpu_s"],
        "spark.gc_s": totals["gc_s"],
        "spark.utilization": totals["run_s"] / (wall * ctx.cores),
        "spark.job_coverage": covered_seconds(
            [(j["start"], j["end"]) for j in window_jobs], traced_from, steady_to) / wall,
        "trace.overhead_share": traced[0] / statistics.median(untraced) - 1.0,
    }
