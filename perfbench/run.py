"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload against the program in the enclosing checkout, checks
its outputs, prints each metric with its unit and, as the last line, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its
per-layer metrics with ``--trace 1``). The full record (environment,
check details, every sample and, when traced, the spans) is written to
``.perfbench_out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

import harness  # noqa: E402

WORKLOADS = ("analytics_batch", "kafka_stream", "file_pipeline_dlq")


class Context:
    """What a workload needs from the runner."""

    def __init__(self, args, tracer: harness.Tracer, rss: harness.TreeRSS):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.tracer = tracer
        self.rss = rss
        self.cores = harness.nproc()
        self.spark = None

    def start_spark(self):
        """Start the engine's session; returns it with its start time."""
        from conduit_spark import get_spark

        t = time.time()
        spark = get_spark("perfbench", extra_conf=harness.spark_extra_conf())
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        return spark, time.time() - t

    def stop_spark(self) -> None:
        """Stop the session and wait for its JVM (and with it the Python
        workers) to exit: the gateway JVM ends when its stdin closes."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)


def end_to_end(res: dict, peak_rss_mb: float) -> dict:
    lat = res["latency_ms"]
    return {
        "setup_s": res["setup_s"],
        "peak_rss_mb": peak_rss_mb,
        "work_s": res["work_s"],
        "latency_p50_ms": harness.percentile(lat, 50),
        "latency_p99_ms": harness.percentile(lat, 99),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    pinned = harness.pin_environment()
    import conduit_spark  # noqa: F401 — fail before any work without the program

    env = harness.environment_record(pinned)
    cpu_start = harness.cpu_times()
    module = __import__(args.workload)
    tracer = harness.Tracer(bool(args.trace))
    ctx = None
    try:
        with harness.TreeRSS() as rss:
            ctx = Context(args, tracer, rss)
            res = module.run(ctx)
    finally:
        if ctx is not None and ctx.spark is not None:
            ctx.stop_spark()

    env["cpu_steal_share"] = harness.steal_share(cpu_start, harness.cpu_times())
    env["loadavg_end"] = os.getloadavg()[0]
    e2e = end_to_end(res, rss.peak_mb)
    layers = res.get("layers", {})
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layers if args.trace else e2e
    # a layer the workload does not exercise did no work: it reports 0
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "environment": env, "end_to_end": e2e,
              "named": res["named"], "layers": layers,
              "attempted": res["attempted"], "failed": res["failed"],
              "correct": res["correct"], "detail": res["detail"]}
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    if args.trace:
        tracer.write(os.path.join(harness.OUT, "spans-" + name), {"run": record})
    with open(os.path.join(harness.OUT, name), "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"nproc={env['nproc']} load={env['loadavg_start']:.2f} "
          f"steal={env['cpu_steal_share']:.2%} "
          f"spark={env['spark']} python={env['python']} java={env['java']}")
    for k, v in e2e.items():
        print(f"{k} = {v:.4f} {units.get(k, '')}")
    # the same figures under the names the workload's own users know
    for k, (v, unit) in res["named"].items():
        print(f"{k} = {v:.4f} {unit}")
    for k, v in sorted(layers.items()):
        print(f"  {k} = {v:.6g} {units.get(k, 's' if k.endswith('_s') else 'count')}")
    print(f"correct={res['correct']} attempted={res['attempted']} failed={res['failed']} "
          f"failure_share={res['failed'] / max(1, res['attempted']):.4%}")
    harness.emit(res["correct"], res["attempted"], res["failed"], metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
