"""Shared machinery of the benchmark: statistics, the pinned environment,
the engine-tree memory sampler, the span tracer and the Spark probes.

Nothing here imports the program under test at module load, so the unit
tests and the load process import this file without starting Spark.
"""

from __future__ import annotations

import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")


# ---- statistics -----------------------------------------------------------


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100] (numpy's default
    method). Raises on an empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median with ``statistics.quantiles(values, n=4)`` —
    the run-to-run spread a metric's bound is compared against."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def geomean(values) -> float:
    xs = list(values)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


# ---- environment ----------------------------------------------------------


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_gb() -> int:
    """An eighth of physical memory, 1-2 GiB: the whole engine runs in
    one local-mode JVM on a machine other workloads share, and the
    benchmark's inputs are small."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(1, min(2, total_kb // (8 * 1024 * 1024)))


def pin_environment() -> dict:
    """Set the engine's environment before any JVM starts; returns it.

    ``PYTHONPATH`` must name the checkout: the Python streaming-source
    planner runs in a worker the ``addPyFile`` zip does not reach."""
    for d in (WORK, OUT):
        os.makedirs(d, exist_ok=True)
    # the engine leaves a package zip per driver process in the temp dir
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pinned = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mem_gb()}g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "PYTHONPATH": ROOT,
        "TMPDIR": tmp,
        # the launcher JVM that spark-submit runs first: no /tmp/hsperfdata_*
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    os.environ.update(pinned)
    os.environ.pop("SPARK_MASTER", None)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return pinned


def spark_extra_conf() -> dict:
    """Session conf the benchmark adds: JVM temp files inside the
    checkout and none in ``/tmp/hsperfdata_*``, and UI retention large
    enough to keep every job of a run for the after-the-fact REST reads
    (the same in traced and untraced runs)."""
    return {
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
        "spark.sql.ui.retainedExecutions": "5000",
    }


def environment_record(pinned: dict) -> dict:
    def java_version() -> str:
        try:
            out = subprocess.run(
                ["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True,
                timeout=30)
            return out.stderr.splitlines()[0] if out.stderr else "unknown"
        except (OSError, subprocess.SubprocessError):
            return "unknown"

    import pyspark

    return {
        "nproc": nproc(),
        "loadavg_start": os.getloadavg()[0],
        "spark": pyspark.__version__,
        "java": java_version(),
        "python": platform.python_version(),
        "pinned": pinned,
    }


def cpu_times() -> tuple[int, int]:
    """(all, steal) jiffies of the machine since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between:
    a reading of how busy the host was during a run."""
    return (end[1] - start[1]) / max(1, end[0] - start[0])


# ---- memory of the engine process tree ------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeRSS:
    """Samples the summed RSS of this process and its descendants,
    skipping the subtrees rooted at ``exclude`` (the load process)."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        kids = _children_map()
        total, stack = 0, [os.getpid()]
        while stack:
            pid = stack.pop()
            if pid in self.exclude:
                continue
            total += _rss_kb(pid)
            stack.extend(kids.get(pid, ()))
        self.peak_kb = max(self.peak_kb, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "TreeRSS":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---- tracing --------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent and trace id (one per
    query, trigger or pipeline run). Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._next = 0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace: str, **attrs):
        if not self.enabled:
            yield None
            return
        self._next += 1
        sid = self._next
        rec = {
            "id": sid,
            "trace": trace,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, trace: str, start: float, end: float,
            parent: int | None = None, **attrs) -> None:
        """Record a span measured elsewhere (a Spark job, a trigger)."""
        if not self.enabled:
            return
        self._next += 1
        self.spans.append({"id": self._next, "trace": trace, "name": name,
                           "parent": parent, "start": start, "end": end, **attrs})

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


# ---- Spark probes ---------------------------------------------------------


def _rest_time(s: str | None) -> float | None:
    """REST timestamps look like ``2026-10-17T04:22:46.123GMT``."""
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


class SparkRest:
    """Reads the live application's status REST API (``/api/v1``)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=60) as r:
            return json.load(r)

    def jobs(self) -> list[dict]:
        out = []
        for j in self.get("jobs"):
            out.append({
                "id": j["jobId"],
                "group": j.get("jobGroup"),
                "stages": j.get("stageIds", []),
                "start": _rest_time(j.get("submissionTime")),
                "end": _rest_time(j.get("completionTime")),
                "tasks": j.get("numTasks", 0),
                "name": j.get("name", ""),
            })
        return out

    def stages(self) -> dict[int, dict]:
        out = {}
        for s in self.get("stages?status=complete"):
            out[s["stageId"]] = {
                "run_s": s.get("executorRunTime", 0) / 1000.0,
                "cpu_s": s.get("executorCpuTime", 0) / 1e9,
                "gc_s": s.get("jvmGcTime", 0) / 1000.0,
                "shuffle_bytes": s.get("shuffleWriteBytes", 0),
                "spill_bytes": s.get("memoryBytesSpilled", 0)
                + s.get("diskBytesSpilled", 0),
                "tasks": s.get("numTasks", 0),
                "name": s.get("name", ""),
            }
        return out

    def sql(self) -> list[dict]:
        return self.get("sql?details=true&planDescription=false&length=100000")


def covered_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals if a is not None
                   and b is not None and b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def stage_totals(stage_ids, stages: dict[int, dict]) -> dict:
    t = {"run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0,
         "spill_bytes": 0, "tasks": 0, "stages": 0}
    for sid in set(stage_ids):
        s = stages.get(sid)
        if s is None:  # skipped stage: its output was reused
            continue
        t["stages"] += 1
        for k in ("run_s", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes", "tasks"):
            t[k] += s[k]
    return t


def persisted_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


# ---- result ---------------------------------------------------------------


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """The run's result: the last line of its standard output."""
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}), flush=True)
