"""Load process of the ``kafka_stream`` workload.

Runs apart from the engine: the Kafka broker (``MiniKafkaBroker``), the
record generator and a consumer of the destination topic. It takes one
JSON command per stdin line and answers each with one JSON stdout line.
It opens two client connections (generator and consumer), fewer than
``nproc``. Records go to ``TOPIC_IN``; the consumer tails ``TOPIC_OUT``.

Commands:
  ``{"cmd": "load", "first_id", "n"}`` — produce ids
      ``first_id..first_id+n-1`` as fast as the broker takes them.
  ``{"cmd": "steady", "first_id", "rate", "seconds"}`` — open loop:
      record ``k`` is due at ``start + k / rate`` and stamped with that
      due time; the schedule never waits for the engine.
  ``{"cmd": "await", "n", "timeout"}`` — wait until ``n`` distinct ids
      are visible on the destination topic.
  ``{"cmd": "collect"}`` — the visible records:
      ``[id, created_ms, visible_ms]`` plus a count of bad payloads.
  ``{"cmd": "broker_stats"}`` — the broker's request log, engine
      clients only.
  ``{"cmd": "quit"}``
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_HERE))
sys.path.insert(0, _HERE)

from conduit_spark.functions.minikafka import (  # noqa: E402
    MiniKafkaBroker,
    MiniKafkaClient,
)

import datagen  # noqa: E402
from harness import percentile  # noqa: E402

TOPIC_IN, TOPIC_OUT, PARTITIONS = "in", "out", 4
GEN_CLIENT = "perfbench-generator"
CONSUMER_CLIENT = "perfbench-consumer"
TICK_S = 0.02
API_PRODUCE, API_FETCH = 0, 1


class Consumer(threading.Thread):
    """Tails the destination topic; stamps each record when it first
    becomes visible. Polls the broker's log end (in memory) every
    millisecond and fetches over the wire only when it moved."""

    def __init__(self, broker: MiniKafkaBroker):
        super().__init__(daemon=True)
        self.broker = broker
        self.offsets = [0] * PARTITIONS
        self.seen: list = []
        self.distinct: set = set()
        self.bad = 0
        self.lock = threading.Lock()
        self.stop = threading.Event()
        self.client = MiniKafkaClient(broker.bootstrap, client_id=CONSUMER_CLIENT)

    def run(self) -> None:
        while not self.stop.is_set():
            moved = False
            for p in range(PARTITIONS):
                log = self.broker._logs.get((TOPIC_OUT, p))
                if log is None or log.next_offset <= self.offsets[p]:
                    continue
                recs, _ = self.client.fetch(TOPIC_OUT, p, self.offsets[p])
                now_ms = time.time() * 1000.0
                rows, bad = [], 0
                for r in recs:
                    v = json.loads(r["value"])
                    if v.get("route") != "bench" or not isinstance(v.get("amount"), str):
                        bad += 1
                    rows.append((v["id"], v.get("created_ms"), now_ms))
                if recs:
                    self.offsets[p] = recs[-1]["offset"] + 1
                    moved = True
                    with self.lock:
                        self.seen.extend(rows)
                        self.distinct.update(r[0] for r in rows)
                        self.bad += bad
            if not moved:
                time.sleep(0.001)

    def count(self) -> int:
        """Distinct ids visible: a redelivered record does not count twice."""
        with self.lock:
            return len(self.distinct)


class Generator:
    def __init__(self, broker: MiniKafkaBroker, seed: int, n_max: int):
        self.client = MiniKafkaClient(broker.bootstrap, client_id=GEN_CLIENT)
        self.cols = datagen.record_columns(seed, n_max)

    def _send(self, ids, created) -> None:
        by_part: dict[int, list] = {}
        for i, c in zip(ids, created):
            value = datagen.record_json(i, *self.cols, created_ms=c).encode()
            by_part.setdefault(i % PARTITIONS, []).append(
                {"key": None, "value": value, "timestamp": int(c)})
        for p, recs in by_part.items():
            self.client.produce(TOPIC_IN, p, recs)

    def load(self, first_id: int, n: int) -> dict:
        t0 = time.time()
        for lo in range(first_id, first_id + n, 2000):
            ids = range(lo, min(first_id + n, lo + 2000))
            now_ms = time.time() * 1000.0
            self._send(ids, [now_ms] * len(ids))
        return {"seconds": time.time() - t0}

    def steady(self, first_id: int, rate: float, seconds: float) -> dict:
        total = int(rate * seconds)
        start = time.time()
        sent, late_ms = 0, []
        while sent < total:
            due = min(total, int((time.time() - start) * rate) + 1)
            if due > sent:
                created = [(start + k / rate) * 1000.0 for k in range(sent, due)]
                late_ms.append(time.time() * 1000.0 - created[0])
                self._send(range(first_id + sent, first_id + due), created)
                sent = due
            next_tick = start + (sent / rate) + TICK_S
            time.sleep(max(0.0, next_tick - time.time()))
        return {"sent": sent, "seconds": time.time() - start,
                "late_p50_ms": percentile(late_ms, 50),
                "late_p99_ms": percentile(late_ms, 99),
                "late_max_ms": max(late_ms)}


def broker_stats(broker: MiniKafkaBroker) -> dict:
    out = {"fetch_requests": 0, "produce_requests": 0,
           "fetch_bytes": 0, "produce_bytes": 0}
    for api, _ver, size, client in list(broker.request_log):
        if client in (GEN_CLIENT, CONSUMER_CLIENT):
            continue
        if api == API_FETCH:
            out["fetch_requests"] += 1
            out["fetch_bytes"] += size
        elif api == API_PRODUCE:
            out["produce_requests"] += 1
            out["produce_bytes"] += size
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--max-records", type=int, required=True)
    args = ap.parse_args()

    def reply(obj) -> None:
        sys.stdout.write(json.dumps(obj) + "\n")
        sys.stdout.flush()

    with MiniKafkaBroker(default_partitions=PARTITIONS) as broker:
        for t in (TOPIC_IN, TOPIC_OUT):
            broker.create_topic(t, PARTITIONS)
        consumer = Consumer(broker)
        gen = Generator(broker, args.seed, args.max_records)
        consumer.start()
        reply({"bootstrap": broker.bootstrap})
        try:
            for line in sys.stdin:
                cmd = json.loads(line)
                c = cmd["cmd"]
                if c == "load":
                    reply(gen.load(cmd["first_id"], cmd["n"]))
                elif c == "steady":
                    reply(gen.steady(cmd["first_id"], cmd["rate"], cmd["seconds"]))
                elif c == "await":
                    deadline = time.time() + cmd["timeout"]
                    while consumer.count() < cmd["n"] and time.time() < deadline:
                        time.sleep(0.005)
                    with consumer.lock:
                        last = max((r[2] for r in consumer.seen), default=None)
                        reply({"visible": len(consumer.distinct), "last_visible_ms": last})
                elif c == "collect":
                    with consumer.lock:
                        reply({"records": consumer.seen, "bad": consumer.bad})
                elif c == "broker_stats":
                    reply(broker_stats(broker))
                elif c == "quit":
                    break
                else:
                    raise ValueError(f"unknown command {c!r}")
        finally:
            consumer.stop.set()
            consumer.join(timeout=5)
            consumer.client.close()
            gen.client.close()


if __name__ == "__main__":
    main()
