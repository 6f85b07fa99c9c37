"""Pipeline-runtime queries for the correctness gate.

These put the *runtime itself* (generator source, YAML parsing, fan-in,
processor chains, DLQ split) under the DuckDB oracle, not just the
individual operators.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from conduit_spark.pipeline import Pipeline, parse_yaml
from conduit_spark.plans import session_dir
from conduit_spark.sources.generator import generator_source
from conduit_spark.sources.tables import load_table

GEN_N = 1000


def g_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """builtin:generator field synthesis parity (quickstart.go:50-54
    spec: id int, name string, trial bool, joined time)."""
    env = generator_source(
        spark,
        fields={"id": "int", "name": "string", "trial": "bool", "joined": "time"},
        record_count=GEN_N,
        source_id="gen",
    )
    return env.select(
        F.col("position").cast("string").alias("position"),
        F.col("operation").alias("operation"),
        F.get_json_object("payload_after_json", "$.id").cast("bigint").alias("id"),
        F.get_json_object("payload_after_json", "$.name").alias("name"),
        F.get_json_object("payload_after_json", "$.trial").cast("boolean").alias("trial"),
        F.get_json_object("payload_after_json", "$.joined").cast("timestamp").alias("joined"),
    )


_PIPE_YAML = """
version: "2.2"
pipelines:
  - id: gate
    connectors:
      - id: g1
        type: source
        plugin: builtin:generator
        settings: {recordCount: 500, "format.options": {id: int, trial: bool}}
        processors:
          - id: tag
            plugin: field.set
            settings: {field: .Metadata.src, value: g1}
      - id: g2
        type: source
        plugin: builtin:generator
        settings: {recordCount: 250, "format.options": {id: int, trial: bool}}
      - id: sink
        type: destination
        plugin: builtin:log
        settings: {}
    processors:
      - id: drop-trials
        plugin: filter
        condition: "{{ eq .Payload.After.trial true }}"
      - id: stamp
        plugin: field.set
        settings: {field: .Metadata.stage, value: "done-{{ .Metadata.src }}"}
"""


def g_pipeline_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full YAML pipeline (fan-in of 2 generators, source-scoped +
    pipeline-scoped processors) — the pre-fan-out plan's output."""
    cfg = parse_yaml(_PIPE_YAML)[0]
    p = Pipeline(spark, cfg)
    df = p.build_batch()
    return df.select(
        F.col("position").cast("string").alias("position"),
        F.get_json_object("payload_after_json", "$.id").cast("bigint").alias("id"),
        F.coalesce(F.col("metadata").getItem("src"), F.lit("")).alias("src"),
        F.col("metadata").getItem("stage").alias("stage"),
    )


THROUGHPUT_N = 1_000_000


def g_throughput_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative-pipeline throughput anchor (BASELINE.md): 1M
    generator records through field.set + convert + filter, reduced to
    a checksum row. Ground-truth record counting — the whole chain is
    one codegen stage over spark.range, so wall-clock ÷ 1M is the
    engine's per-record transform cost (reference single-node anchor:
    ~10^5 rec/s; this runs >10^6 rec/s on local[32])."""
    from conduit_spark import operators as ops

    env_df = generator_source(
        spark,
        fields={"id": "int", "name": "string", "trial": "bool"},
        record_count=THROUGHPUT_N,
        source_id="bench",
        typed=True,
    )
    out = ops.field_set(env_df, ".Metadata.stage", "p-{{ .Payload.After.id }}")
    out = ops.field_convert(out, ".Payload.After.id", "string")
    out = ops.filter_records(out, condition="{{ eq .Payload.After.trial true }}")
    return out.agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum(F.get_json_object("payload_after_json", "$.id").cast("bigint")).alias(
            "id_checksum"
        ),
        F.count(F.when(F.col("metadata").getItem("stage").isNotNull(), 1)).alias(
            "n_staged"
        ),
    )


# Objects seeded into the wire snapshots (bounded driver loops). Env
# overrides exist for scripts/wire_scale_probe.py (VERDICT r10 item 8):
# the protocol queries were excluded from the 10x sf1 probe by
# construction, so the probe re-imports this module in a child process
# with these knobs x10 and commits one measured scaling row per wire
# transport to PERF.md. Production reads are unbounded; the constants
# bound only the TEST seed loops.
SNAP_N = int(os.environ.get("CONDUIT_SNAP_N", "300"))

# endpoint cache so repeated calls in one session (gate_check + bench)
# reuse one live server instead of leaking one per call; servers are
# closed atexit. Keyed by sf_dir because the seeded corpus differs.
_S3_SNAP_CACHE: dict[str, tuple[object, str]] = {}


def g_s3_wire_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``builtin:s3`` source, transport=wire, under the DuckDB oracle —
    the first connector-transport query in the gate (before round 7 the
    S3/kafka wire paths were pytest-only; VERDICT r6 item 9).

    Shape: the first ``SNAP_N`` documents (by doc_id) are PUT into an
    in-process :class:`MiniS3Server` over real loopback TCP (driver
    side, bounded — metadata+bytes for 300 small objects), then
    ``s3_wire_source_df`` snapshot-reads them back: paginated
    ListObjectsV2 on the driver (metadata only), size-balanced
    executor tasks each GETting their own objects over their own
    connection. The output re-derives (doc_id, byte length, server
    ETag, text) from the FETCHED BYTES, so a corrupted wire transfer,
    a wrong Range reassembly, or a bad listing cannot hash-match the
    oracle, which recomputes the same columns from the parquet table
    (S3 ETag IS md5, so ``md5(text)`` is the oracle-side ETag).

    Scale: the bounded seed loop is test scaffolding; the read path
    under test is the production one — listing paginates, object
    bytes move executor-side only (s3_wire.py module docstring)."""
    from conduit_spark.sources.s3_wire import s3_wire_source_df

    if sf_dir not in _S3_SNAP_CACHE:
        import atexit

        from conduit_spark.functions.minis3 import MiniS3Client, MiniS3Server

        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .orderBy("doc_id")
            .limit(SNAP_N)
            .collect()
        )
        srv = MiniS3Server().start()
        atexit.register(srv.close)
        client = MiniS3Client(srv.endpoint)
        client.create_bucket("gate")
        for r in docs:
            client.put_object(
                "gate", f"snap/{int(r['doc_id']):08d}", r["text"].encode()
            )
        _S3_SNAP_CACHE[sf_dir] = (srv, srv.endpoint)
    endpoint = _S3_SNAP_CACHE[sf_dir][1]

    obj = s3_wire_source_df(spark, endpoint, "gate", "snap/")
    return obj.select(
        F.col("key"),
        F.substring("key", 6, 8).cast("bigint").alias("doc_id"),
        F.length("value").cast("bigint").alias("n_bytes"),
        F.col("etag"),
        F.col("value").cast("string").alias("text"),
    )


_S3_SECURE_CACHE: dict[str, tuple] = {}

# fewer objects than the plaintext row: every PUT is a fresh driver-side
# TLS handshake (seed scaffolding, once per session); 120 still fans the
# signed GETs across every core and the oracle derives from the same
# doc ordering
SECURE_N = int(os.environ.get("CONDUIT_SECURE_N", "120"))


def g_s3_wire_secure_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`g_s3_wire_snapshot` with the PRODUCTION transport
    posture AND hostile keys: the server enforces AWS SigV4 over HTTPS
    (pinned CA), and every object key contains a space and a '+' —
    exactly the characters the r7 double-encoding bug corrupted in the
    canonical URI (ADVICE r7 medium, fixed this round: for service=s3
    the canonical URI is the once-encoded wire path verbatim). Every
    executor GET signs its own request; the oracle recomputes
    (doc_id, byte length, md5-ETag, text) from the parquet table, so a
    signing failure (403 → task error), a mis-encoded key, or
    corrupted TLS framing cannot hash-match (r9 rotation candidate)."""
    from conduit_spark.sources.s3_wire import s3_wire_source_df

    if sf_dir not in _S3_SECURE_CACHE:
        import atexit

        from conduit_spark.functions.minis3 import MiniS3Client, MiniS3Server
        from conduit_spark.functions.tlsutil import generate_self_signed

        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .orderBy("doc_id")
            .limit(SECURE_N)
            .collect()
        )
        cert_pem, key_pem = generate_self_signed()
        srv = MiniS3Server(
            credentials={"AKIDGATE": "gate-secret"}, tls=(cert_pem, key_pem)
        ).start()
        atexit.register(srv.close)
        creds = {
            "access_key": "AKIDGATE",
            "secret_key": "gate-secret",
            "ca_pem": cert_pem,
        }
        client = MiniS3Client(srv.endpoint, **creds)
        client.create_bucket("gate")
        for r in docs:
            # 'se c/' prefix + 8-digit id + '+v 1' suffix: space and
            # '+' on both sides of the id, signed once-encoded
            client.put_object(
                "gate",
                f"se c/{int(r['doc_id']):08d}+v 1",
                r["text"].encode(),
            )
        _S3_SECURE_CACHE[sf_dir] = (srv, srv.endpoint, creds)
    _, endpoint, creds = _S3_SECURE_CACHE[sf_dir]

    obj = s3_wire_source_df(spark, endpoint, "gate", "se c/", creds=creds)
    return obj.select(
        F.col("key"),
        F.substring("key", 6, 8).cast("bigint").alias("doc_id"),
        F.length("value").cast("bigint").alias("n_bytes"),
        F.col("etag"),
        F.col("value").cast("string").alias("text"),
    )


_KAFKA_SNAP_CACHE: dict[str, tuple[object, str]] = {}


def g_kafka_wire_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``builtin:kafka`` source, transport=wire, under the DuckDB
    oracle — the kafka sibling of :func:`g_s3_wire_snapshot` (VERDICT
    r6 item 9; r8 gate candidate).

    Shape: the first ``SNAP_N`` documents are produced into a 4-
    partition topic on an in-process :class:`MiniKafkaBroker` over
    real loopback TCP, routed by the REAL default-partitioner hash
    (murmur2 of the doc_id key) and stamped with a deterministic
    timestamp (doc_id, not wall time). ``kafka_wire_source_df`` then
    snapshot-reads the topic: driver resolves offset ranges with
    Metadata+ListOffsets (O(partitions) control traffic), one task per
    topic-partition Fetches its range over its own connection. The
    output re-derives (doc_id, byte length, text, timestamp) from the
    FETCHED RecordBatch v2 bytes (CRC32C-verified in decode), so a
    corrupt wire transfer or a missed offset range cannot hash-match
    the parquet-side oracle."""
    from conduit_spark.pipeline.registry import kafka_wire_source_df

    if sf_dir not in _KAFKA_SNAP_CACHE:
        import atexit

        from conduit_spark.functions.minikafka import (
            MiniKafkaBroker,
            MiniKafkaClient,
            partition_for_key,
        )

        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .orderBy("doc_id")
            .limit(SNAP_N)
            .collect()
        )
        broker = MiniKafkaBroker(default_partitions=4).start()
        atexit.register(broker.close)
        broker.create_topic("gate-docs", partitions=4)
        by_part: dict[int, list[dict]] = {}
        for r in docs:
            key = str(int(r["doc_id"])).encode()
            val = r["text"].encode()
            p = partition_for_key(key, val, 4)
            by_part.setdefault(p, []).append(
                {"key": key, "value": val, "timestamp": int(r["doc_id"])}
            )
        with MiniKafkaClient(broker.bootstrap) as c:
            for p, recs in sorted(by_part.items()):
                c.produce("gate-docs", p, recs)
        _KAFKA_SNAP_CACHE[sf_dir] = (broker, broker.bootstrap)
    bootstrap = _KAFKA_SNAP_CACHE[sf_dir][1]

    raw = kafka_wire_source_df(spark, bootstrap, "gate-docs")
    return raw.select(
        F.col("key").cast("string").cast("bigint").alias("doc_id"),
        F.length("value").cast("bigint").alias("n_bytes"),
        F.col("value").cast("string").alias("text"),
        F.col("timestamp").alias("ts_ms"),
    )


def g_pg_wal_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``builtin:postgres`` CDC path under the DuckDB oracle: a
    wal2json-v2 changelog (one JSON line per action, the exact
    ``pg_recvlogical --plugin=wal2json -o format-version=2`` capture
    layout) is synthesized DISTRIBUTED from the events table — INSERT
    per event, UPDATE (value×2) for event_id%3==0, DELETE for
    event_id%5==0, LSN-ordered — written once per session to a
    capture file, then parsed by the production ``wal2json_source``
    (variant-schema line parse, key extraction from columns/identity,
    envelope construction) and materialized with ``cdc_apply`` keyed
    on the replica identity and ordered by ``lsn_to_long``. The final
    state must equal direct SQL over the base table.

    Evidence role: p_cdc_upsert covers the Debezium unwrap + apply;
    this row covers the POSTGRES side of CDC — the wal2json parser and
    LSN ordering — which until round 7 was pytest-only (VERDICT r6
    §2.2: postgres "local"). The live walsender TCP transport is
    covered by tests/test_minipg.py e2e; this query deliberately
    replays a capture file, the same artifact that transport
    produces (r8 gate candidate)."""
    from conduit_spark.operators.cdc import cdc_apply
    from conduit_spark.sources.postgres_wal import (
        lsn_to_long,
        wal2json_source,
    )

    def build_capture() -> DataFrame:
        ev = load_table(spark, sf_dir, "events").select("event_id", "value")

        def centry(name: str, typ: str, val):
            return F.struct(
                F.lit(name).alias("name"),
                F.lit(typ).alias("type"),
                val.alias("value"),
            )

        ident = F.array(
            centry("event_id", "bigint", F.col("event_id").cast("string"))
        )

        def line(action: str, lsn_off: int, value_col, with_identity: bool):
            fields = [
                F.lit(action).alias("action"),
                F.lit("public").alias("schema"),
                F.lit("events").alias("table"),
                F.format_string(
                    "0/%X", F.col("event_id") * 3 + F.lit(lsn_off)
                ).alias("lsn"),
            ]
            if value_col is not None:
                fields.append(
                    F.array(
                        centry(
                            "event_id", "bigint",
                            F.col("event_id").cast("string"),
                        ),
                        centry("value", "double", value_col.cast("string")),
                    ).alias("columns")
                )
            if with_identity:
                fields.append(ident.alias("identity"))
            return F.to_json(F.struct(*fields))

        lines = F.array_compact(
            F.array(
                line("I", 1, F.col("value"), False),
                F.when(
                    F.col("event_id") % 3 == 0,
                    line("U", 2, F.col("value") * 2, True),
                ),
                F.when(F.col("event_id") % 5 == 0, line("D", 3, None, True)),
            )
        )
        return ev.select(F.explode(lines).alias("value"))

    path = session_dir(
        "wal2json_capture",
        spark,
        sf_dir,
        lambda path: build_capture()
        .repartition(spark.sparkContext.defaultParallelism)
        .write.text(path),
    )

    env = wal2json_source(spark, path, key_cols=["event_id"])
    final = cdc_apply(
        env,
        F.get_json_object(
            F.coalesce(F.col("key_json"), F.col("payload_after_json")),
            "$.event_id",
        ).cast("bigint"),
        lsn_to_long(F.col("metadata").getItem("postgres.lsn")),
    )
    return final.select(
        F.get_json_object("payload_after_json", "$.event_id")
        .cast("bigint")
        .alias("event_id"),
        F.get_json_object("payload_after_json", "$.value")
        .cast("double")
        .alias("value"),
        F.col("operation").alias("last_op"),
    )


_KAFKA_SASL_CACHE: dict[str, tuple] = {}


def g_kafka_wire_sasl_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`g_kafka_wire_snapshot` with the PRODUCTION transport
    posture: the broker requires SASL_SSL (SCRAM-SHA-256 over TLS with
    a pinned CA), so every executor fetch task performs the full
    TLS handshake + SCRAM exchange (functions/scram.py, RFC 7677
    construction) before its Fetch — the reference kafka connector's
    ``saslMechanism=SCRAM-SHA-256`` + ``tls.enabled`` configuration.
    Same value-hash oracle as the plaintext row: authentication and
    encryption must be TRANSPARENT to the delivered bytes, so a
    transport that corrupts, reorders, or truncates under TLS framing
    cannot hash-match. Until round 8 the SASL_SSL path was
    pytest-only (tests/test_wire_tls.py); this gives it an oracle row
    (r9 rotation candidate)."""
    from conduit_spark.pipeline.registry import kafka_wire_source_df

    if sf_dir not in _KAFKA_SASL_CACHE:
        import atexit

        from conduit_spark.functions.minikafka import (
            MiniKafkaBroker,
            MiniKafkaClient,
            partition_for_key,
        )
        from conduit_spark.functions.tlsutil import generate_self_signed

        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .orderBy("doc_id")
            .limit(SNAP_N)
            .collect()
        )
        cert_pem, key_pem = generate_self_signed()
        broker = MiniKafkaBroker(
            default_partitions=4,
            users={"svc": "gate-pw"},
            tls=(cert_pem, key_pem),
        ).start()
        atexit.register(broker.close)
        broker.create_topic("gate-docs-sec", partitions=4)
        sasl = {
            "mechanism": "SCRAM-SHA-256",
            "username": "svc",
            "password": "gate-pw",
        }
        by_part: dict[int, list[dict]] = {}
        for r in docs:
            key = str(int(r["doc_id"])).encode()
            val = r["text"].encode()
            p = partition_for_key(key, val, 4)
            by_part.setdefault(p, []).append(
                {"key": key, "value": val, "timestamp": int(r["doc_id"])}
            )
        with MiniKafkaClient(
            broker.bootstrap, sasl=sasl, tls_ca=cert_pem
        ) as c:
            for p, recs in sorted(by_part.items()):
                c.produce("gate-docs-sec", p, recs)
        _KAFKA_SASL_CACHE[sf_dir] = (broker, broker.bootstrap, sasl, cert_pem)
    _, bootstrap, sasl, cert_pem = _KAFKA_SASL_CACHE[sf_dir]

    raw = kafka_wire_source_df(
        spark, bootstrap, "gate-docs-sec",
        sasl=sasl, tls={"tls_ca": cert_pem},
    )
    return raw.select(
        F.col("key").cast("string").cast("bigint").alias("doc_id"),
        F.length("value").cast("bigint").alias("n_bytes"),
        F.col("value").cast("string").alias("text"),
        F.col("timestamp").alias("ts_ms"),
    )


PG_LIVE_N = int(os.environ.get("CONDUIT_PG_LIVE_N", "300"))  # events fed to the live walsender (bounded driver loop)


def g_pg_live_wal_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE replication transport under the DuckDB oracle — the
    third leg of the authenticated-transport trifecta (kafka SASL_SSL,
    s3 SigV4+HTTPS, postgres SCRAM+STARTTLS). :func:`g_pg_wal_cdc`
    replays a pre-written capture; here the capture is produced by the
    engine's OWN replication client at query-construction time:
    ``LiveWalTail.start_native`` opens a protocol-v3 walsender session
    against an in-process :class:`MiniPGServer` that REQUIRES
    SCRAM-SHA-256 auth over STARTTLS (pinned CA), streams the change
    script (INSERT per event, UPDATE value×2 for event_id%3==0, DELETE
    for event_id%5==0, first ``PG_LIVE_N`` events), rotates capture
    files, and confirms the slot only after durable rename. The
    captured lines then flow through the production wal2json parse +
    ``cdc_apply``; final state must equal direct SQL over the base
    table — so an auth short-circuit, a dropped XLogData frame, or a
    mis-ordered apply cannot hash-match (r9 rotation candidate)."""
    import json as _json

    from conduit_spark.operators.cdc import cdc_apply
    from conduit_spark.sources.postgres_wal import lsn_to_long, wal2json_source

    def write(path: str) -> None:
        import time as _time

        from conduit_spark.functions.minipg import MiniPGServer, lsn_text
        from conduit_spark.functions.tlsutil import generate_self_signed
        from conduit_spark.sources.postgres_wal import LiveWalTail

        ev = (
            load_table(spark, sf_dir, "events")
            .select("event_id", "value")
            .orderBy("event_id")
            .limit(PG_LIVE_N)
            .collect()
        )

        def line(seq: int, action: str, eid: int, val) -> str:
            doc = {
                "action": action,
                "schema": "public",
                "table": "events",
                "lsn": lsn_text(seq),
                "columns": [
                    {"name": "event_id", "type": "bigint", "value": eid},
                ],
            }
            if val is not None:
                doc["columns"].append(
                    {"name": "value", "type": "double precision", "value": val}
                )
            if action in ("U", "D"):
                doc["identity"] = [
                    {"name": "event_id", "type": "bigint", "value": eid}
                ]
            if action == "D":
                del doc["columns"]
            return _json.dumps(doc)

        cert_pem, key_pem = generate_self_signed()
        with MiniPGServer(
            keepalive_s=0.05,
            users={"conduit": "gate-pw"},
            tls=(cert_pem, key_pem),
        ) as srv:
            seq = 0
            for r in ev:
                eid, val = int(r["event_id"]), float(r["value"])
                seq += 1
                srv.feed(line(seq, "I", eid, val))
                if eid % 3 == 0:
                    seq += 1
                    srv.feed(line(seq, "U", eid, val * 2))
                if eid % 5 == 0:
                    seq += 1
                    srv.feed(line(seq, "D", eid, None))
            tail = LiveWalTail(path, max_lines=64, max_secs=0.1).start_native(
                srv.dsn,
                password="gate-pw",
                sslmode="require",
                ssl_ca=cert_pem,
            )
            deadline = _time.monotonic() + 60
            while (
                srv.confirmed_flush_lsn < srv.current_lsn
                and _time.monotonic() < deadline
            ):
                _time.sleep(0.05)
            tail.stop()
            if srv.confirmed_flush_lsn < srv.current_lsn:
                raise RuntimeError("live WAL tail never confirmed the feed")

    path = session_dir("pg_live_wal_capture", spark, sf_dir, write)

    env = wal2json_source(spark, path, key_cols=["event_id"])
    final = cdc_apply(
        env,
        F.get_json_object(
            F.coalesce(F.col("key_json"), F.col("payload_after_json")),
            "$.event_id",
        ).cast("bigint"),
        lsn_to_long(F.col("metadata").getItem("postgres.lsn")),
    )
    return final.select(
        F.get_json_object("payload_after_json", "$.event_id")
        .cast("bigint")
        .alias("event_id"),
        F.get_json_object("payload_after_json", "$.value")
        .cast("double")
        .alias("value"),
        F.col("operation").alias("last_op"),
    )


def g_pg_pgoutput_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BINARY replication protocol under the DuckDB oracle: the
    same change script as :func:`g_pg_wal_cdc` (INSERT per event,
    UPDATE value×2 for event_id%3==0, DELETE for event_id%5==0)
    synthesized as length-framed **pgoutput** captures — Relation
    message with replica-identity flags, Begin per tx carrying the
    LSN, Insert/Update/Delete with K/N TupleData — then decoded by the
    production ``pgoutput_source`` (the stateful per-file binary
    parser) and materialized with ``cdc_apply``. Final state must
    equal direct SQL over the base table, so a mis-parsed TupleData
    kind, a dropped Relation column, or a broken K/O-before-N update
    path cannot hash-match. Evidence role: until round 8 the pgoutput
    decoder (postgres_wal.parse_pgoutput) was pytest-only; wal2json
    had the oracle row.

    Fixture synthesis is distributed: events group by ``event_id %
    32``, each group builds its deterministic blob in one applyInPandas
    task and writes it atomically under a group-derived name (retries
    rewrite identical bytes), so no capture bytes ever pass through
    the driver."""
    import os as _os

    from conduit_spark.operators.cdc import cdc_apply
    from conduit_spark.sources.postgres_wal import pgoutput_source

    def write(path: str) -> None:
        _os.makedirs(path, exist_ok=True)
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "value", (F.col("event_id") % 32).alias("grp")
        )

        def write_group(pdf):
            import os
            import struct

            import pandas as pd

            OID = 54321

            def msg(b: bytes) -> bytes:
                return struct.pack(">I", len(b)) + b

            def cstr(s: str) -> bytes:
                return s.encode() + b"\x00"

            def tup(vals) -> bytes:
                out = struct.pack(">H", len(vals))
                for v in vals:
                    if v is None:
                        out += b"n"
                    else:
                        vb = v.encode()
                        out += b"t" + struct.pack(">I", len(vb)) + vb
                return out

            def begin(lsn: int) -> bytes:
                # final_lsn, commit ts, xid — parser takes the lsn
                return msg(
                    b"B" + struct.pack(">QqI", lsn, 0, 0)
                )

            rel = (
                b"R" + struct.pack(">I", OID) + cstr("public")
                + cstr("events") + b"d" + struct.pack(">H", 2)
                + bytes([1]) + cstr("event_id") + struct.pack(">II", 20, 0)
                + bytes([0]) + cstr("value") + struct.pack(">II", 701, 0)
            )
            blob = bytearray(msg(rel))
            grp = int(pdf["grp"].iloc[0])
            for _, row in pdf.sort_values("event_id").iterrows():
                eid, val = int(row["event_id"]), float(row["value"])
                key_only = [str(eid), None]
                blob += begin(eid * 3 + 1) + msg(
                    b"I" + struct.pack(">I", OID) + b"N"
                    + tup([str(eid), repr(val)])
                )
                if eid % 3 == 0:
                    blob += begin(eid * 3 + 2) + msg(
                        b"U" + struct.pack(">I", OID)
                        + b"K" + tup(key_only)
                        + b"N" + tup([str(eid), repr(val * 2)])
                    )
                if eid % 5 == 0:
                    blob += begin(eid * 3 + 3) + msg(
                        b"D" + struct.pack(">I", OID) + b"K" + tup(key_only)
                    )
            dest = os.path.join(path, f"cap-{grp:05d}.bin")
            tmp = dest + f".tmp{os.getpid()}"
            with open(tmp, "wb") as f:
                f.write(bytes(blob))
            os.replace(tmp, dest)  # atomic; retries rewrite same bytes
            return pd.DataFrame({"grp": [grp], "n": [len(pdf)]})

        ev.groupBy("grp").applyInPandas(
            write_group, "grp int, n long"
        ).count()  # materialize the side-effect writes

    path = session_dir("pgoutput_capture", spark, sf_dir, write)

    env = pgoutput_source(spark, path, source_id="pg")
    final = cdc_apply(
        env,
        F.get_json_object(
            F.coalesce(F.col("key_json"), F.col("payload_after_json")),
            "$.event_id",
        ).cast("bigint"),
        F.col("metadata").getItem("postgres.lsn").cast("bigint"),
    )
    return final.select(
        F.get_json_object("payload_after_json", "$.event_id")
        .cast("bigint")
        .alias("event_id"),
        F.get_json_object("payload_after_json", "$.value")
        .cast("double")
        .alias("value"),
        F.col("operation").alias("last_op"),
    )


def g_file_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``builtin:file`` destination→source round-trip under the DuckDB
    oracle: documents serialize to JSON lines (one line per record —
    the reference file destination's contract) in a distributed write,
    then ``file_source(fmt="text")`` re-reads them as RAW envelopes
    (line → payload_after_raw, file-derived position) and the
    ``json.decode`` processor upgrades raw→structured, exactly the
    file→decode chain of the reference's quickstart pipelines. Output
    re-derives (doc_id, n_lines-worth of text) from the DECODED
    payloads; the oracle recomputes from the parquet table, so a lost
    line, a mangled charset, or a broken raw→structured upgrade cannot
    match (r8 gate candidate; closes `builtin:file`'s pytest-only
    status, VERDICT r6 §2.2)."""
    from conduit_spark import operators as ops
    from conduit_spark.sources.file_source import file_source

    def write(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        docs.select(
            F.to_json(F.struct("doc_id", "text")).alias("value")
        ).repartition(spark.sparkContext.defaultParallelism).write.text(path)

    path = session_dir("file_roundtrip_lines", spark, sf_dir, write)

    env = file_source(spark, path, fmt="text", source_id="gatefile")
    dec = ops.json_decode(env)
    return dec.select(
        F.get_json_object("payload_after_json", "$.doc_id")
        .cast("bigint")
        .alias("doc_id"),
        F.get_json_object("payload_after_json", "$.text").alias("text"),
        F.length(F.col("position")).cast("int").alias("pos_bytes"),
    )


def warm_wire_endpoints(spark: SparkSession, sf_dir: str) -> None:
    """Seed every in-process wire endpoint / on-disk fixture this
    module's queries stand up at DataFrame-construction time (MiniS3
    plain+HTTPS, MiniKafka plain+SASL_SSL, MiniPG wal2json/live/
    pgoutput captures, the file-roundtrip lines dir), so a timing
    harness can charge queries for list+fetch+decode ONLY (VERDICT r9
    item 4: seeding inside the timed path caused rebaseline-forcing
    drift). Construction is discarded — no Spark action runs here, and
    the per-``sf_dir`` caches make repeat calls free."""
    for fn in (
        g_s3_wire_snapshot,
        g_s3_wire_secure_snapshot,
        g_kafka_wire_snapshot,
        g_kafka_wire_sasl_snapshot,
        g_pg_wal_cdc,
        g_pg_live_wal_cdc,
        g_pg_pgoutput_cdc,
        g_file_roundtrip,
    ):
        fn(spark, sf_dir)


QUERIES = {
    "g_generator": g_generator,
    "g_pipeline_chain": g_pipeline_chain,
    "g_throughput_1m": g_throughput_1m,
    "g_s3_wire_snapshot": g_s3_wire_snapshot,
    "g_s3_wire_secure_snapshot": g_s3_wire_secure_snapshot,
    "g_kafka_wire_snapshot": g_kafka_wire_snapshot,
    "g_kafka_wire_sasl_snapshot": g_kafka_wire_sasl_snapshot,
    "g_pg_wal_cdc": g_pg_wal_cdc,
    "g_pg_live_wal_cdc": g_pg_live_wal_cdc,
    "g_pg_pgoutput_cdc": g_pg_pgoutput_cdc,
    "g_file_roundtrip": g_file_roundtrip,
}

ORACLES = {
    # mirrors sources/generator.py synthesis: int=(i*17+3)%1000,
    # string=f"{name}-{i}", bool=(i%2==0), time=base+i seconds
    "g_generator": f"""
        SELECT 'gen:' || CAST(i AS VARCHAR) AS position,
               'create' AS operation,
               (i * 17 + 3) % 1000 AS id,
               'name-' || CAST(i AS VARCHAR) AS name,
               i % 2 = 0 AS trial,
               TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (i) SECOND AS joined
        FROM (SELECT unnest(generate_series(0, {GEN_N - 1})) AS i)
    """,
    "g_throughput_1m": f"""
        SELECT count(*) AS n_records,
               CAST(sum((i * 17 + 3) % 1000) AS BIGINT) AS id_checksum,
               count(*) AS n_staged
        FROM (SELECT unnest(generate_series(0, {THROUGHPUT_N - 1})) AS i)
        WHERE i % 2 <> 0
    """,
    # re-derives the wire round-trip analytically: key layout, UTF-8
    # byte length, and the S3 ETag (= md5 of the object bytes; the
    # server computes it from what actually arrived over TCP, DuckDB
    # from the source text — equality proves byte-exact transfer).
    # SigV4+HTTPS sibling with hostile keys (space + '+' around the
    # id) — the r7 double-encoding bug class under the hash oracle
    "g_s3_wire_secure_snapshot": f"""
        SELECT 'se c/' || lpad(CAST(doc_id AS VARCHAR), 8, '0') || '+v 1'
                   AS key,
               doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS etag,
               text
        FROM (SELECT doc_id, text FROM documents
              ORDER BY doc_id LIMIT {SECURE_N})
    """,
    "g_s3_wire_snapshot": f"""
        SELECT 'snap/' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS key,
               doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS etag,
               text
        FROM (SELECT doc_id, text FROM documents
              ORDER BY doc_id LIMIT {SNAP_N})
    """,
    # position = md5(file || line) cast to binary → always 32 hex bytes
    "g_file_roundtrip": """
        SELECT doc_id, text, 32 AS pos_bytes FROM documents
    """,
    # same change script as g_pg_wal_cdc, carried over the BINARY
    # pgoutput protocol instead of wal2json lines
    "g_pg_pgoutput_cdc": """
        SELECT event_id,
               CASE WHEN event_id % 3 = 0 THEN value * 2 ELSE value END
                   AS value,
               CASE WHEN event_id % 3 = 0 THEN 'update' ELSE 'create' END
                   AS last_op
        FROM events
        WHERE event_id % 5 <> 0
    """,
    # live walsender (SCRAM over STARTTLS) capture of the same script,
    # bounded to the first PG_LIVE_N events
    "g_pg_live_wal_cdc": f"""
        SELECT event_id,
               CASE WHEN event_id % 3 = 0 THEN value * 2 ELSE value END
                   AS value,
               CASE WHEN event_id % 3 = 0 THEN 'update' ELSE 'create' END
                   AS last_op
        FROM (SELECT event_id, value FROM events
              ORDER BY event_id LIMIT {PG_LIVE_N})
        WHERE event_id % 5 <> 0
    """,
    "g_pg_wal_cdc": """
        SELECT event_id,
               CASE WHEN event_id % 3 = 0 THEN value * 2 ELSE value END
                   AS value,
               CASE WHEN event_id % 3 = 0 THEN 'update' ELSE 'create' END
                   AS last_op
        FROM events
        WHERE event_id % 5 <> 0
    """,
    # the SASL_SSL row must deliver byte-identical records: auth and
    # encryption are transport, not transformation
    "g_kafka_wire_sasl_snapshot": f"""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               text,
               doc_id AS ts_ms
        FROM (SELECT doc_id, text FROM documents
              ORDER BY doc_id LIMIT {SNAP_N})
    """,
    "g_kafka_wire_snapshot": f"""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               text,
               doc_id AS ts_ms
        FROM (SELECT doc_id, text FROM documents
              ORDER BY doc_id LIMIT {SNAP_N})
    """,
    "g_pipeline_chain": """
        WITH g1 AS (
            SELECT 'g1:' || CAST(i AS VARCHAR) AS position,
                   (i * 17 + 3) % 1000 AS id, i % 2 = 0 AS trial,
                   'g1' AS src
            FROM (SELECT unnest(generate_series(0, 499)) AS i)),
        g2 AS (
            SELECT 'g2:' || CAST(i AS VARCHAR) AS position,
                   (i * 17 + 3) % 1000 AS id, i % 2 = 0 AS trial,
                   '' AS src
            FROM (SELECT unnest(generate_series(0, 249)) AS i)),
        merged AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2)
        SELECT position, id, src, 'done-' || src AS stage
        FROM merged WHERE NOT trial
    """,
}
