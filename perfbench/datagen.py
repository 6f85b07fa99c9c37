"""Seeded inputs: the analytics tables and the pipeline records.

The analytics tables follow the schemas of the engine's TPC-H-style test
tables plus its ``events``, ``documents`` and ``embeddings`` tables, at
the row counts of scale factor 0.01. Value ranges follow those tables
(order dates 1995-2001, events in January 2024, a 31-word document
vocabulary with 5% near-duplicate documents) so every query has work.
"""

from __future__ import annotations

import json
import os

import numpy as np

SIZES = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}
WORDS = ("customer the column window hash join table group order row agg "
         "small stream line data vector merge slow key sort a batch filter "
         "part fast query big spark value scan").split()
_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in micros
_EPOCH_2024 = 1_704_067_200_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def analytics_tables(seed: int) -> dict:
    """name -> pyarrow.Table, deterministic in ``seed``."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n = SIZES
    i32, i64, f64, ts = pa.int32(), pa.int64(), pa.float64(), pa.timestamp("us")

    def table(cols):
        return pa.table({k: pa.array(v, type=t) for k, (v, t) in cols.items()})

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    adj = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
    out = {
        "region": table({
            "r_regionkey": (np.arange(5), i32),
            "r_name": (["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], None),
        }),
        "nation": table({
            "n_nationkey": (np.arange(25), i32),
            "n_name": ([f"NATION_{k}" for k in range(25)], None),
            "n_regionkey": (np.arange(25) % 5, i32),
        }),
    }
    k = np.arange(n["customer"])
    out["customer"] = table({
        "c_custkey": (k, i64),
        "c_name": ([f"Customer#{x:09d}" for x in k], None),
        "c_nationkey": (rng.integers(0, 25, k.size), i32),
        "c_acctbal": (_money(rng, -999, 9999, k.size), f64),
        "c_mktsegment": (segs[rng.integers(0, 5, k.size)], None),
    })
    k = np.arange(n["supplier"])
    out["supplier"] = table({
        "s_suppkey": (k, i64),
        "s_name": ([f"Supplier#{x:09d}" for x in k], None),
        "s_nationkey": (rng.integers(0, 25, k.size), i32),
        "s_acctbal": (_money(rng, -999, 9999, k.size), f64),
    })
    k = np.arange(n["part"])
    out["part"] = table({
        "p_partkey": (k, i64),
        "p_name": ([f"{adj[a]} {noun[b]}" for a, b in
                    zip(rng.integers(0, 8, k.size), rng.integers(0, 8, k.size))], None),
        "p_brand": ([f"Brand#{b}" for b in rng.integers(1, 26, k.size)], None),
        "p_type": (np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD",
                             "LARGE"])[rng.integers(0, 6, k.size)], None),
        "p_size": (rng.integers(1, 51, k.size), i32),
        "p_retailprice": (np.round(900 + (k % 1000) / 10, 2), f64),
    })
    k = np.arange(n["orders"])
    out["orders"] = table({
        "o_orderkey": (k, i64),
        "o_custkey": (rng.integers(0, n["customer"], k.size), i64),
        "o_orderstatus": (np.array(["F", "O", "P"])[rng.integers(0, 3, k.size)], None),
        "o_totalprice": (_money(rng, 1000, 500000, k.size), f64),
        "o_orderdate": (_EPOCH_1995 + rng.integers(0, 2404, k.size) * _DAY_US, ts),
        "o_orderpriority": (np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                      "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, k.size)], None),
    })
    m = n["lineitem"]
    qty = rng.integers(1, 51, m).astype(float)
    out["lineitem"] = table({
        "l_orderkey": (rng.integers(0, n["orders"], m), i64),
        "l_partkey": (rng.integers(0, n["part"], m), i64),
        "l_suppkey": (rng.integers(0, n["supplier"], m), i64),
        "l_linenumber": (rng.integers(1, 8, m), i32),
        "l_quantity": (qty, f64),
        "l_extendedprice": (np.round(qty * rng.uniform(900, 2100, m), 2), f64),
        "l_discount": (rng.integers(0, 11, m) / 100.0, f64),
        "l_tax": (rng.integers(0, 9, m) / 100.0, f64),
        "l_returnflag": (np.array(["A", "N", "R"])[rng.integers(0, 3, m)], None),
        "l_linestatus": (np.array(["F", "O"])[rng.integers(0, 2, m)], None),
        "l_shipdate": (_EPOCH_1995 + rng.integers(1, 2499, m) * _DAY_US, ts),
    })
    m = n["events"]
    out["events"] = table({
        "event_id": (np.arange(m), i64),
        "ts": (_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, m)), ts),
        "user_id": (rng.integers(0, 150, m), i64),
        "event_type": (np.array(["click", "view", "purchase", "signup", "error"])[
            rng.integers(0, 5, m)], None),
        "value": (np.maximum(0.01, np.round(rng.exponential(50, m), 2)), f64),
        "props": ([json.dumps({"k": int(v)}) for v in rng.integers(0, 100, m)], None),
    })
    m = n["documents"]
    docs: list[list[str]] = []
    for d in range(m):
        if d >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            src = list(docs[int(rng.integers(0, d))])
            for j in rng.integers(0, len(src), max(1, len(src) // 10)):
                src[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            docs.append(src + ["dup"])
        else:
            docs.append([WORDS[j] for j in rng.integers(0, len(WORDS),
                                                        int(rng.integers(10, 101)))])
    text = [" ".join(d) for d in docs]
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    out["documents"] = table({
        "doc_id": (np.arange(m), i64),
        "text": (text, None),
        "lang": (langs[rng.integers(0, langs.size, m)], None),
        "source": ([f"src{d % 20}" for d in range(m)], None),
        "n_chars": ([len(t) for t in text], i64),
    })
    m = n["embeddings"]
    vec = rng.standard_normal((m, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), type=i64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), type=i32),
    })
    return out


def write_analytics_tables(seed: int, sf_dir: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    for name, t in analytics_tables(seed).items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))


# ---- pipeline records -----------------------------------------------------


def record_columns(seed: int, n: int):
    """Per-id fields of the pipeline records, ids ``0..n-1``: ``grp``
    (``grp == 0``, about 10%, is what the workloads' ``filter`` drops),
    ``amount`` (sent as a string for ``field.convert``) and ``name``."""
    rng = np.random.default_rng(seed)
    return (rng.integers(0, 10, n), rng.integers(0, 100_000, n),
            rng.integers(0, len(WORDS), n))


def record_json(i: int, grp, amount, name, created_ms: float | None = None) -> str:
    tail = "" if created_ms is None else f', "created_ms": {created_ms:.3f}'
    return (f'{{"id": {i}, "grp": {grp[i]}, "amount": "{amount[i]}", '
            f'"name": "{WORDS[name[i]]}"{tail}}}')


def write_jsonl_files(seed: int, n_records: int, n_files: int, in_dir: str) -> None:
    """Write ids ``0..n_records-1`` as JSON lines over ``n_files`` files."""
    cols = record_columns(seed, n_records)
    os.makedirs(in_dir, exist_ok=True)
    per = -(-n_records // n_files)
    for f in range(n_files):
        with open(os.path.join(in_dir, f"part-{f:03d}.jsonl"), "w") as fh:
            fh.write("".join(record_json(i, *cols) + "\n" for i in
                             range(f * per, min(n_records, (f + 1) * per))))
