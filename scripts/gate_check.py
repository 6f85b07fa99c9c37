"""Strict local mirror of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` SQL on DuckDB (fetched via pandas, so DuckDB HUGEINT
surfaces as float64 exactly like an Arrow/pandas-based harness would),
then compares: column names (sorted), row counts, and a strict value
multiset where int and float representations are NOT conflated —
``5`` != ``5.0``. This is deliberately stricter than
``tests/oracle_util.py``; a pass here should imply a driver hash match.

Each query runs inside ``plans.barrier_scope()``; a query that leaves
an RDD persisted after its scope exits (one that was not persisted
before it started) fails with ``LEAK``.

Usage: python scripts/gate_check.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import datetime
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from conduit_spark.sources.tables import TABLE_NAMES


def canon_strict(v):
    """Canonical value; int vs float distinguished, NaN normalized."""
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{v!r}"
    if isinstance(v, datetime.datetime):
        return f"t:{v.replace(tzinfo=None).isoformat()}"
    if isinstance(v, datetime.date):
        return f"d:{v.isoformat()}"
    if isinstance(v, (bytes, bytearray)):
        return f"y:{bytes(v).hex()}"
    if isinstance(v, (list, tuple)):
        return "l:[" + ",".join(canon_strict(x) for x in v) + "]"
    if isinstance(v, dict):
        items = sorted((str(k), canon_strict(x)) for k, x in v.items())
        return "m:{" + ",".join(f"{k}={x}" for k, x in items) + "}"
    import numpy as np

    if isinstance(v, np.integer):
        return f"i:{int(v)}"
    if isinstance(v, np.floating):
        return canon_strict(float(v))
    if isinstance(v, np.bool_):
        return f"b:{bool(v)}"
    if isinstance(v, np.ndarray):
        return canon_strict(list(v))
    if hasattr(v, "isoformat"):
        return canon_strict(v.to_pydatetime() if hasattr(v, "to_pydatetime") else str(v))
    return f"s:{v}"


def multiset(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("|".join(canon_strict(r[i]) for i in order) for r in rows)


def complex_output_cols(schema) -> list[str]:
    """Array/map/struct-typed top-level columns — forbidden in GATE
    queries. The driver's canonicalizer sorts the result through a
    pandas ``sort_values``, which factorizes object columns and dies
    on unhashable lists/dicts (round-6 ``m_features``: ``hist
    array<long>`` → ``TypeError: unhashable type: 'list'``). This is
    the general form of the round-1 DATE-column lesson
    (COVERAGE.md): gate output must be scalar columns only — emit
    vectors as comma-joined strings or explode to rows."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]


def pandas_canonicalizer_accepts(columns, rows) -> str | None:
    """Replicate the driver harness's canonicalization step — a pandas
    ``sort_values`` over every column — and report why it would die
    instead of letting the defect ship to the driver (round-6
    m_features: ``hist array<long>`` → lists in an object column →
    ``TypeError: unhashable type`` inside factorize). Returns an error
    string or None."""
    import pandas as pd

    try:
        pdf = pd.DataFrame(rows, columns=columns)
        pdf.sort_values(by=sorted(columns), inplace=True)
    except Exception as e:  # noqa: BLE001 — any failure here IS the finding
        return f"{type(e).__name__}: {e}"
    return None


def check_one(spark, con, name, fn, sql, sf_dir, in_gate=True):
    t0 = time.time()
    sdf = fn(spark, sf_dir)
    if in_gate:
        bad = complex_output_cols(sdf.schema)
        if bad:
            return {
                "name": name, "spark_rows": None, "secs": None,
                "status": "GATE-LINT", "ok": False,
                "detail": f"array/map/struct output columns {bad} break "
                          f"the driver canonicalizer — stringify or explode",
            }
    spark_cols = list(sdf.columns)
    spark_rows = [tuple(r) for r in sdf.collect()]
    res = {"name": name, "spark_rows": len(spark_rows), "secs": None}
    if sql is None:
        res.update(status="rows-only", ok=len(spark_rows) >= 0)
        res["secs"] = round(time.time() - t0, 2)
        return res
    pdf = con.execute(sql).df()
    duck_cols = list(pdf.columns)
    duck_rows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
    res["oracle_rows"] = len(duck_rows)
    if sorted(spark_cols) != sorted(duck_cols):
        res.update(status="SCHEMA-MISMATCH", ok=False,
                   detail=f"spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
        return res
    if len(spark_rows) != len(duck_rows):
        res.update(status="ROWS-MISMATCH", ok=False)
        return res
    if in_gate:
        canon_err = pandas_canonicalizer_accepts(spark_cols, spark_rows)
        if canon_err:
            res.update(
                status="GATE-LINT", ok=False,
                detail=f"driver pandas canonicalizer would fail: {canon_err}",
            )
            return res
    s, d = multiset(spark_cols, spark_rows), multiset(duck_cols, duck_rows)
    if s != d:
        only_s = [r for r in s if r not in d][:2]
        only_d = [r for r in d if r not in s][:2]
        res.update(status="HASH-MISMATCH", ok=False,
                   detail=f"spark-only={only_s} duck-only={only_d}")
        return res
    res.update(status="ok", ok=True)
    res["secs"] = round(time.time() - t0, 2)
    return res


def persisted_rdd_ids(spark) -> set[int]:
    return {
        int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from conduit_spark.plans import barrier_scope
    from conduit_spark.session import get_spark

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = os.path.join(args.sf, f"{t}.parquet")
        if os.path.isdir(path):
            # Spark-written table (e.g. the sf1 probe dataset): a
            # directory of part files, globbed for DuckDB
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    queries = entry_mod.extended_queries()
    oracles = entry_mod.extended_oracle_sql()
    gate_names = list(entry_mod.queries())
    print(f"gate={len(gate_names)} queries (cap {entry_mod.GATE_CAP}); "
          f"extended={len(queries)}")
    names = args.names or list(queries)
    n_bad = 0
    for name in names:
        if name not in queries:
            print(f"{name}: NOT IN queries()")
            n_bad += 1
            continue
        persisted_before = persisted_rdd_ids(spark)
        try:
            with barrier_scope():
                r = check_one(spark, con, name, queries[name], oracles.get(name),
                              args.sf, in_gate=name in gate_names)
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {type(e).__name__}: {e}")
            n_bad += 1
            continue
        leaked = sorted(persisted_rdd_ids(spark) - persisted_before)
        if leaked:
            r["status"] = "LEAK" if r["ok"] else r["status"] + "+LEAK"
            r["detail"] = f"{r.get('detail', '')} persisted RDDs left: {leaked}"
            r["ok"] = False
        flag = "" if r["ok"] else "  <<<<"
        print(f"{name}: {r['status']} rows={r.get('spark_rows')}"
              f" {r.get('detail','')}{flag}")
        if not r["ok"]:
            n_bad += 1
    print(f"\n{len(names) - n_bad}/{len(names)} ok")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
