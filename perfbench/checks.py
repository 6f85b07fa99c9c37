"""Correctness checkers, run outside the timed region.

Each returns ``(attempted, failed, correct, detail)``. ``failed`` counts
operations that did not complete: a query that raised or disagreed with
its oracle, a record that is missing or duplicated. ``correct`` is False
when the program put out something it should not have: a record with an
unexpected id, in the wrong place, or with wrong content.
"""

from __future__ import annotations

import datetime
import math
from collections import Counter


def canon(v) -> str:
    """Canonical text of one value; ints and floats stay distinct and NaN
    is normalised. The same rules as the repository's strict gate check
    (``scripts/gate_check.py``), copied so that the benchmark does not
    change when the program's scripts do."""
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, datetime.datetime):
        return f"t:{v.replace(tzinfo=None).isoformat()}"
    if isinstance(v, datetime.date):
        return f"d:{v.isoformat()}"
    if isinstance(v, (bytes, bytearray)):
        return f"y:{bytes(v).hex()}"
    if isinstance(v, (list, tuple)):
        return "l:[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        items = sorted((str(k), canon(x)) for k, x in v.items())
        return "m:{" + ",".join(f"{k}={x}" for k, x in items) + "}"
    import numpy as np

    if isinstance(v, np.integer):
        return f"i:{int(v)}"
    if isinstance(v, np.floating):
        return canon(float(v))
    if isinstance(v, np.bool_):
        return f"b:{bool(v)}"
    if isinstance(v, np.ndarray):
        return canon(list(v))
    if hasattr(v, "isoformat"):
        return canon(v.to_pydatetime() if hasattr(v, "to_pydatetime") else str(v))
    return f"s:{v}"


def multiset(columns, rows) -> list[str]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


def check_analytics(results: dict, oracles: dict):
    """``results`` / ``oracles``: query -> (columns, rows), or an exception
    text for a query that raised. A query passes when its column names
    and value multiset equal the oracle's and it returned rows."""
    failed, detail = 0, {}
    for name, got in results.items():
        want = oracles.get(name)
        if isinstance(got, str) or isinstance(want, str) or want is None:
            status = f"error: {got if isinstance(got, str) else want}"
        elif sorted(got[0]) != sorted(want[0]):
            status = f"columns {sorted(got[0])} != {sorted(want[0])}"
        elif not got[1]:
            status = "no rows"
        elif multiset(*got) != multiset(*want):
            status = f"values differ ({len(got[1])} rows vs {len(want[1])})"
        else:
            status = "ok"
        failed += status != "ok"
        detail[name] = status
    return len(results), failed, True, detail


def check_exactly_once(expected_ids, delivered_ids):
    """Every expected id delivered exactly once; an id outside the
    expected set makes the output incorrect."""
    expected = set(expected_ids)
    seen = Counter(delivered_ids)
    missing = sum(1 for i in expected if i not in seen)
    duplicated = sum(c - 1 for i, c in seen.items() if i in expected and c > 1)
    unexpected = sum(c for i, c in seen.items() if i not in expected)
    detail = {"expected": len(expected), "missing": missing,
              "duplicated": duplicated, "unexpected": unexpected}
    return len(expected), missing + duplicated, unexpected == 0, detail


def check_kafka(grp, first_id: int, end_id: int, delivered_ids, bad_content: int):
    """Records ``first_id..end_id-1`` went in; the ``filter`` drops
    ``grp == 0``, every other id must arrive once. ``bad_content``
    counts delivered records whose payload lost a field or the value
    ``field.set`` wrote."""
    expected = (i for i in range(first_id, end_id) if grp[i] != 0)
    _, failed, correct, detail = check_exactly_once(expected, delivered_ids)
    detail["bad_content"] = bad_content
    return end_id - first_id, failed, correct and bad_content == 0, detail


def check_file_split(grp, n_records: int, dest_ids, dlq_ids, dlq_every: int):
    """Reference semantics of the chain ``... -> error (id % dlq_every == 0)
    -> filter (grp == 0)``: an errored record is nacked to the DLQ and
    leaves the chain, so the DLQ holds every multiple of ``dlq_every``;
    the destination holds every other id whose ``grp`` is not 0."""
    want_dlq = [i for i in range(0, n_records, dlq_every)]
    want_dest = (i for i in range(n_records) if i % dlq_every and grp[i] != 0)
    _, f_dest, ok_dest, d_dest = check_exactly_once(want_dest, dest_ids)
    _, f_dlq, ok_dlq, d_dlq = check_exactly_once(want_dlq, dlq_ids)
    return n_records, f_dest + f_dlq, ok_dest and ok_dlq, {
        "destination": d_dest, "dlq": d_dlq}
