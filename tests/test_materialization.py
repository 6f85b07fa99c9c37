"""Materialization lifetimes (conduit_spark.plans): query-scoped
barriers are freed by their scope on every exit path, persist() caches
are freed on the exception path too, the session tier leaves no temp
root behind, and no module bypasses the one barrier primitive."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys
import textwrap

import pyspark.sql.functions as F
import pytest

from conduit_spark.analytics import dedup, ordered_result, relational
from conduit_spark.plans import barrier, barrier_scope, executed_plan

REPO = pathlib.Path(__file__).resolve().parent.parent


def _persisted(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


@pytest.mark.parametrize("fail", [False, True], ids=["success", "exception"])
def test_barrier_scope_leaves_no_persisted_rdds(spark, sf_dir, monkeypatch, fail):
    """q2 creates three barriers before its presentation sort; with the
    sort made to raise, the scope must still free all of them."""
    if fail:
        def boom(df, *cols):
            raise RuntimeError("injected after the first barrier")

        monkeypatch.setattr(relational, "ordered_result", boom)
    before = _persisted(spark)
    try:
        with barrier_scope():
            df = relational.q2_min_cost_supplier(spark, sf_dir)
            assert _persisted(spark) - before, "the query created no barrier"
            df.collect()
    except RuntimeError as e:
        assert fail and "injected" in str(e)
    else:
        assert not fail
    assert _persisted(spark) - before == set()


def test_barrier_outside_scope_is_left_to_spark(spark):
    before = _persisted(spark)
    chk = barrier(spark.range(10))
    assert chk.count() == 10
    assert _persisted(spark) - before, "an unscoped barrier is not freed eagerly"


def test_containment_pairs_frees_shingle_cache_on_error(spark, sf_dir, monkeypatch):
    def boom(df, *cols):
        raise RuntimeError("injected")

    spark.catalog.clearCache()
    monkeypatch.setattr(dedup, "ordered_result", boom)
    with pytest.raises(RuntimeError, match="injected"):
        dedup.d_containment_pairs(spark, sf_dir)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_ordered_result_size_probe_failure_does_not_rerun_query(spark, monkeypatch):
    """A failing size read falls back to the range sort over the
    barrier: same rows as ``orderBy``, and the source runs once."""
    from conduit_spark import plans

    def boom(chk):
        raise RuntimeError("probe down")

    monkeypatch.setattr(plans, "stored_bytes", boom)
    runs = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counted(x):
        runs.add(1)
        return x

    df = spark.range(50).select(counted(F.col("id") % 7).alias("k"), "id")
    out = ordered_result(df, "k", "id")
    plan = executed_plan(out)
    assert "ExistingRDD" in plan and "Range (" not in plan
    rows = out.collect()
    assert runs.value == 50
    assert rows == df.orderBy("k", "id").collect()


def test_bucketed_join_data_dir_name_with_dash(spark, sf_dir, tmp_path):
    link = tmp_path / "sf-copy"
    link.symlink_to(os.path.abspath(sf_dir))
    got = relational.q_bucketed_join(spark, str(link)).collect()
    assert got and got == relational.q_bucketed_join(spark, sf_dir).collect()


def test_session_temp_root_removed_at_exit(tmp_path):
    code = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from conduit_spark import get_spark, plans
        spark = get_spark("session-root-exit")
        vecs, cents = plans.session_materialize(
            "probe", spark, "none", lambda: (spark.range(10), spark.range(3))
        )
        assert (vecs.count(), cents.count()) == (10, 3)
        print(plans._SESSION_ROOT)
        """
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "-c", code],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    root = proc.stdout.strip().splitlines()[-1]
    assert root.startswith(str(tmp_path))
    assert not os.path.exists(root)


def test_no_direct_local_checkpoint_outside_plans():
    """A direct call bypasses both the audit mode and the scope."""
    pkg = REPO / "conduit_spark"
    offenders = [
        str(p.relative_to(REPO))
        for p in pkg.rglob("*.py")
        if p != pkg / "plans.py" and ".localCheckpoint(" in p.read_text()
    ]
    assert offenders == []
