"""Analytics surface: relational queries + training-data operators.

The reference has no relational algebra (SURVEY.md §2.4) — joins,
aggregations, windows, sorts come straight from Spark SQL. This package
holds the engine's query library: the TPC-H-ish relational suite
(``relational``), large-scale dedup (``dedup``), similarity search
(``similarity``), text analysis (``text``) and multimodal plumbing
(``multimodal``).
"""

from pyspark.sql import Column, DataFrame

# Results at or below this materialized size take the single-task
# presentation sort (one narrow job); larger results keep the
# distributed range sort. 32 MB sorts in tens of ms on one core —
# far below the fixed cost of the range sort's sampling job + shuffle
# stage it replaces — while anything corpus-sized at cluster scale
# stays distributed.
SMALL_SORT_BYTES = 32 << 20


def ordered_result(df: DataFrame, *cols: "Column | str") -> DataFrame:
    """Final presentation sort over an eager :func:`~conduit_spark.plans.barrier`.

    A bare ``orderBy`` on an expensive subtree executes it twice: the
    range partitioner's sampling job runs the full child to pick split
    points, then the sort stage runs it again. The barrier pins the
    subtree's result on first execution so the sort re-reads
    executor-local blocks.

    When the materialized result is at most ``SMALL_SORT_BYTES`` (read
    from the block manager, no extra job) the sort is
    ``coalesce(1).sortWithinPartitions`` — one narrow task, no
    range-sampling job, no range exchange, and the same rows in the
    same total order. Larger results keep the distributed range sort;
    the gate is read per execution, so the same code picks the
    scalable shape at cluster scale. If the size cannot be read, the
    range sort runs over the barrier (the query is not re-run). In
    plan-audit mode (:func:`~conduit_spark.plans.barriers_disabled`)
    the plain ``orderBy`` is built.

    The barrier holds the query RESULT (already reduced), not its
    input; use this only as the outermost presentation step.
    """
    from conduit_spark.plans import barrier, stored_bytes

    chk = barrier(df)
    if chk is df:  # plan-audit mode
        return df.orderBy(*cols)
    try:
        small = stored_bytes(chk) <= SMALL_SORT_BYTES
    except Exception:  # noqa: BLE001 — introspection must never break a query
        return chk.orderBy(*cols)
    if small:
        return chk.coalesce(1).sortWithinPartitions(*cols)
    return chk.orderBy(*cols)


def tiny_loop_aqe_off(spark, n_rows: "int | None" = None, cap: int = 4_000_000):
    """Context manager: disable AQE around an EAGERLY-executed
    iteration loop whose per-round shuffle state is tiny.

    Every AQE query-stage materialization is a separate Spark job
    (scheduler round + exchange setup), so a K-round driver loop of
    tiny aggregations — farthest-point rounds, Lloyd centroid updates,
    BPE merge argmaxes, label propagation on a reduced graph — pays
    2-3× the job count for nothing: a single-partition or K-row
    exchange leaves AQE no partition-count or skew decision to make
    (guide §1.2; the r14 scaling block showed the sf0.1 suite is
    per-job fixed-overhead bound). Scale-adaptive: when the loop-state
    row count is known, pass it — above ``cap`` AQE stays ON so
    billion-row iteration state keeps skew/coalesce handling. The conf
    is restored on exit, so lazily-executed parts of the query (the
    final assembled plan run by the sink) still execute under AQE.

    r15 addendum: when the loop-state row count IS known, the loop's
    shuffle-partition count is derived from it (ceil(n_rows / 100k),
    clamped to the session setting) — with AQE off there is no
    coalescing, so a K-row rank/vocab exchange otherwise fans out to
    the full static partition count and every round pays
    ``partitions`` task launches to move kilobytes (measured on
    d_pagerank: 64-96 task stages per round on a ~4k-node graph).
    This is the size-derived partitioning AQE would have picked, made
    static for the loop; it scales with the data, not the core count,
    and a corpus-sized loop never reaches here (the ``cap`` gate keeps
    AQE on).
    """
    import contextlib
    import math

    @contextlib.contextmanager
    def _ctx():
        if n_rows is not None and n_rows > cap:
            yield
            return
        prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
        prev_sp = spark.conf.get("spark.sql.shuffle.partitions", "200")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        if n_rows is not None:
            target = max(1, min(int(prev_sp), math.ceil(n_rows / 100_000)))
            spark.conf.set("spark.sql.shuffle.partitions", str(target))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev)
            spark.conf.set("spark.sql.shuffle.partitions", prev_sp)

    return _ctx()


def combination_pairs(
    df: DataFrame, arr_col: str = "g", a: str = "a", b: str = "b"
) -> DataFrame:
    """All i<j element pairs of a sorted, cap-bounded array column —
    the pair-generation tail shared by every banded near-dup operator
    (minhash/simhash buckets, sign-LSH bands, image/audio fingerprint
    bands, shingle groups).

    Shape: ``posexplode`` emits each element with its position, then a
    second ``explode`` over ``slice(arr, i+2, ...)`` yields only the
    j>i partners, in whole-stage codegen with no self-join. r14: this
    replaced the ``flatten(transform(sequence, i -> transform(
    sequence, j -> ...)))`` nested-lambda form — Catalyst spent ~1.2s
    PER QUERY BUILD optimizing that expression and its generated code
    ran ~2x slower than the two flat generators (measured at sf0.1:
    plan 1.25s → 0.68s, execute 1.12s → 0.60s, byte-identical rows).
    Upstream hot-bucket caps must bound the array size; the slice
    keeps intermediate rows at C(n,2), never n².
    """
    from pyspark.sql import functions as F

    e = df.select(F.posexplode(arr_col).alias("__i", a), F.col(arr_col))
    return e.select(
        a,
        F.explode(
            F.expr(f"slice({arr_col}, __i + 2, size({arr_col}) - __i - 1)")
        ).alias(b),
    )
