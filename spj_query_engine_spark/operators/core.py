"""Core relational operators — the reference's full executed surface.

Every function here is a *plan builder*: it composes lazy DataFrame
transformations and returns a new DataFrame.  The reference's Volcano
``open()/next()/close()`` page loop (``src/qp/operators/Operator.java:9-53``),
its hand-rolled spill files and its three join algorithms (NestedJoin /
BlockNestedJoin / grace HashJoin) have no counterpart — Catalyst + Tungsten
pick the physical strategy (broadcast / shuffled-hash / sort-merge, AQE skew
splitting replaces the reference's recursive re-partitioning at
``src/qp/operators/HashJoin.java:480-506``).

Reference parity map (file:line into /root/reference):

* ``scan``              ← Scan                 src/qp/operators/Scan.java:19-109
* ``filter_conditions`` ← Select (stacked)     src/qp/operators/Select.java:130-220
* ``project``           ← Project              src/qp/operators/Project.java:95-106
* ``equi_join``         ← Nested/BNL/Hash join src/qp/operators/{NestedJoin,BlockNestedJoin,HashJoin}.java
* ``distinct``          ← Distinct (ext. sort) src/qp/operators/Distinct.java:8-492
* ``groupby_distinct``  ← GroupBy (key dedup)  src/qp/operators/GroupBy.java:14-391
* ``aggregate``         ← parsed-only agg surface (Project.java:72-75 aborts;
                          we implement it — SURVEY.md §7 D2)
* ``order_by``          ← parsed-only ORDERBY (RandomInitialPlan.java:50-53
                          aborts; we implement it — D2)
"""

from __future__ import annotations

import itertools
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spj_query_engine_spark.catalog import load_table
from spj_query_engine_spark.session import scoped

# The six comparison operators of the reference dialect
# (src/qp/utils/Condition.java:9-14).
_OPS = {
    "=": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    ">": lambda a, b: a > b,
    "<=": lambda a, b: a <= b,
    ">=": lambda a, b: a >= b,
}

#: Aggregate functions of the reference grammar
#: (src/qp/parser/parser.cup:197-221); COUNT→long, AVG→double follow
#: src/qp/utils/Attribute.java:113-121 (COUNT int, AVG real) widened to
#: Spark-native types.
AGG_FUNCS = {
    "MAX": F.max,
    "MIN": F.min,
    "SUM": F.sum,
    "COUNT": F.count,
    "AVG": F.avg,
}


def scan(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Base-table scan (reference Scan.java) as a parquet source."""
    return load_table(spark, sf_dir, table)


def compare(left: Column, op: str, right: Column | object) -> Column:
    """One reference predicate ``attr op rhs`` (Select.java:130-220)."""
    if op not in _OPS:
        raise ValueError(f"unsupported comparison operator: {op!r}")
    return _OPS[op](left, right if isinstance(right, Column) else F.lit(right))


def filter_conditions(df: DataFrame, conditions: Sequence[Column]) -> DataFrame:
    """Comma-separated WHERE conditions are implicitly ANDed; the reference
    stacks one Select per condition (RandomInitialPlan.java:114-133) — here
    they chain into one Filter that Catalyst pushes into the scan."""
    for cond in conditions:
        df = df.filter(cond)
    return df


def project(df: DataFrame, columns: Sequence[str | Column]) -> DataFrame:
    """Pure column projection (Project.java:95-106).  Unlike the reference
    (projection only at the plan root), Catalyst's ColumnPruning pushes the
    narrow schema all the way into the parquet scan."""
    return df.select(*columns)


def equi_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[tuple[Column, Column]],
    broadcast_right: bool = False,
    how: str = "inner",
) -> DataFrame:
    """Equi-join on one or more key pairs (inner by default — the only
    flavor the reference executes; ``how`` opens the standard Spark
    left/right/full/semi/anti surface beyond it).

    The reference supports a *list* of equality conditions in NestedJoin
    (NestedJoin.java:104-180, Tuple.checkJoin) but only the first in
    BNLJ/HashJoin (Join.java:83-86); we always honor the full list.  Column
    order of the result = left columns then right columns, matching
    ``Schema.joinWith`` (Schema.java:81-90) — duplicate key columns are KEPT,
    as the reference does for ``SELECT *``.

    ``broadcast_right=True`` hints a map-side join for dimension tables —
    the scale-out replacement for the reference's cost-based algorithm pick.
    """
    cond = None
    for lcol, rcol in on:
        clause = lcol == rcol
        cond = clause if cond is None else (cond & clause)
    if cond is None:
        raise ValueError("equi_join requires at least one key pair")
    return left.join(F.broadcast(right) if broadcast_right else right, cond, how)


def theta_join(left: DataFrame, right: DataFrame, cond: Column, how: str = "inner") -> DataFrame:
    """General theta join.  The reference PARSES cross-table theta conditions
    but silently executes them as equality (parser.cup:175-180 +
    Tuple.java:36-43); we execute the operator as written (SURVEY.md §7 D3 —
    DuckDB agrees with the written semantics).  Catalyst picks
    BroadcastNestedLoopJoin; callers should keep one side small or bucketize
    (see operators.temporal for the range-join scale path)."""
    return left.join(right, cond, how)


def distinct(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """DISTINCT over the projected columns (Distinct.java's external
    merge-sort dedup → a hash aggregate in Spark; no global sort needed)."""
    return df.dropDuplicates(list(columns)) if columns else df.dropDuplicates()


def groupby_distinct(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """GROUPBY with no aggregates = distinct grouping keys, dropping all
    other columns — the reference's quirky-but-sane GroupBy semantics
    (GroupBy.java:101-113; schema cut at RandomInitialPlan.java:188-199)."""
    return df.select(*keys).distinct()


def aggregate(
    df: DataFrame,
    keys: Sequence[str],
    aggs: Sequence[tuple[str, str | Column, str]],
) -> DataFrame:
    """``groupBy(keys).agg(...)`` — the declared-but-aborting reference
    surface (Project.java:72-75), implemented (D2).

    ``aggs`` entries are ``(func, column, alias)`` with func in AGG_FUNCS.
    With empty ``keys`` this is a global aggregate.  Spark executes with
    map-side partial aggregation, so the shuffle carries one row per
    (partition, key) — the 100 TB-safe shape.
    """
    cols = []
    for func, col, alias in aggs:
        func = func.upper()
        if func not in AGG_FUNCS:
            raise ValueError(f"unsupported aggregate: {func!r}")
        cols.append(AGG_FUNCS[func](col).alias(alias))
    if not cols:
        raise ValueError("aggregate requires at least one aggregation")
    return df.groupBy(*keys).agg(*cols) if keys else df.agg(*cols)


def order_by(df: DataFrame, columns: Sequence[str | Column], ascending: bool = True) -> DataFrame:
    """Global ORDER BY (reference parses then aborts,
    RandomInitialPlan.java:50-53; implemented per D2).  Spark range-partitions
    on a sampled histogram — a distributed sort, not a single-node one."""
    return df.orderBy(*columns, ascending=ascending)


def spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition a DataFrame whose physical partition count is far below
    the session's parallelism, so downstream CPU-heavy stages (pairwise
    joins, shingle explodes) use every core.

    At production scale inputs arrive in hundreds of splits and this is a
    no-op; it only fires for small files that parquet reads as one split —
    without it a broadcast-join pair loop runs on a single task no matter
    how many executors exist (there is no shuffle to rebalance it).  The
    guard makes the extra shuffle conditional, so a 100 TB input never pays
    a gratuitous full-table exchange.
    """
    if df.isStreaming:
        return df  # streaming frames re-balance at their own shuffle boundaries
    spark = df.sparkSession
    target = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if _estimated_splits(df) >= max(2, target // 2):
        return df
    return df.repartition(target, *key_cols) if key_cols else df.repartition(target)


def _size_bytes(conf_val: str) -> int:
    """Parse a Spark byte-size conf string ('128MB', '134217728b', '1g')."""
    s = conf_val.strip().lower()
    for suffix, mult in (("pb", 1 << 50), ("tb", 1 << 40), ("gb", 1 << 30),
                         ("mb", 1 << 20), ("kb", 1 << 10), ("p", 1 << 50),
                         ("t", 1 << 40), ("g", 1 << 30), ("m", 1 << 20),
                         ("k", 1 << 10), ("b", 1)):
        if s.endswith(suffix):
            return int(float(s[: -len(suffix)]) * mult)
    return int(s)


def barrier(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint materialization barrier — with a plan-audit
    escape hatch.

    A barrier replaces its subtree with an ``ExistingRDD`` scan, which is
    exactly right at run time (bounds re-execution of shared subplans,
    truncates iterative lineage) and exactly wrong for the plan-hygiene
    tests (tests/test_plan_hygiene.py) that walk each registry entry's
    physical plan for cartesian products, unpushed filters, and unbounded
    nested-loop builds.  Those tests set ``SPJ_LAZY_PLANS=1`` (read at call
    time, never cached) to skip the materialization and audit the full
    plan; every production entry point leaves it unset.  The flag is
    honored ONLY under pytest (``PYTEST_CURRENT_TEST`` present): a stray
    ``SPJ_LAZY_PLANS=1`` leaking into a production environment would
    silently disable every barrier and reintroduce the double-derivation
    cost the barriers exist to bound.
    """
    import os as _os

    if (
        _os.environ.get("SPJ_LAZY_PLANS", "") == "1"
        and "PYTEST_CURRENT_TEST" in _os.environ
    ):
        return df
    return df.localCheckpoint(eager=True)


_COARSE_SEQ = itertools.count()


def _coarse_target(df: DataFrame, floor: int, per_partition: int) -> int | None:
    """Coarse shuffle-partition target for materializing ``df``, or None
    when coarsening is not warranted.  Sized from Catalyst's own input-size
    estimate at ``per_partition`` bytes of INPUT per post-shuffle partition
    and clamped to ``[floor, session default)`` — coarsening only ever
    LOWERS the count, and only when the optimizer proves the input tiny
    (< default × per_partition bytes).  On a production cluster reading
    terabytes the estimate blows past the clamp → None (strict no-op);
    unknown / non-scan estimates (Catalyst returns 8 EB defaults for
    checkpointed or UDF-bearing leaves) also → None."""
    spark = df.sparkSession
    try:
        default = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    target = max(floor, min(default, size // per_partition + 1))
    return None if target >= default else target


def _reroot(df: DataFrame, to_session: SparkSession) -> DataFrame:
    """Re-bind ``df``'s logical plan to another session of the same
    application via a (dropped-immediately) global temp view — global temp
    views are the one catalog surface shared across sessions, and classic
    Spark analyzes eagerly at ``table()``, so the view can be dropped as
    soon as the new Dataset exists."""
    name = f"spj_coarse_{next(_COARSE_SEQ)}"
    df.createOrReplaceGlobalTempView(name)
    try:
        out = to_session.table(f"global_temp.{name}")
    finally:
        df.sparkSession.catalog.dropGlobalTempView(name)
    n_rows = getattr(df, "_spj_rowcount", None)
    if n_rows is not None:
        # keep catalog.load_table's footer-metadata row count visible to
        # operators sizing structures from the corpus (resolve_quantizer_cells)
        out._spj_rowcount = n_rows
    return out


def coarse_materialize(
    build,
    df: DataFrame,
    floor: int = 8,
    per_partition: int = 1 << 20,
    aqe: bool = True,
    coalesce: bool = True,
) -> DataFrame:
    """Materialize ``barrier(build(df))`` with every shuffle in the built
    plan running at a coarse partition count — per-plan, on an isolated
    sub-session, with no mutation of the caller's session conf.

    Why coarse at all: the bench-variance investigation
    (BENCH_VARIANCE.md) localized the g-family's ~2x session-phase jitter
    to multi-shuffle subplans whose stages are dozens of sub-100 ms tasks —
    per-stage scheduler latency multiplies across ~10 stages.  Coarser
    tasks amortize it: an interleaved same-session A/B
    (scripts/variance_ab.py) measured the MinHash pair derivation at med
    2.6 s / range 2.4-3.3 under the session default vs med 1.1 s / range
    1.0-1.3 with the subplan scoped to 8 partitions.

    Why a sub-session (r09, replacing the r07 ``coarse_shuffle`` context
    manager): a single ``df.repartition(n)`` / REBALANCE hint coarsens only
    ONE exchange, but the win lives in the ~10 interior shuffles of the
    banded derivation — the only per-plan way to coarsen all of them is to
    plan the subtree under a conf where ``spark.sql.shuffle.partitions`` is
    low.  :func:`…session.scoped` gives exactly that scope: an isolated
    SQLConf over the same SparkContext, cached per (application, target,
    ``aqe``, ``coalesce``), so concurrent scopes with different settings
    never share a session.  The input plan crosses
    sessions via a global temp view, the built plan materializes eagerly
    (``barrier``) under the coarse conf, and the ExistingRDD-backed result
    is re-rooted to the caller's session so every downstream consumer
    plans under the caller's own conf.  A concurrent job on the caller's
    session is untouched by construction — no lock, no restore window, no
    sequential-execution contract.

    100 TB safety is unchanged from r07: the target comes from
    :func:`_coarse_target`'s optimizer-estimate clamp, so terabyte inputs
    (or unknown estimates) take the plain ``barrier(build(df))`` path.

    ``aqe=False`` / ``coalesce=False`` (r10) tune adaptive execution INSIDE
    the scope only.  AQE exists to re-plan large shuffles; within a
    provably-KB-scale materialization two of its behaviors can be pure
    overhead, measured per entry by interleaved A/B
    (the A/B script and both knob variants are in git history):

    * ``coalesce=False`` keeps AQE's runtime join re-planning but stops the
      advisory-size coalescer from collapsing every tiny exchange to ONE
      task — which serializes the compute-carrying stages (per-candidate
      dot-product folds) of the embedding chains: s06 0.30, s09 0.35,
      d12 0.35, s17 0.38, d14 0.56, t19 0.87 vs full AQE.
    * ``aqe=False`` additionally drops the per-stage re-planning rounds —
      the better trade for one-shot pair/graph rollups whose stages carry
      trivial compute: g10 0.74, g04 0.76, d10 0.84, d26 0.85, d17 0.85,
      g08 0.86, g03 0.86, s18 0.87, g09 0.88, d29 0.89, d18 0.89, g01 0.89,
      d05 0.75.
    * iterative star/label loops measured FASTER with full AQE (d07 1.10+,
      g02 1.04-1.52, d25, g07, g11, q45, p07) and keep the default.

    Both flags default on and only take effect when the coarse scope is
    live, so production-scale inputs always run full AQE via the same
    estimate clamp.
    Nested scopes (e.g. ``lsh_pairs_ckpt`` invoked inside a graph builder
    that is itself coarse-materializing) detect the coarse-session marker
    and no-op into the enclosing scope's conf.

    Under the plan-hygiene suite's ``SPJ_LAZY_PLANS=1`` (pytest only, see
    :func:`barrier`) the full lazy plan is returned on the caller's session
    so physical-plan audits see the whole subtree.
    """
    import os as _os

    spark = df.sparkSession
    if getattr(spark, "_spj_coarse_sub", False):
        # nested scope: already planning under a coarse conf — re-scoping
        # would just recompute a target for the same frame (and the old
        # lock-based design could self-deadlock here)
        return barrier(build(df))
    if (
        _os.environ.get("SPJ_LAZY_PLANS", "") == "1"
        and "PYTEST_CURRENT_TEST" in _os.environ
    ):
        return barrier(build(df))
    target = _coarse_target(df, floor, per_partition)
    if target is None:
        return barrier(build(df))
    sub = scoped(
        spark,
        {
            "spark.sql.shuffle.partitions": target,
            "spark.sql.adaptive.enabled": aqe,
            # always in the key, so a stream scope never shares this clone
            "spark.sql.adaptive.coalescePartitions.enabled": coalesce,
        },
    )
    sub._spj_coarse_sub = True  # nested-scope marker
    out = barrier(build(_reroot(df, sub)))
    return _reroot(out, spark)


def _estimated_splits(df: DataFrame) -> int:
    """Scan-split estimate from Catalyst's plan statistics (sizeInBytes /
    files.maxPartitionBytes) — the same arithmetic FilePartition uses to cut
    splits.  Pure plan inspection: no job, no plan-to-RDD conversion (the old
    ``df.rdd.getNumPartitions()`` materialized an RDD lineage per call and
    raised on streaming frames)."""
    spark = df.sparkSession
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        per_split = _size_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")
        )
        return max(1, size // max(1, per_split))
    except Exception:
        return 0  # unknown → treat as under-split; the repartition is cheap there


def _check_compat(left: DataFrame, right: DataFrame) -> None:
    """Union-compatibility check — the reference ships the same helper
    (`Schema.checkCompat`, src/qp/utils/Schema.java:114-126) but never wires
    it to an operator; here it guards the set operations it was meant for."""
    lt = [f.dataType for f in left.schema.fields]
    rt = [f.dataType for f in right.schema.fields]
    if lt != rt:
        raise ValueError(
            f"set operation on incompatible schemas: {left.schema.simpleString()} "
            f"vs {right.schema.simpleString()}"
        )


def union(left: DataFrame, right: DataFrame, all: bool = False) -> DataFrame:
    """UNION [ALL] by position (SQL semantics: dedup unless ``all``)."""
    _check_compat(left, right)
    out = left.union(right)
    return out if all else out.distinct()


def intersect(left: DataFrame, right: DataFrame) -> DataFrame:
    _check_compat(left, right)
    return left.intersect(right)


def except_(left: DataFrame, right: DataFrame) -> DataFrame:
    """SQL EXCEPT (distinct-set difference)."""
    _check_compat(left, right)
    return left.subtract(right)
