"""Scale levers: bucketed co-located joins (no Exchange) and salted skew
joins (same result, hot key split)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spj_query_engine_spark.operators import scale


def test_bucketed_join_has_no_exchange(spark):
    left = spark.range(10_000).withColumn("v", F.col("id") * 2)
    right = spark.range(5_000).withColumn("w", F.col("id") + 1)
    scale.write_bucketed(left, "bkt_left", ["id"], num_buckets=8)
    scale.write_bucketed(right, "bkt_right", ["id"], num_buckets=8)
    try:
        joined = scale.bucketed_join(spark, "bkt_left", "bkt_right", ["id"])
        assert joined.count() == 5_000
        # the whole point: both sides pre-shuffled at write time
        assert scale.exchanges_in_plan(joined) == 0, (
            joined._jdf.queryExecution().executedPlan().toString()
        )
        # contrast: the same join on plain frames shuffles (or broadcasts);
        # force shuffle path by disabling broadcast for the check
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plain = left.join(right, "id")
            assert scale.exchanges_in_plan(plain) > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_salted_join_equals_plain_join(spark):
    # 90% of left rows share one hot key — the classic skew shape
    left = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [7] * 900 + list(range(100)),
                "payload": range(1000),
            }
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k2": range(100), "name": [f"n{i}" for i in range(100)]})
    )
    plain = left.join(right, left["k"] == right["k2"]).select("k", "payload", "name")
    salted = scale.salted_join(left, right, "k", "k2", n_salts=4).select(
        "k", "payload", "name"
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_join_spreads_hot_key(spark):
    left = spark.createDataFrame(
        pd.DataFrame({"k": [7] * 1000, "payload": range(1000)})
    )
    right = spark.createDataFrame(pd.DataFrame({"k2": [7], "name": ["hot"]}))
    out = scale.salted_join(left, right, "k", "k2", n_salts=4)
    assert out.count() == 1000
    # the salt column took >1 distinct value over the hot key before the join
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(4))
    n_salts_used = left.select(salt.alias("s")).distinct().count()
    assert n_salts_used > 1


def test_set_operations(spark):
    from spj_query_engine_spark.operators import core

    a = spark.createDataFrame([(1,), (2,), (2,), (3,)], ["x"])
    b = spark.createDataFrame([(2,), (3,), (4,)], ["x"])
    assert sorted(r["x"] for r in core.union(a, b).collect()) == [1, 2, 3, 4]
    assert sorted(r["x"] for r in core.union(a, b, all=True).collect()) == [1, 2, 2, 2, 3, 3, 4]
    assert sorted(r["x"] for r in core.intersect(a, b).collect()) == [2, 3]
    assert sorted(r["x"] for r in core.except_(a, b).collect()) == [1]
    import pytest as pt

    with pt.raises(ValueError, match="incompatible"):
        core.union(a, spark.createDataFrame([("s",)], ["x"]))


def test_q31_bucketed_entry_zero_exchange(spark):
    """The registered bucketed-join entry plans with NO shuffle exchange —
    join and aggregation both ride the write-time bucketing."""
    from spj_query_engine_spark.workload import REGISTRY

    from tests.conftest import SF_DIR

    df = REGISTRY["q31_bucketed_join_agg"].fn(spark, SF_DIR)
    assert scale.exchanges_in_plan(df) == 0


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """The runtime row-level bloom filter — Spark's semi-join reduction for
    shuffle joins a broadcast can't cover — injects when enabled: the
    selective build side aggregates a bloom_filter_agg and the fact side
    probes it (BloomFilterMightContain) BELOW the join, so at 100 TB most
    non-matching fact rows die at the scan instead of crossing the shuffle.
    Kept opt-in (local[32] fixtures are broadcast-sized); this test pins
    the lever working so a cluster deployment can switch it on."""
    from spj_query_engine_spark.catalog import load_tables

    from tests.conftest import SF_DIR

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        t = load_tables(spark, SF_DIR, ("orders", "lineitem"))
        sel = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT").select(
            "o_orderkey"
        )
        j = t["lineitem"].join(sel, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "BloomFilterMightContain" in plan or "bloomFilter" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_partitioned_write_prunes_directories(spark, tmp_path):
    """A filter on a partition column becomes DIRECTORY pruning: the scan
    plans PartitionFilters and reads only the matching partition's files —
    zero I/O for the other values."""
    from spj_query_engine_spark.catalog import load_tables
    from spj_query_engine_spark.operators.scale import (
        partition_filters_in_plan,
        write_partitioned,
    )

    from tests.conftest import SF_DIR

    ev = load_tables(spark, SF_DIR, ("events",))["events"]
    lake = str(tmp_path / "events_lake")
    write_partitioned(ev, lake, ["event_type"])

    back = spark.read.parquet(lake)
    q = back.filter(F.col("event_type") == "click")
    pf = partition_filters_in_plan(q)
    # the equality reached the scan's PartitionFilters clause — Catalyst
    # applies these at file LISTING time, so pruned directories are never
    # opened (inputFiles() reports the unpruned relation, so the plan
    # clause is the pruning proof)
    assert "event_type" in pf and "click" in pf, f"no pruning in plan: {pf!r}"
    # and the layout wrote one directory per value
    import os as _os

    dirs = {d for d in _os.listdir(lake) if d.startswith("event_type=")}
    assert "event_type=click" in dirs and len(dirs) == 5
    # pruning is lossless
    assert q.count() == ev.filter(F.col("event_type") == "click").count()


def test_zorder_value_matches_reference_interleave(spark):
    """zorder_value == the textbook Morton interleave, bit for bit."""
    from spj_query_engine_spark.operators.scale import zorder_value

    def morton(vals, bits):
        out = 0
        n = len(vals)
        for i, v in enumerate(vals):
            v = max(0, min(v, (1 << bits) - 1))
            for j in range(bits):
                out |= ((v >> j) & 1) << (j * n + i)
        return out

    rows = [(0, 0), (1, 0), (0, 1), (3, 5), (255, 1), (7, 300), (-4, 2)]
    df = spark.createDataFrame(rows, "a long, b long").select(
        "a", "b", zorder_value([F.col("a"), F.col("b")], bits=8).alias("z")
    )
    for r in df.collect():
        assert r["z"] == morton([r["a"], r["b"]], 8), (r["a"], r["b"])


def test_zorder_write_narrows_both_dimensions(spark, tmp_path):
    """Z-order clustering vs single-column sort on a 64x64 grid: the
    single-column layout leaves the second column's per-file min/max as
    wide as its whole domain (no skipping possible); the Z-ordered layout
    narrows EVERY file's range on BOTH columns."""
    from spj_query_engine_spark.operators.scale import write_zordered

    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("a"), (F.col("id") / 64).cast("long").alias("b")
    )
    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    write_zordered(grid, zpath, ["a", "b"], bits=6, n_files=8)
    grid.repartitionByRange(8, "a").sortWithinPartitions("a").write.parquet(spath)

    import pyarrow.parquet as pq
    import glob as g

    def per_file_range(path, col):
        spans = []
        for f in g.glob(path + "/part-*.parquet"):
            t = pq.read_table(f, columns=[col])[col]
            import pyarrow.compute as pc

            spans.append(pc.max(t).as_py() - pc.min(t).as_py())
        return spans

    z_b = per_file_range(zpath, "b")
    s_b = per_file_range(spath, "b")
    # sorted-by-a: every file spans (almost) the full b domain
    assert min(s_b) >= 55
    # z-ordered: every file covers a bounded b slab, and is far tighter
    assert max(z_b) <= 32
    assert sum(z_b) < sum(s_b) / 2
    # and the a dimension is still well-clustered too (range-boundary
    # sampling can let one file straddle a major Z split, so bound the
    # aggregate, not the max)
    z_a = per_file_range(zpath, "a")
    assert sum(z_a) / len(z_a) <= 40
    assert sorted(z_a)[len(z_a) // 2] <= 32


# ---------------------------------------------------------------------------
# coarse_materialize: per-plan coarse shuffles on an isolated sub-session
# ---------------------------------------------------------------------------


def test_coarse_materialize_isolates_caller_conf(spark):
    """The coarse scope must never touch the caller's session conf — the
    r07/r08 design mutated session-global spark.sql.shuffle.partitions
    (with a lock + sequential-execution contract); the r09 design plans the
    subtree on a private newSession() instead."""
    from spj_query_engine_spark.operators.core import coarse_materialize

    before = spark.conf.get("spark.sql.shuffle.partitions")
    tiny = spark.range(0, 1000, 1, 4).withColumn("k", F.col("id") % 7)

    seen = {}

    def build(d):
        seen["conf"] = int(
            d.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        seen["session_is_caller"] = d.sparkSession is spark
        return d.groupBy("k").agg(F.count(F.lit(1)).alias("c"))

    out = coarse_materialize(build, tiny, floor=2)
    assert out.count() == 7
    # result is re-rooted to the caller's session for downstream planning
    assert out.sparkSession is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # a provably-tiny input earns a coarse target on the PRIVATE session
    assert seen["session_is_caller"] is False
    assert seen["conf"] < int(before)
    # values match the same plan built on the caller's session
    expect = dict(
        tiny.groupBy("k").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    assert dict(out.collect()) == expect
    # no re-root views leak (SHOW TABLES IN global_temp also lists the
    # session's LOCAL temp views, which other suite tests legitimately
    # create on the shared session — assert only on the spj_coarse_*
    # names this mechanism owns)
    leaked = [
        r.tableName
        for r in spark.sql("SHOW TABLES IN global_temp").collect()
        if r.tableName.startswith("spj_coarse_")
    ]
    assert leaked == []


def test_coarse_materialize_nested_scopes_noop(spark):
    """Nested scopes (a graph builder coarse-materializing a helper that
    itself coarse-materializes, e.g. dup_clusters -> lsh_pairs_ckpt) must
    no-op into the enclosing scope — the r07 lock-based design could
    self-deadlock on a nested scope with a smaller target."""
    from spj_query_engine_spark.operators.core import coarse_materialize

    tiny = spark.range(0, 2000, 1, 4).withColumn("k", F.col("id") % 5)
    sessions = []

    def inner(d):
        sessions.append(d.sparkSession)
        return d.groupBy("k").agg(F.count(F.lit(1)).alias("c"))

    def outer(d):
        sessions.append(d.sparkSession)
        # nested coarse scope over an even smaller frame (the deadlock
        # shape): must run inline on the enclosing scope's session
        inner_out = coarse_materialize(inner, d.limit(50), floor=1)
        return inner_out

    out = coarse_materialize(outer, tiny, floor=2)
    assert out.count() > 0
    # both levels planned on the SAME private session (inner no-oped)
    assert sessions[0] is sessions[1]
    assert sessions[0] is not spark


def test_coarse_scope_resyncs_spj_conf(spark):
    """Every coarse scope re-reads the caller's spj.* conf: an override set
    on the caller after an earlier scope must reach the next scope's build,
    and one unset on the caller must disappear from it."""
    from spj_query_engine_spark.operators.core import coarse_materialize

    tiny = spark.range(0, 1000, 1, 4).withColumn("k", F.col("id") % 7)
    seen = []

    def build(d):
        assert d.sparkSession is not spark  # the scope is live
        seen.append(d.sparkSession.conf.get("spj.neardup.cells", None))
        return d.groupBy("k").agg(F.count(F.lit(1)).alias("c"))

    coarse_materialize(build, tiny, floor=2).count()
    spark.conf.set("spj.neardup.cells", "3")
    try:
        coarse_materialize(build, tiny, floor=2).count()
    finally:
        spark.conf.unset("spj.neardup.cells")
    coarse_materialize(build, tiny, floor=2).count()
    assert seen == [None, "3", None]


def test_coarse_scopes_concurrent_knobs_isolated(spark):
    """Two coarse scopes running at once with different AQE knobs each plan
    under their own: B's scope starts while A's build is still running, and
    A must still see adaptive execution off."""
    import threading

    from spj_query_engine_spark.operators.core import coarse_materialize

    tiny = spark.range(0, 1000, 1, 4).withColumn("k", F.col("id") % 7)
    a_building, b_building = threading.Event(), threading.Event()
    seen, errors = {}, []

    def build_a(d):
        a_building.set()
        assert b_building.wait(120), "scope B never started"
        seen["a"] = d.sparkSession.conf.get("spark.sql.adaptive.enabled")
        return d.groupBy("k").agg(F.count(F.lit(1)).alias("c"))

    def build_b(d):
        b_building.set()
        seen["b"] = d.sparkSession.conf.get("spark.sql.adaptive.enabled")
        return d.groupBy("k").agg(F.count(F.lit(1)).alias("c"))

    def run(build, aqe):
        try:
            coarse_materialize(build, tiny, floor=2, aqe=aqe).count()
        except Exception as exc:  # surfaced by the assertion below
            errors.append(exc)

    ta = threading.Thread(target=run, args=(build_a, False))
    ta.start()
    assert a_building.wait(120)
    tb = threading.Thread(target=run, args=(build_b, True))
    tb.start()
    tb.join(300)
    ta.join(300)
    assert not ta.is_alive() and not tb.is_alive()
    assert errors == []
    assert seen == {"a": "false", "b": "true"}
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_d06_rows_ignore_embedding_dim_conf(spark):
    """d06 folds the WHOLE vector in every dot product: a session conf
    naming a shorter dimensionality (``spj.embedding.dim`` once selected a
    truncating unrolled kernel) must not change its rows."""
    from spj_query_engine_spark.workload import REGISTRY

    from tests.conftest import SF_DIR_MID

    fn = REGISTRY["d06_embedding_near_dup"].fn
    expect = sorted(map(tuple, fn(spark, SF_DIR_MID).collect()))
    assert expect
    spark.conf.set("spj.embedding.dim", "8")
    try:
        got = sorted(map(tuple, fn(spark, SF_DIR_MID).collect()))
    finally:
        spark.conf.unset("spj.embedding.dim")
    assert got == expect


def test_coarse_materialize_aqe_knobs(spark):
    """r10: the per-operator AQE knobs (aqe=, coalesce=) apply INSIDE the
    coarse sub-session only, are re-set on every scope (no leak between
    entries sharing the sub-session), and are unreachable when the
    estimate clamp declines the scope — production-scale inputs always
    run full AQE."""
    from spj_query_engine_spark.operators import core
    from spj_query_engine_spark.operators.core import coarse_materialize

    tiny = spark.range(0, 1000, 1, 4).withColumn("k", F.col("id") % 7)
    seen = {}

    def build(d):
        s = d.sparkSession
        seen["aqe"] = s.conf.get("spark.sql.adaptive.enabled")
        seen["coal"] = s.conf.get(
            "spark.sql.adaptive.coalescePartitions.enabled"
        )
        return d.groupBy("k").agg(F.count(F.lit(1)).alias("c"))

    # knob off -> sub-session sees it off; caller conf untouched
    coarse_materialize(build, tiny, floor=2, aqe=False).count()
    assert seen == {"aqe": "false", "coal": "true"}
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    coarse_materialize(build, tiny, floor=2, coalesce=False).count()
    assert seen == {"aqe": "true", "coal": "false"}
    # defaults restore full AQE on the SHARED sub-session (no leak from
    # the previous scope's choice)
    coarse_materialize(build, tiny, floor=2).count()
    assert seen == {"aqe": "true", "coal": "true"}

    # clamp declines (production-scale estimate): build runs on the CALLER
    # session and the knobs are never applied anywhere
    orig = core._coarse_target
    core._coarse_target = lambda df, floor, per_partition: None
    try:
        sessions = []

        def build2(d):
            sessions.append(d.sparkSession)
            return d.groupBy("k").agg(F.count(F.lit(1)).alias("c"))

        coarse_materialize(build2, tiny, aqe=False, coalesce=False).count()
        assert sessions[0] is spark
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        assert (
            spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
            == "true"
        )
    finally:
        core._coarse_target = orig
