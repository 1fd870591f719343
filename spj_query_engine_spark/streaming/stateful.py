"""Custom stateful streaming operator: sessionization with
``applyInPandasWithState``.

The batch sessionizer (``operators.temporal.sessionize``) is a lag+cumsum
window pass; on an unbounded stream the same semantics need explicit state —
the open session per user survives across micro-batches.  This is the
surface Structured Streaming reserves for custom state machines, and the one
operator family the DataFrame API alone cannot express on a stream.

Contract (how the driver's oracle verifies a streaming operator at all):
driven over a finite input (``processAllAvailable``) the emitted rows equal
the batch ``sessionize`` exactly — same session numbering, same aggregates —
so the DuckDB twin is the batch ``sessionize_sql``.

One fold serves every sessionizer: state is keyed by a hash bucket of
users (``user_id % buckets``) and holds the bucket's open session tails,
and :func:`_fold_sessions_multi` folds every user of a bucket in one
vectorized pass.  The update-mode sessionizer (e06) emits the closed
sessions plus the open tails of the users present in the batch; the TTL
sessionizer (e50) emits closed sessions and lets a bucket timer emit the
expired tails.  Per-user keys would cost one Python state call per user per
micro-batch, all fixed framework overhead.  Finite replays run on the
stream scope (``ingest.stream_session``), whose checkpoint I/O forks no
``readlink`` processes.

Determinism note: session aggregates accumulate in event-time order inside
each user, and ``value`` sums ride on integer micros (``round(v·10⁶)``)
matching the batch path's ``decimal(18,6)`` arithmetic — float accumulation
order can therefore never flip a hash comparison.

Production shape: the TTL sessionizer (``withWatermark`` +
``GroupStateTimeout.EventTimeTimeout``) closes idle sessions so state stays
bounded, with every emitted row final (exactly-once sinks via
``foreachBatch`` MERGE).  State size = one open session tail per active
user — O(active users), not O(events): the property that makes this run
forever on a 1000-executor cluster.
"""

from __future__ import annotations

import atexit
import math
import os
import uuid
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from spj_query_engine_spark.operators.temporal import SESSION_GAP_MIN
from spj_query_engine_spark.streaming.ingest import (
    fresh_sink_table,
    resolve_stream_partitions,
    stream_events,
    stream_session,
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_no", T.LongType()),
        T.StructField("session_start_ms", T.LongType()),
        T.StructField("session_end_ms", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)

def _session_update_fn(gap_ms: int):
    """Bucket-keyed update-mode sessionize state function: state is the
    bucket's open tails (:data:`BUCKET_STATE`), and one invocation folds
    every user of the bucket in one vectorized pass
    (:func:`_fold_sessions_multi`)."""
    import numpy as np

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        rows = pd.concat(list(pdfs), ignore_index=True)
        tails = _unpack_tails(state.get[0]) if state.exists else ((),) * 6
        closed, new_tails = _fold_sessions_multi(rows, gap_ms, tails)
        state.update(_pack_tails(new_tails))
        # update semantics: the open tails of this batch's users emit too
        # (a later batch may extend and re-emit them); a carried tail of a
        # user absent from the batch is unchanged, so it is not re-emitted
        present = np.isin(new_tails[0], rows["user_id"].to_numpy())
        yield _ttl_frame(
            tuple(np.concatenate([c, t[present]]) for c, t in zip(closed, new_tails))
        )

    return fn


def stateful_sessionize(
    events: DataFrame, gap_minutes: int = SESSION_GAP_MIN, buckets: int = 256
) -> DataFrame:
    """Streaming sessionize over (user_id, ts, value) — works on a stream
    OR a batch frame (Spark runs the same state function once).  State is
    keyed by a hash bucket of users (``user_id % buckets``), as in
    :func:`stateful_sessionize_ttl`: per-user keys cost one Python state
    call per user per micro-batch, all fixed framework overhead."""
    gap_ms = gap_minutes * 60 * 1000
    base = events.select(
        F.pmod(F.col("user_id"), F.lit(buckets)).alias("bucket"),
        "user_id",
        "ts",
        "value",
    )
    return base.groupBy("bucket").applyInPandasWithState(
        _session_update_fn(gap_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=BUCKET_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stateful_sessionize(
    spark: SparkSession, sf_dir: str, gap_minutes: int = SESSION_GAP_MIN
) -> DataFrame:
    """Drive the stateful sessionizer over the finite events directory to
    completion and return the final per-session rows (update mode; the
    finite input arrives as one micro-batch, so each session is emitted
    exactly once and the result equals batch ``sessionize``).  Runs on the
    stream scope (:func:`…ingest.stream_session`) with the TTL
    sessionizer's bucket count (:func:`_session_buckets`).  The sink is
    scale-adaptive (:func:`resolve_stream_sink`): the session output is
    event-sized, so past the source-byte threshold it goes through the
    parquet ``foreachBatch`` sink instead of materializing on the driver."""
    spark = stream_session(spark, sf_dir)
    sdf = stateful_sessionize(
        stream_events(spark, sf_dir), gap_minutes, _session_buckets(spark, sf_dir)
    )
    if resolve_stream_sink(spark, sf_dir) == "parquet":
        return run_stream_to_parquet(
            spark,
            sdf,
            "sessionize",
            spark.createDataFrame([], sdf.schema),
            output_mode="update",
        )
    name = fresh_sink_table(spark, "stream_sessionize")
    q = (
        sdf.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


# ---------------------------------------------------------------------------
# Streaming AS-OF join: events enriched with the latest order per user
# ---------------------------------------------------------------------------

ASOF_OUTPUT = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("odate_ms", T.LongType()),
        T.StructField("o_totalprice", T.DoubleType()),
    ]
)

#: last observed order per user (the LOCF carry)
ASOF_STATE = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("odate_ms", T.LongType()),
        T.StructField("o_totalprice", T.DoubleType()),
    ]
)

#: LOCF carries for every user of one BUCKET, as parallel arrays — the
#: same key-coarsening as the TTL sessionizer's BUCKET_STATE: per-user keys
#: cost one Python round trip per user per micro-batch (O(users) fixed
#: overhead that dwarfed the actual fold at 100x — 300k tiny groups), while
#: per-bucket keys fold every user of the bucket in one vectorized pass.
ASOF_BUCKET_STATE = T.StructType(
    [
        T.StructField("users", T.ArrayType(T.LongType())),
        T.StructField("okeys", T.ArrayType(T.LongType())),
        T.StructField("odates", T.ArrayType(T.LongType())),
        T.StructField("oprices", T.ArrayType(T.DoubleType())),
    ]
)


def _asof_fold(
    rows: pd.DataFrame, user_id: int, carry: tuple
) -> tuple[pd.DataFrame, tuple]:
    """Vectorized LOCF carry over one (ts, is_event, o_orderkey)-sorted
    tagged batch.  ``carry`` is the latest-order state ``(okey, odate,
    oprice)`` (``okey is None`` when no state exists).  Returns ``(out,
    new_carry)``: one enriched row per event that has a carried order, and
    the latest order after the batch.

    Replaces a per-row ``itertuples`` Python loop (the engine's one
    remaining row-at-a-time state fold after e50's fix, and its worst
    absolute 100x tail at 261 s) with a numpy ``maximum.accumulate`` over
    order positions — each event indexes the last order row at-or-before
    it, so the fold is O(batch) C-side regardless of event count.  The
    tie-break is inherited from the sort, identically to the loop: orders
    sort before events at equal ts, and the max-accumulate picks the LAST
    (highest o_orderkey) order at-or-before each event, exactly what
    last-write-wins iteration produced.

    Price rounding is ``floor(x*100+0.5)/100`` — the engine-wide portable
    rounding; ``np.floor`` on the same double product yields the same
    integer-valued double ``math.floor`` did, so output bits are unchanged
    from the loop it replaces."""
    import numpy as np

    m = len(rows)
    okey0, odate0, oprice0 = carry
    if m == 0:
        return pd.DataFrame(columns=[f.name for f in ASOF_OUTPUT.fields]), carry
    ts = rows["ts_ms"].to_numpy(dtype=np.int64)
    is_ev = rows["is_event"].to_numpy(dtype=np.int64)
    # nullable longs arrive as float64-with-NaN; only order rows' okeys and
    # event rows' event_ids are ever read, where they are exact integers
    okeys = rows["o_orderkey"].to_numpy(dtype=np.float64)
    oprices = rows["o_totalprice"].to_numpy(dtype=np.float64)
    ev_ids = rows["event_id"].to_numpy(dtype=np.float64)
    order_mask = is_ev == 0
    # index of the last order row at-or-before each position (-1 = none yet)
    carry_idx = np.maximum.accumulate(
        np.where(order_mask, np.arange(m), -1)
    )
    ev_mask = ~order_mask
    ci = carry_idx[ev_mask]
    have_batch = ci >= 0
    have_state = okey0 is not None
    keep = have_batch | have_state
    ci_safe = np.maximum(ci, 0)
    o_key = np.where(have_batch, okeys[ci_safe], float(okey0) if have_state else np.nan)
    o_date = np.where(
        have_batch, ts[ci_safe], np.int64(odate0) if have_state else np.int64(0)
    )
    o_price = np.where(
        have_batch, oprices[ci_safe], float(oprice0) if have_state else np.nan
    )
    out = pd.DataFrame(
        {
            "event_id": ev_ids[ev_mask][keep].astype(np.int64),
            "user_id": np.full(int(keep.sum()), user_id, dtype=np.int64),
            "ts_ms": ts[ev_mask][keep],
            "o_orderkey": o_key[keep].astype(np.int64),
            "odate_ms": o_date[keep].astype(np.int64),
            "o_totalprice": np.floor(o_price[keep] * 100 + 0.5) / 100,
        }
    )
    opos = np.flatnonzero(order_mask)
    if len(opos):
        last = opos[-1]
        carry = (int(okeys[last]), int(ts[last]), float(oprices[last]))
    return out, carry


def _asof_fold_multi(rows: pd.DataFrame, tails: tuple):
    """Vectorized LOCF carry over one multi-user tagged batch — the bucket
    generalization of :func:`_asof_fold`, per-user semantics identical.

    ``rows`` is sorted (user_id, ts_ms, is_event, o_orderkey) NaN-first;
    ``tails`` is a 4-tuple of equal-length sequences (users, okeys, odates,
    oprices), users sorted ascending and unique.  Returns ``(out,
    new_tails)``: one enriched frame row per event that has a carry
    (in-batch or from state), and the post-batch carry per user — each
    user's last batch order, else their untouched state carry.  The
    in-batch carry index is a SEGMENTED cummax (global ``maximum.
    accumulate`` of order positions, invalidated where it predates the
    user's first row), so the fold is O(batch) C-side for the whole
    bucket."""
    import numpy as np

    tu = np.asarray(tails[0], dtype=np.int64)
    tok = np.asarray(tails[1], dtype=np.int64)
    tod = np.asarray(tails[2], dtype=np.int64)
    tpr = np.asarray(tails[3], dtype=np.float64)
    m = len(rows)
    cols = [f.name for f in ASOF_OUTPUT.fields]
    if m == 0:
        return pd.DataFrame(columns=cols), (tu, tok, tod, tpr)
    u = rows["user_id"].to_numpy(dtype=np.int64)
    ts = rows["ts_ms"].to_numpy(dtype=np.int64)
    is_ev = rows["is_event"].to_numpy(dtype=np.int64)
    okeys = rows["o_orderkey"].to_numpy(dtype=np.float64)
    oprices = rows["o_totalprice"].to_numpy(dtype=np.float64)
    ev_ids = rows["event_id"].to_numpy(dtype=np.float64)
    order_mask = is_ev == 0
    idx = np.arange(m)
    new_user = np.empty(m, dtype=bool)
    new_user[0] = True
    new_user[1:] = u[1:] != u[:-1]
    first_idx = np.flatnonzero(new_user)
    fu = u[first_idx]
    seg_counts = np.diff(np.append(first_idx, m))
    # segmented cummax: global accumulate, then invalidate where the best
    # order position predates this row's own user segment
    carry_raw = np.maximum.accumulate(np.where(order_mask, idx, -1))
    seg_start = np.repeat(first_idx, seg_counts)
    carry_idx = np.where(carry_raw >= seg_start, carry_raw, -1)
    # per-user state carry, broadcast per row
    if len(tu):
        pos = np.searchsorted(tu, fu)
        pos_c = np.minimum(pos, len(tu) - 1)
        has_tail_u = (pos < len(tu)) & (tu[pos_c] == fu)
        st_ok = np.where(has_tail_u, tok[pos_c], 0)
        st_od = np.where(has_tail_u, tod[pos_c], 0)
        st_pr = np.where(has_tail_u, tpr[pos_c], np.nan)
    else:
        pos_c = np.zeros(len(fu), dtype=np.intp)
        has_tail_u = np.zeros(len(fu), dtype=bool)
        st_ok = np.zeros(len(fu), dtype=np.int64)
        st_od = np.zeros(len(fu), dtype=np.int64)
        st_pr = np.full(len(fu), np.nan)
    has_tail_r = np.repeat(has_tail_u, seg_counts)
    st_ok_r = np.repeat(st_ok, seg_counts)
    st_od_r = np.repeat(st_od, seg_counts)
    st_pr_r = np.repeat(st_pr, seg_counts)
    ev_mask = ~order_mask
    ci = carry_idx[ev_mask]
    have_batch = ci >= 0
    ci_safe = np.maximum(ci, 0)
    keep = have_batch | has_tail_r[ev_mask]
    o_key = np.where(have_batch, okeys[ci_safe], st_ok_r[ev_mask].astype(np.float64))
    o_date = np.where(have_batch, ts[ci_safe], st_od_r[ev_mask])
    o_price = np.where(have_batch, oprices[ci_safe], st_pr_r[ev_mask])
    out = pd.DataFrame(
        {
            "event_id": ev_ids[ev_mask][keep].astype(np.int64),
            "user_id": u[ev_mask][keep],
            "ts_ms": ts[ev_mask][keep],
            "o_orderkey": o_key[keep].astype(np.int64),
            "odate_ms": o_date[keep].astype(np.int64),
            "o_totalprice": np.floor(o_price[keep] * 100 + 0.5) / 100,
        }
    )
    # post-batch carry per user: last batch order, else the state carry
    last_idx = np.append(first_idx[1:], m) - 1
    lo = carry_idx[last_idx]  # last order row of each batch user (-1: none)
    has_lo = lo >= 0
    lo_safe = np.maximum(lo, 0)
    # where() evaluates both branches — cast to int64 only after the NaNs
    # (order rows absent) have been masked out by the where itself
    nu_ok = np.where(has_lo, np.nan_to_num(okeys[lo_safe]), st_ok).astype(
        np.int64
    )
    nu_od = np.where(has_lo, ts[lo_safe], st_od)
    nu_pr = np.where(has_lo, oprices[lo_safe], st_pr)
    nu_keep = has_lo | has_tail_u
    touched = np.zeros(len(tu), dtype=bool)
    if len(tu):
        touched[pos_c[has_tail_u]] = True
    ab = ~touched  # absent users' carries pass through
    nt_u = np.concatenate([tu[ab], fu[nu_keep]])
    nt_ok = np.concatenate([tok[ab], nu_ok[nu_keep]])
    nt_od = np.concatenate([tod[ab], nu_od[nu_keep]])
    nt_pr = np.concatenate([tpr[ab], nu_pr[nu_keep]])
    order = np.argsort(nt_u, kind="stable")
    return out, (nt_u[order], nt_ok[order], nt_od[order], nt_pr[order])


def _asof_fn(key: tuple, pdfs: "Iterator[pd.DataFrame]", state: GroupState):
    """Merge the tagged (order|event) stream per BUCKET of users in time
    order, carrying each user's latest order; emit one enriched row per
    event.  Within a batch rows sort (user, ts, is_event, o_orderkey) —
    identical per-user tie-break to the batch LOCF formulation, so finite
    replay equals `asof_join`.  The fold is the vectorized bucket-wide
    :func:`_asof_fold_multi`; state holds the bucket's carries as parallel
    arrays, so the per-micro-batch Python overhead is O(buckets), not
    O(users)."""
    rows = pd.concat(list(pdfs), ignore_index=True).sort_values(
        ["user_id", "ts_ms", "is_event", "o_orderkey"],
        kind="mergesort",
        na_position="first",
    )
    tails = state.get if state.exists else ((), (), (), ())
    out, new_tails = _asof_fold_multi(rows, tails)
    if len(new_tails[0]):
        state.update(tuple(a.tolist() for a in new_tails))
    yield out


def stateful_asof_join(
    events: DataFrame, orders: DataFrame, buckets: int = 256
) -> DataFrame:
    """Streaming AS-OF: the union-LOCF formulation
    (:func:`operators.temporal.asof_join_locf`) with the carries held in
    explicit per-BUCKET state so they survive across micro-batches.
    `events` may be a stream; `orders` a static frame (the common
    enrich-stream-with-dimension-history case) or a second stream unioned
    in upstream.  Bucket keying (``user_id % buckets``) folds every user of
    a bucket in one vectorized pass — per-user keys measured 300k tiny
    group invocations per batch at 100x, all fixed Python overhead."""
    e = events.select(
        "user_id",
        F.unix_millis(F.col("ts").cast(T.TimestampType())).alias("ts_ms"),
        F.lit(1).alias("is_event"),
        "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    o = orders.select(
        F.col("o_custkey").alias("user_id"),
        F.unix_millis(F.col("o_orderdate").cast(T.TimestampType())).alias("ts_ms"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    tagged = e.unionByName(o).withColumn(
        "bucket", F.pmod(F.col("user_id"), F.lit(buckets))
    )
    return tagged.groupBy("bucket").applyInPandasWithState(
        _asof_fn,
        outputStructType=ASOF_OUTPUT,
        stateStructType=ASOF_BUCKET_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: output dirs created by parquet-backed stream runners, keyed by runner
#: prefix; each is reclaimed on that runner's NEXT call (the returned
#: DataFrame reads lazily, so deletion must wait until the previous result
#: has been consumed) and at interpreter exit
_STREAM_OUT_DIRS: dict[str, list[str]] = {}


def _fresh_stream_out_dir(prefix: str) -> str:
    import shutil

    dirs = _STREAM_OUT_DIRS.setdefault(prefix, [])
    while dirs:
        shutil.rmtree(dirs.pop(), ignore_errors=True)
    tgt = f"/tmp/spj_{prefix}_{uuid.uuid4().hex[:8]}"
    dirs.append(tgt)
    return tgt


def _cleanup_stream_out_dirs() -> None:
    import shutil

    for dirs in _STREAM_OUT_DIRS.values():
        while dirs:
            shutil.rmtree(dirs.pop(), ignore_errors=True)


atexit.register(_cleanup_stream_out_dirs)


def resolve_stream_sink(spark: SparkSession, sf_dir: str, table: str = "events") -> str:
    """Scale-adaptive sink selection for finite streaming replays whose
    output is EVENT-SIZED (sessionize, as-of — ~1 output row per input row
    on sparse-user corpora): past ``STREAM_PARQUET_SINK_BYTES`` of source
    the memory sink's driver materialization is the wall (e50 at 100x:
    27.6 s total vs the 2.7 s apws machinery floor), below it the parquet
    sink's fixed jobs (seed write, per-batch commit, read-back) cost more
    than the rows.  Conf ``spj.stream.sink`` pins it in deployment —
    rollup-sized outputs should stay on the memory sink regardless."""
    sink = spark.conf.get("spj.stream.sink", None)
    if sink is not None:
        return sink
    from spj_query_engine_spark.catalog import table_path
    from spj_query_engine_spark.streaming.ingest import _source_bytes

    try:
        big = _source_bytes(table_path(sf_dir, table)) > STREAM_PARQUET_SINK_BYTES
    except OSError:
        big = True
    return "parquet" if big else "memory"


def run_stream_to_parquet(
    spark: SparkSession,
    sdf: DataFrame,
    prefix: str,
    seed: DataFrame,
    output_mode: str = "append",
) -> DataFrame:
    """Drive a finite streaming query to completion through a PARQUET
    ``foreachBatch`` sink and return the batch frame over the result.

    Why not the memory sink: it materializes every output row ON THE
    DRIVER.  Fine for rollup-sized results; fatal for event-sized ones —
    e50's 100x profile measured the apws machinery floor at 2.7 s (4-col
    data batch, do-nothing fold) while the full query took 27.6 s, almost
    all of it the ~9.5M-row session output crossing into driver memory.
    ``foreachBatch`` + parquet keeps the output executor-side end to end
    (the e10 pattern — 100x ratio 3.2 with a 10M-row result).

    ``seed`` provides the output schema: a zero-row parquet is written
    first so the read-back succeeds even when the stream yields no batches,
    and because ``foreachBatch`` writes BATCH parquet there is no
    ``_spark_metadata`` log to hide the seed file."""
    tgt = _fresh_stream_out_dir(prefix)
    seed.limit(0).write.mode("overwrite").parquet(tgt)

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode("append").parquet(tgt)

    import shutil

    q = (
        sdf.writeStream.foreachBatch(handle)
        .option("checkpointLocation", f"{tgt}_ckpt")
        .outputMode(output_mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.read.parquet(tgt)
    shutil.rmtree(f"{tgt}_ckpt", ignore_errors=True)
    return out


def run_stateful_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the streaming as-of over the finite events directory (orders
    static) to completion; equals batch ``asof_join`` on the same input.

    Two execution paths, selected by ``spj.stream.asof.api``:

    * ``fb`` (default) — ``foreachBatch`` + the JVM batch LOCF as-of
      (:func:`operators.temporal.asof_join_locf`) against the static
      dimension.  With a STATIC order side each event's enrichment is a
      pure per-event function of the dimension table, so no custom state
      is needed and micro-batch boundaries cannot change any row — the
      standard stream-static pattern, whole-stage codegen end to end.
      The 100x profile showed the stateful union fold moving 25M rows
      (10M events + the ENTIRE 15M-row static order history, re-unioned
      into the state op) through Arrow/pandas at the apws machinery
      floor; this path keeps all of it JVM-side.
    * ``apws`` — the per-bucket stateful union fold
      (:func:`stateful_asof_join`): the TWO-STREAM design, for when the
      order side also arrives incrementally and the latest-order carry
      must genuinely live in state.  Output bit-identical (pinned by
      tests); selectable for A/B and for the stream-stream deployment.
    """
    if spark.conf.get("spj.stream.asof.api", "fb") != "apws":
        # isolated stream clone for the fb replay only: the apws branch
        # below deliberately keeps the CALLER's shuffle partitions (its
        # merge fold is heavy — downsizing measured 4x slower) and mutates
        # no conf, so it stays on the caller's session
        spark = stream_session(spark, sf_dir)
        import shutil

        from spj_query_engine_spark.catalog import load_table
        from spj_query_engine_spark.operators.temporal import asof_join_locf

        static_orders = load_table(spark, sf_dir, "orders")
        # dir lifecycle (reclaim-previous + atexit) and the zero-batch seed
        # are owned by run_stream_to_parquet; the per-batch transform rides
        # inside its foreachBatch via a wrapper sink
        tgt = _fresh_stream_out_dir("asof_fb")
        events_batch = load_table(spark, sf_dir, "events")
        asof_join_locf(events_batch.limit(0), static_orders).write.mode(
            "overwrite"
        ).parquet(tgt)

        def handle(batch_df: DataFrame, _batch_id: int) -> None:
            asof_join_locf(batch_df, static_orders).write.mode(
                "append"
            ).parquet(tgt)

        q = (
            stream_events(spark, sf_dir)
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", f"{tgt}_ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        out = spark.read.parquet(tgt)
        shutil.rmtree(f"{tgt}_ckpt", ignore_errors=True)
        return out

    from spj_query_engine_spark.streaming.ingest import (
        resolve_stream_partitions,
        stream_table,
    )

    name = fresh_sink_table(spark, "stream_asof")
    orders = stream_table(spark, sf_dir, "orders")
    override = spark.conf.get("spj.stream.session.buckets", None)
    # the as-of runner keeps SESSION shuffle partitions (its merge fold is
    # heavy, unlike the TTL sessionizer's — downsizing measured 4x slower),
    # so bucket count keys off the larger of the byte-derived count and the
    # session parallelism to keep every state partition loaded
    cur = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    buckets = (
        int(override)
        if override
        else USERS_PER_PARTITION_BUCKETS
        * max(resolve_stream_partitions(spark, sf_dir), cur)
    )
    q = (
        stateful_asof_join(
            stream_events(spark, sf_dir), orders, buckets=buckets
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


# ---------------------------------------------------------------------------
# e32 — Spark 4 transformWithStateInPandas: per-user running totals
# ---------------------------------------------------------------------------


def run_tws_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user RUNNING TOTALS via Spark 4's ``transformWithStateInPandas``
    — the new arbitrary-stateful API (typed ValueState/ListState/MapState
    handles, timers, TTL) superseding ``applyInPandasWithState``'s single
    opaque tuple.  A ``StatefulProcessor`` keeps one ValueState
    (n_events, sum_cents) per user, folds each micro-batch into it in
    event-time order, and emits the post-batch snapshot; because the
    count is MONOTONE, the max-count row per user after finite replay IS
    the final state, which equals the batch per-user rollup — the DuckDB
    oracle.  Values accumulate in integer cents (the portable floor
    rounding used engine-wide), so no float order can flip the hash.

    Production shape: RocksDB state store provider, ``withWatermark`` +
    state TTL so departed users age out — state is O(active users).

    Environment note: the TWS state-server protocol needs
    ``google.protobuf`` in the Python runtime; this sandbox lacks it, so
    the operator is exercised by a protobuf-gated test
    (tests/test_streaming_multimodal.py::test_tws_running_totals) rather
    than a driver-gate registry entry — the applyInPandasWithState
    operators (e06/e07/e10/e13) carry the gated stateful surface.
    """
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from spj_query_engine_spark.streaming.ingest import stream_events

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_cents", T.LongType()),
        ]
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n_events BIGINT, sum_cents BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, cents = (
                self._state.get() if self._state.exists() else (0, 0)
            )
            for pdf in rows:
                n += len(pdf)
                # floor(v*100 + 0.5) — the engine-wide portable rounding
                cents += int(
                    (pdf["value"] * 100 + 0.5).apply(math.floor).sum()
                )
            self._state.update((n, cents))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_cents": [cents]}
            )

        def close(self) -> None:
            pass

    # isolated clone (r09): the RocksDB provider conf below lands on a
    # session private to this query, so the save/restore can never race a
    # concurrent job on the caller's session
    spark = stream_session(spark, sf_dir)
    name = fresh_sink_table(spark, "tws_totals")
    # TWS state lives in named column families, which only the RocksDB
    # state store provider supports (HDFS-backed throws
    # UNSUPPORTED_FEATURE.STATE_STORE_MULTIPLE_COLUMN_FAMILIES).  The
    # provider is fixed per query at start, so scoping the conf to this
    # query leaves the applyInPandasWithState runners on the default.
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            stream_events(spark, sf_dir)
            .select("user_id", "value")
            .groupBy("user_id")
            .transformWithStateInPandas(
                RunningTotals(),
                outputStructType=out_schema,
                outputMode="append",
                timeMode="none",
            )
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if prev_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev_provider)
    snaps = spark.table(name)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        snaps.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "sum_cents")
    )


def tws_running_totals_sql(table: str = "events") -> str:
    return f"""
    SELECT user_id,
           count(*) AS n_events,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM {table}
    GROUP BY user_id
    """


TOTALS_STATE = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_cents", T.LongType()),
    ]
)

TOTALS_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_cents", T.LongType()),
    ]
)


def _totals_fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
    """``applyInPandasWithState`` twin of the TWS RunningTotals processor:
    identical fold (integer cents, portable floor rounding), identical
    post-batch snapshot emission."""
    (user_id,) = key
    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        cents += int((pdf["value"] * 100 + 0.5).apply(math.floor).sum())
    state.update((n, cents))
    yield pd.DataFrame({"user_id": [user_id], "n_events": [n], "sum_cents": [cents]})


def run_apws_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals via ``applyInPandasWithState`` — the exact
    semantics of :func:`run_tws_running_totals` on the older stateful API
    (single opaque state tuple instead of typed ValueState handles).  Same
    monotone-count argument: the max-count snapshot per user after finite
    replay is the final state = the batch rollup the oracle computes."""
    name = fresh_sink_table(spark, "apws_totals")
    q = (
        stream_events(spark, sf_dir)
        .select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _totals_fn,
            outputStructType=TOTALS_OUTPUT,
            stateStructType=TOTALS_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    snaps = spark.table(name)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        snaps.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "sum_cents")
    )


#: vendored minimal protobuf runtime (wire codec + dynamic messages driven
#: by the generated serialized descriptor) — used ONLY when no real
#: google.protobuf distribution is importable; see _vendor/protoshim
PROTOSHIM_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "_vendor",
    "protoshim",
)


def ensure_protobuf(spark: SparkSession | None = None) -> bool:
    """Make ``google.protobuf`` importable, preferring a real installation
    and falling back to the vendored minimal shim.  With a ``spark`` handle
    the shim is also shipped to the Python WORKERS (``addPyFile`` zip) —
    the TWS state-server client runs worker-side, so driver ``sys.path``
    alone is not enough.  Returns whether the import now succeeds."""
    import sys

    try:
        import google.protobuf  # noqa: F401

        shimmed = PROTOSHIM_DIR in sys.path
    except ImportError:
        if PROTOSHIM_DIR not in sys.path:
            sys.path.insert(0, PROTOSHIM_DIR)
        try:
            import google.protobuf  # noqa: F401

            shimmed = True
        except ImportError:
            return False
    if spark is not None and shimmed:
        try:
            import zipfile

            zip_path = "/tmp/spj_protoshim.zip"
            newest = max(
                os.path.getmtime(os.path.join(root, fn))
                for root, _d, files in os.walk(PROTOSHIM_DIR)
                for fn in files
                if fn.endswith(".py")
            )
            if (
                not os.path.exists(zip_path)
                or os.path.getmtime(zip_path) < newest
            ):
                with zipfile.ZipFile(zip_path, "w") as zf:
                    for root, _d, files in os.walk(PROTOSHIM_DIR):
                        for fn in files:
                            if fn.endswith(".py"):
                                full = os.path.join(root, fn)
                                zf.write(
                                    full, os.path.relpath(full, PROTOSHIM_DIR)
                                )
            spark.sparkContext.addPyFile(zip_path)
        except Exception:
            pass  # re-adding the same file raises on some versions; harmless
    return True


def tws_available() -> bool:
    """Whether ``transformWithStateInPandas`` can run here: its Python
    state server speaks protobuf to the JVM, so ``google.protobuf`` must be
    importable — a real distribution, else the vendored wire-format shim.
    Centralized so tests and the auto selector agree on one probe."""
    return ensure_protobuf(None)


#: cached verdict of :func:`provision_usersite_shim` — the probe spawns a
#: fresh interpreter, so it is worth running at most once per process
_USERSITE_PROVISIONED: bool | None = None

#: name of the path-configuration file the usersite provisioning writes;
#: one line = the shim directory, appended by ``site.addsitedir`` to the
#: END of every fresh interpreter's ``sys.path`` (so a real google.protobuf
#: in system site-packages always shadows it)
USERSITE_PTH_NAME = "spj_protoshim.pth"


def _fresh_interpreter_imports_protobuf(
    python_exec: str | None = None, no_user_site: bool = False
) -> bool:
    """Empirical stand-in for the JVM-spawned worker: can a FRESH
    interpreter — launched WITHOUT the shim on ``PYTHONPATH`` — import
    ``google.protobuf``?  This is exactly the resolution a
    ``PythonWorkerFactory`` simple worker performs at startup (fresh
    process, inherited env, normal ``site`` processing, no ``-s``).

    ``no_user_site=True`` probes with ``-s`` (usersite disabled): success
    there means a REAL distribution resolves from system site-packages —
    the signal that any provisioned usersite ``.pth`` is now pure residue
    and must be retired so it can never mask the real one."""
    import subprocess
    import sys

    env = dict(os.environ)
    shim_abs = os.path.abspath(PROTOSHIM_DIR)
    parts = [
        p
        for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != shim_abs
    ]
    if parts:
        env["PYTHONPATH"] = os.pathsep.join(parts)
    else:
        env.pop("PYTHONPATH", None)
    exe = python_exec or os.environ.get("PYSPARK_PYTHON") or sys.executable
    cmd = [exe] + (["-s"] if no_user_site else []) + ["-c", "import google.protobuf"]
    try:
        r = subprocess.run(cmd, env=env, capture_output=True, timeout=60)
    except Exception:
        return False
    return r.returncode == 0


def _usersite_pth_path() -> str | None:
    """Path of the provisioning ``.pth`` under the ACTIVE usersite (honors
    ``PYTHONUSERBASE``, so tests can point the whole lifecycle at a scratch
    dir), or None when usersite processing is disabled."""
    import site

    if not getattr(site, "ENABLE_USER_SITE", False):
        return None
    return os.path.join(site.getusersitepackages(), USERSITE_PTH_NAME)


def remove_usersite_shim() -> bool:
    """Uninstall the provisioned ``.pth`` — but only when the file is OURS
    (single line naming the vendored shim directory); a foreign path
    configuration file that happens to share the name is left alone.
    Returns whether a file was removed.  Resets the per-process probe
    cache so a later call re-probes reality."""
    global _USERSITE_PROVISIONED
    pth = _usersite_pth_path()
    if not pth or not os.path.exists(pth):
        return False
    try:
        if open(pth).read().strip() != os.path.abspath(PROTOSHIM_DIR):
            return False
        os.remove(pth)
    except OSError:
        return False
    _USERSITE_PROVISIONED = None
    return True


_CLEANUP_REGISTERED = False


def _register_pth_cleanup() -> None:
    """Bound the ``.pth``'s lifetime to THIS process: remove it at exit.
    The JVM-spawned workers that need it only exist while the owning
    SparkSession (and hence this process) is alive, so exit-time removal
    loses nothing — and the host is left exactly as found instead of with
    a machine-global import-behavior change (r08's version never removed
    the file, so every future interpreter of this user silently resolved
    the shim for ``import google.protobuf`` instead of ImportError)."""
    global _CLEANUP_REGISTERED
    if _CLEANUP_REGISTERED:
        return
    import atexit

    atexit.register(remove_usersite_shim)
    _CLEANUP_REGISTERED = True


def provision_usersite_shim() -> bool:
    """Make the vendored protobuf shim resolvable by FRESH interpreters of
    this user — the self-provisioning channel for sessions whose JVM was
    launched WITHOUT the shim on ``PYTHONPATH`` (e.g. the correctness
    driver builds its SparkSession before importing this package, so
    ``get_spark``'s pre-launch export never happened there).

    Mechanism: write a one-line ``.pth`` file naming the shim directory
    into ``site.getusersitepackages()`` — atomically (temp file +
    ``os.replace``), so a concurrently starting interpreter can never read
    a truncated file.  ``site.addpackage`` appends ``.pth``-listed dirs to
    the END of ``sys.path``, so a real ``google.protobuf`` anywhere in
    site-packages always wins; the file is only written at all when a
    fresh interpreter CANNOT already import protobuf.  Returns whether a
    fresh interpreter (shim stripped from the launch env) now imports
    ``google.protobuf`` — verified empirically by subprocess, not
    inferred.

    Lifecycle (r09): the write registers an atexit removal, so the
    mutation is scoped to this process's lifetime rather than machine-
    global; when a REAL distribution resolves (probed with ``-s``) any
    leftover shim ``.pth`` of ours is removed on the spot, so a later
    ``pip install protobuf`` wins immediately and permanently.  Setting
    ``SPJ_NO_USERSITE_SHIM=1`` disables provisioning entirely (the probe
    still answers honestly); the e32f driver entry then reports TWS as not
    runnable instead of self-provisioning."""
    global _USERSITE_PROVISIONED
    if os.environ.get("SPJ_NO_USERSITE_SHIM", "") == "1":
        # opt-out: never write; answer from reality, uncached so the flag
        # can be flipped within a process (tests)
        return _fresh_interpreter_imports_protobuf()
    if _USERSITE_PROVISIONED is not None:
        return _USERSITE_PROVISIONED
    if _fresh_interpreter_imports_protobuf(no_user_site=True):
        # a REAL distribution resolves with usersite disabled — retire any
        # shim .pth of ours (pre-lifecycle residue) so it can never mask
        # a breakage of the real one
        remove_usersite_shim()
        _USERSITE_PROVISIONED = True
        return True
    if _fresh_interpreter_imports_protobuf():
        # resolves only WITH usersite: either our .pth from a previous
        # run or a foreign path configuration.  Adopt ours into this
        # process's cleanup scope; leave foreign files alone.
        pth = _usersite_pth_path()
        try:
            ours = bool(pth) and os.path.exists(pth) and (
                open(pth).read().strip() == os.path.abspath(PROTOSHIM_DIR)
            )
        except OSError:
            ours = False
        if ours:
            _register_pth_cleanup()
        _USERSITE_PROVISIONED = True
        return True
    pth = _usersite_pth_path()
    if pth is None:
        _USERSITE_PROVISIONED = False
        return False
    try:
        usersite = os.path.dirname(pth)
        os.makedirs(usersite, exist_ok=True)
        want = os.path.abspath(PROTOSHIM_DIR) + "\n"
        import tempfile

        fd, tmp = tempfile.mkstemp(dir=usersite, suffix=".pth.tmp")
        try:
            with os.fdopen(fd, "w") as f:
                f.write(want)
            os.replace(tmp, pth)
        except OSError:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise
        _register_pth_cleanup()
    except OSError:
        _USERSITE_PROVISIONED = False
        return False
    _USERSITE_PROVISIONED = _fresh_interpreter_imports_protobuf()
    return _USERSITE_PROVISIONED


def tws_runnable(spark: SparkSession) -> bool:
    """Whether ``transformWithStateInPandas`` can run on THIS session.

    Driver-side importability (:func:`tws_available`) is necessary but NOT
    sufficient: the TWS state-schema pre-init worker is spawned by the JVM
    as a FRESH process with the JVM's inherited environment and does not
    process ``addPyFile`` includes.  When ``google.protobuf`` resolves only
    via the vendored shim, that worker reaches it through either of two
    channels — (a) the PYTHONPATH the JVM was LAUNCHED with (``get_spark``
    exports it pre-launch), or (b) the self-provisioned usersite ``.pth``
    (:func:`provision_usersite_shim`), which fresh interpreters pick up via
    normal ``site`` processing regardless of launch env.  Channel (b) is
    what makes TWS runnable on a FOREIGN session (e.g. the correctness
    driver's, which builds its own SparkSession before importing this
    package).  A real protobuf distribution needs no plumbing at all: the
    worker resolves it from site-packages."""
    if not ensure_protobuf(None):
        return False
    import google.protobuf as _gp

    f = os.path.abspath(getattr(_gp, "__file__", None) or "")
    if not f.startswith(os.path.abspath(PROTOSHIM_DIR) + os.sep):
        # a REAL distribution resolves driver-side: if a shim .pth of ours
        # is still installed (pre-lifecycle residue or an earlier run),
        # re-probe the WORKER python with usersite disabled and retire the
        # shim the moment the real one covers the worker too — a later
        # `pip install protobuf` wins immediately instead of being masked
        # for a probe cycle
        pth = _usersite_pth_path()
        try:
            ours = bool(pth) and os.path.exists(pth) and (
                open(pth).read().strip() == os.path.abspath(PROTOSHIM_DIR)
            )
        except OSError:
            ours = False
        if ours and _fresh_interpreter_imports_protobuf(no_user_site=True):
            remove_usersite_shim()
        return True
    try:
        jget = spark.sparkContext._jvm.java.lang.System.getenv
        if PROTOSHIM_DIR in (jget("PYTHONPATH") or "").split(os.pathsep):
            return True
        if jget("PYTHONNOUSERSITE"):
            # the worker inherits the JVM's env; usersite is disabled
            # there, so the .pth channel cannot reach it
            return False
    except Exception:
        # no py4j gateway to inspect (e.g. Spark Connect) — fall through
        # to the empirically-verified usersite channel
        pass
    return provision_usersite_shim()


#: which stateful API the last ``run_running_totals_auto`` call actually
#: used — "tws" or "apws".  Tests assert this against :func:`tws_runnable`
#: so a silent fallback (the TWS branch rotting as dead code, or protobuf
#: appearing without the TWS path being exercised) is VISIBLE, not quiet.
SELECTED_API: str | None = None


def run_running_totals_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry e32: run the running-totals state machine on the BEST
    stateful API the runtime supports — ``transformWithStateInPandas``
    (typed state handles, timers, TTL; Spark 4's successor API) where its
    ``google.protobuf`` state-server dependency is importable, else the
    ``applyInPandasWithState`` twin with bit-identical output.  Both paths
    fold integer cents in event order and reduce finite replay to the same
    batch rollup, so one DuckDB oracle verifies whichever ran."""
    global SELECTED_API
    if tws_runnable(spark):
        ensure_protobuf(spark)  # ship the shim zip to the data workers
        SELECTED_API = "tws"
        return run_tws_running_totals(spark, sf_dir)
    SELECTED_API = "apws"
    return run_apws_running_totals(spark, sf_dir)


# ---------------------------------------------------------------------------
# Watermark-TTL sessionize (e50): EventTimeTimeout + append semantics
# ---------------------------------------------------------------------------

#: watermark delay for the TTL sessionize — how long a session may stay open
#: past its last event before the timer finalizes it and its state expires
TTL_WATERMARK_MIN = 60

#: open-session tails for every user of one BUCKET, as parallel arrays.
#: Keying the state op by a hash bucket instead of the raw user coarsens the
#: TIMER granularity: ``applyInPandasWithState`` re-invokes the function once
#: per timed-out KEY with an empty frame, so per-user keys pay O(users)
#: Python round trips in every timer micro-batch regardless of event volume
#: (the e50 cost floor the r05 verdict flagged: 139 s at 100x, almost all of
#: it the final timer batch).  Per-bucket keys pay O(buckets); the bucket's
#: timer is armed at the MIN over its open tails of ``end + gap``, and each
#: firing emits exactly the expired tails and re-arms for the rest.
#: The 6 tail arrays travel as ONE little-endian int64 BINARY blob
#: (row-major 6×n), not six ARRAY<BIGINT> columns: apws round-trips the
#: whole state value through Arrow on EVERY bucket invocation, and the
#: array encoding pays per-element Python boxing both ways
#: (``.tolist()`` on update, list-of-int on get).  ``tobytes``/
#: ``frombuffer`` moves the same bytes with zero boxing — the same
#: column-volume economics that took e10's do-nothing fold 17.2 s -> 3.7 s
#: (BENCH_VARIANCE.md, r07) applied to the TTL session state.
BUCKET_STATE = T.StructType([T.StructField("tails", T.BinaryType())])


def _pack_tails(tails: tuple) -> tuple:
    """k equal-length int64 arrays -> one-element state tuple (blob)."""
    import numpy as np

    return (np.concatenate([np.asarray(a, dtype=np.int64) for a in tails]).tobytes(),)


def _unpack_tails(blob: bytes, k: int = 6) -> tuple:
    """Inverse of :func:`_pack_tails` (arrays are read-only views)."""
    import numpy as np

    a = np.frombuffer(blob, dtype=np.int64)
    n = len(a) // k
    return tuple(a[i * n : (i + 1) * n] for i in range(k))

#: open-session tails per bucket; one state-function invocation folds every
#: user of the bucket in one vectorized pass
USERS_PER_PARTITION_BUCKETS = 8


def _session_buckets(spark: SparkSession, sf_dir: str) -> int:
    """User-bucket count of the sessionizers: conf
    ``spj.stream.session.buckets`` if set (deployment), else
    ``USERS_PER_PARTITION_BUCKETS`` per input-sized state partition
    (see ingest.stream_session: the per-partition state-store +
    Python-worker fixed cost dominates small replays).  A handful of
    buckets per state partition keeps every partition busy in both the
    data fold and the timer batch while capping state-function calls."""
    override = spark.conf.get("spj.stream.session.buckets", None)
    if override:
        return int(override)
    return USERS_PER_PARTITION_BUCKETS * resolve_stream_partitions(spark, sf_dir)


#: source-size threshold above which event-sized streaming outputs go to
#: the parquet foreachBatch sink instead of the driver-materializing
#: memory sink (see run_stateful_sessionize_ttl's sink selection)
STREAM_PARQUET_SINK_BYTES = 64 << 20


def _fold_sessions_multi(rows: pd.DataFrame, gap_ms: int, tails: tuple):
    """Vectorized gap-split of one multi-user batch against the bucket's
    carried tails — the one sessionizer fold, with the per-event semantics
    of a scalar gap loop per user (a gap of more than ``gap_ms`` starts the
    next session number; a carried tail merges with or is closed by its
    user's first event; ``value`` sums ride on integer micros, ``np.rint``
    of ``value * 1e6``, round-half-even like the scalar ``round()``).

    ``rows`` has columns user_id, ts (timestamp) and value, in any order:
    (user, ts) order fully determines the output, since session boundaries
    come from sorted timestamps and every aggregate (count, min/max,
    integer-micros sum) is insensitive to tie order.  ``tails`` is a
    6-tuple of equal-length sequences (users, snos, starts, ends, ns,
    micros), users SORTED ascending and unique.  Returns ``(closed,
    new_tails)`` as 6-tuples of numpy int64 arrays: ``closed`` are the
    sessions finalized inside this batch (carried tails closed by their
    user's first event included) and ``new_tails`` the open tail per user
    — batch users' trailing sessions plus untouched carried tails — again
    user-sorted.  Everything is numpy boundary arithmetic (lexsort /
    flatnonzero / reduceat / searchsorted), so one bucket invocation costs
    O(batch) C-side no matter how many users it covers."""
    import numpy as np

    tu, tsno, tstart, tend, tn, tmic = (
        np.asarray(a, dtype=np.int64) for a in tails
    )
    m = len(rows)
    if m == 0:
        empty = np.empty(0, dtype=np.int64)
        return (empty,) * 6, (tu, tsno, tstart, tend, tn, tmic)
    # sort the raw numpy columns (lexsort + 3 takes), not the whole frame
    u = rows["user_id"].to_numpy(dtype=np.int64)
    ts = rows["ts"].to_numpy().astype("datetime64[ms]").astype(np.int64)
    ev_mic = np.rint(rows["value"].to_numpy(dtype=np.float64) * 1e6).astype(
        np.int64
    )
    order = np.lexsort((ts, u))
    u, ts, ev_mic = u[order], ts[order], ev_mic[order]
    new_user = np.empty(m, dtype=bool)
    new_user[0] = True
    new_user[1:] = u[1:] != u[:-1]
    brk = np.empty(m, dtype=bool)
    brk[0] = True
    brk[1:] = (ts[1:] - ts[:-1] > gap_ms) | new_user[1:]

    first_idx = np.flatnonzero(new_user)  # first batch row of each user
    fu = u[first_idx]
    if len(tu):
        pos = np.searchsorted(tu, fu)
        pos_c = np.minimum(pos, len(tu) - 1)
        has_tail = (pos < len(tu)) & (tu[pos_c] == fu)
        tail_end = np.where(has_tail, tend[pos_c], np.int64(-(1 << 62)))
    else:
        pos_c = np.zeros(len(fu), dtype=np.intp)
        has_tail = np.zeros(len(fu), dtype=bool)
        tail_end = np.full(len(fu), -(1 << 62), dtype=np.int64)
    merge = has_tail & (ts[first_idx] - tail_end <= gap_ms)

    bounds = np.flatnonzero(brk)
    gends = np.append(bounds[1:], m)
    g_user = u[bounds]
    g_start = ts[bounds].copy()
    g_end = ts[gends - 1]
    g_n = (gends - bounds).astype(np.int64)
    g_mic = np.add.reduceat(ev_mic, bounds)
    k = len(bounds)
    g_new_user = np.empty(k, dtype=bool)
    g_new_user[0] = True
    g_new_user[1:] = g_user[1:] != g_user[:-1]
    fg = np.flatnonzero(g_new_user)  # first group per user, fu-aligned
    counts = np.diff(np.append(fg, k))  # groups per user
    if len(tu):
        # merged first-groups continue the carried session
        g_start[fg[merge]] = tstart[pos_c[merge]]
        g_n[fg[merge]] += tn[pos_c[merge]]
        g_mic[fg[merge]] += tmic[pos_c[merge]]
        base = np.where(
            merge, tsno[pos_c], np.where(has_tail, tsno[pos_c] + 1, 1)
        )
    else:
        base = np.ones(len(fu), dtype=np.int64)
    g_sno = np.repeat(base, counts) + (np.arange(k) - np.repeat(fg, counts))
    is_last = np.append(g_new_user[1:], True)

    # carried tails closed by their user's first batch event — final now
    cf = pos_c[has_tail & ~merge]
    nl = ~is_last
    closed = (
        np.concatenate([tu[cf], g_user[nl]]),
        np.concatenate([tsno[cf], g_sno[nl]]),
        np.concatenate([tstart[cf], g_start[nl]]),
        np.concatenate([tend[cf], g_end[nl]]),
        np.concatenate([tn[cf], g_n[nl]]),
        np.concatenate([tmic[cf], g_mic[nl]]),
    )
    touched = np.zeros(len(tu), dtype=bool)
    if len(tu):
        touched[pos_c[has_tail]] = True
    keep = ~touched
    nt = (
        np.concatenate([tu[keep], g_user[is_last]]),
        np.concatenate([tsno[keep], g_sno[is_last]]),
        np.concatenate([tstart[keep], g_start[is_last]]),
        np.concatenate([tend[keep], g_end[is_last]]),
        np.concatenate([tn[keep], g_n[is_last]]),
        np.concatenate([tmic[keep], g_mic[is_last]]),
    )
    order = np.argsort(nt[0], kind="stable")
    return closed, tuple(a[order] for a in nt)


def _ttl_frame(arrs) -> pd.DataFrame:  # noqa: ANN001
    """Output frame from 6 parallel tail arrays (users, snos, starts, ends,
    ns, micros) — shared by the apws and TWS TTL sessionizers."""
    import numpy as np

    users, snos, starts, ends, ns, mics = arrs
    return pd.DataFrame(
        {
            "user_id": users,
            "session_no": snos,
            "session_start_ms": starts,
            "session_end_ms": ends,
            "n_events": ns,
            "sum_value": np.asarray(mics, dtype=np.float64) / 1e6,
        }
    )


def _session_ttl_fn(gap_ms: int):
    """Bucket-keyed TTL sessionize state function.  Each key is a hash
    bucket of users; state is the bucket's open tails as parallel arrays
    (:data:`BUCKET_STATE`); the timer is armed at the bucket's MIN
    ``end + gap`` and each firing emits exactly the expired tails.  The
    per-user emission semantics are identical to the former per-user-keyed
    function (same rows, same session numbering); what changes is the
    timer granularity: O(buckets) empty-frame re-invocations per timer
    micro-batch instead of O(users) — the cost floor of the finite replay."""
    _frame = _ttl_frame

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # the watermark passed min(end)+gap for this bucket: emit the
            # tails that can never be extended again as FINAL, expire them
            # from state, and re-arm the timer for whatever remains
            tails = _unpack_tails(state.get[0])
            wm = state.getCurrentWatermarkMs()
            expired = tails[3] + gap_ms < wm
            out = _frame(tuple(a[expired] for a in tails))
            if bool(expired.all()):
                state.remove()
            else:
                rest = tuple(a[~expired] for a in tails)
                state.update(_pack_tails(rest))
                state.setTimeoutTimestamp(
                    max(int(rest[3].min()) + gap_ms, wm + 1)
                )
            yield out
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        tails = _unpack_tails(state.get[0]) if state.exists else ((),) * 6
        # sessions closed BY A LATER EVENT are final the moment they close;
        # each user's trailing open session does NOT emit — it waits in
        # state for the bucket timer (or a later batch that extends it)
        closed, new_tails = _fold_sessions_multi(rows, gap_ms, tails)
        state.update(_pack_tails(new_tails))
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(
            max(int(new_tails[3].min()) + gap_ms, wm + 1)
        )
        yield _frame(closed)

    return fn


def stateful_sessionize_ttl(
    events: DataFrame,
    gap_minutes: int = SESSION_GAP_MIN,
    watermark_minutes: int = TTL_WATERMARK_MIN,
    buckets: int = 256,
) -> DataFrame:
    """Bounded-state streaming sessionize — the PRODUCTION shape the
    NoTimeout variant's docstring promises: ``withWatermark`` +
    ``GroupStateTimeout.EventTimeTimeout``.  Sessions closed by a later
    event emit immediately; each user's open tail waits in state with a
    timer at ``end + gap`` and is emitted-and-expired when the watermark
    passes it — so every emitted row is final (append semantics, an
    idempotent-sink contract update mode cannot give) and state size is
    O(users active inside the watermark horizon), not O(all users ever).

    Finite-replay contract (the oracle): the final watermark is
    ``max(ts) − watermark``, so the emitted set is exactly the batch
    sessionization minus each user's LAST session unless its
    ``end + gap < max(ts) − watermark`` (Spark fires an event-time timer
    only when the watermark strictly exceeds it; the engine's no-data
    micro-batch delivers the firing after the last file batch).

    Cost anatomy at scale: ``applyInPandasWithState`` re-invokes the state
    function once per timed-out KEY with an empty frame, so per-user keys
    made the timer micro-batch O(users) Python round trips — the measured
    floor of the finite replay (139 s at 100×, ratio 28, almost all timer
    batch).  The operator therefore keys by a HASH BUCKET of users
    (``user_id % buckets``): data batches fold every user of a bucket in
    one vectorized pass (:func:`_fold_sessions_multi`), the bucket timer
    is armed at its min ``end + gap``, and a firing emits exactly the
    expired tails and re-arms — O(buckets) timer invocations, emitted rows
    identical to per-user keying.  State per key is the bucket's open
    tails (still O(active users) total across keys, bounded by the
    watermark horizon); ``buckets`` scales with the deployment's user
    count the same way shuffle partitions scale with data.  When only the
    session aggregate (not custom per-event state) is needed, the
    JVM-native ``session_window`` + watermark (e13) is the fast path."""
    gap_ms = gap_minutes * 60 * 1000
    # Lean transfer schema: the 100x profile measured the Arrow column
    # volume (not the fold) as the data batch's dominant cost — a
    # do-nothing state fn took 17.2 s with the 6-column projection vs
    # 3.7 s with 2 columns.  The watermarked event-time column must
    # survive the projection (the state op loses its watermark otherwise);
    # millis derive from it worker-side, and no tie-break column is needed
    # (see :func:`_fold_sessions_multi`).
    base = (
        events.withColumn("ts", F.col("ts").cast(T.TimestampType()))
        .withWatermark("ts", f"{watermark_minutes} minutes")
        .select(
            F.pmod(F.col("user_id"), F.lit(buckets)).alias("bucket"),
            "user_id",
            "ts",
            "value",
        )
    )
    return base.groupBy("bucket").applyInPandasWithState(
        _session_ttl_fn(gap_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=BUCKET_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stateful_sessionize_ttl_tws(
    events: DataFrame,
    gap_minutes: int = SESSION_GAP_MIN,
    watermark_minutes: int = TTL_WATERMARK_MIN,
    buckets: int = 256,
) -> DataFrame:
    """TWS twin of :func:`stateful_sessionize_ttl` — same bucket keying,
    same fold (:func:`_fold_sessions_multi`), same emitted rows, but on
    Spark 4's ``transformWithStateInPandas`` with REAL event-time timers:

    * ``applyInPandasWithState`` delivers a timeout as a whole extra
      function invocation with an EMPTY pandas frame per timed-out key and
      re-arms by round-tripping the full state tuple;
    * TWS separates the paths — data batches hit ``handleInputRows``,
      expirations hit ``handleExpiredTimer`` with no frame plumbing, state
      lives server-side in named column families (RocksDB) and only the
      touched value crosses the socket.

    The per-key timer bookkeeping keeps ONE armed timer (the bucket's min
    ``end + gap``), tracked in its own ValueState so re-arming can delete
    the stale registration."""
    import numpy as np
    from pyspark.sql.streaming import StatefulProcessor

    gap_ms = gap_minutes * 60 * 1000
    # same packed-blob state encoding as the apws twin (see BUCKET_STATE):
    # one BINARY value instead of six ARRAY<BIGINT> columns — TWS ships the
    # touched value over the state-server socket per get/update, and the
    # blob avoids per-element boxing on both sides
    state_ddl = "tails BINARY"

    class SessionTTL(StatefulProcessor):
        def init(self, handle) -> None:  # noqa: ANN001
            self._handle = handle
            self._tails = handle.getValueState("tails", state_ddl)
            self._armed = handle.getValueState("armed", "ts BIGINT")

        def _get_tails(self):
            if self._tails.exists():
                return _unpack_tails(self._tails.get()[0])
            return tuple(np.empty(0, dtype=np.int64) for _ in range(6))

        def _rearm(self, expiry_ms: int) -> None:
            if self._armed.exists():
                old = int(self._armed.get()[0])
                if old == expiry_ms:
                    return
                self._handle.deleteTimer(old)
            self._handle.registerTimer(expiry_ms)
            self._armed.update((expiry_ms,))

        def handleInputRows(self, key, rows, timerValues):  # noqa: ANN001
            batch = pd.concat(list(rows), ignore_index=True)
            closed, new_tails = _fold_sessions_multi(
                batch, gap_ms, self._get_tails()
            )
            self._tails.update(_pack_tails(new_tails))
            if len(new_tails[0]):
                self._rearm(int(new_tails[3].min()) + gap_ms)
            yield _ttl_frame(closed)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):  # noqa: ANN001
            wm = timerValues.getCurrentWatermarkInMs()
            tails = self._get_tails()
            expired = tails[3] + gap_ms < wm
            out = _ttl_frame(tuple(a[expired] for a in tails))
            # the fired timer is gone; drop our bookkeeping of it before
            # re-arming (deleteTimer on the fired ts would be stale)
            self._armed.clear()
            if bool(expired.all()):
                self._tails.clear()
            else:
                rest = tuple(a[~expired] for a in tails)
                self._tails.update(_pack_tails(rest))
                # clamp like the apws timeout path: surviving tails satisfy
                # end + gap >= wm, so the natural re-arm ts can equal the
                # CURRENT watermark exactly — a timer at ts == wm may never
                # fire again, stranding the tails until a later data batch
                self._rearm(max(int(rest[3].min()) + gap_ms, wm + 1))
            yield out

        def close(self) -> None:
            pass

    base = (
        events.withColumn("ts", F.col("ts").cast(T.TimestampType()))
        .withWatermark("ts", f"{watermark_minutes} minutes")
        .select(
            F.pmod(F.col("user_id"), F.lit(buckets)).alias("bucket"),
            "user_id",
            "ts",
            "value",
        )
    )
    return base.groupBy("bucket").transformWithStateInPandas(
        SessionTTL(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="append",
        timeMode="eventTime",
    )


#: which TTL-sessionize API the last run_stateful_sessionize_ttl call used —
#: "tws" or "apws"; same visibility contract as SELECTED_API for e32
TTL_SELECTED_API: str | None = None


def run_stateful_sessionize_ttl(
    spark: SparkSession, sf_dir: str, gap_minutes: int = SESSION_GAP_MIN
) -> DataFrame:
    """Drive the TTL sessionizer over the finite events directory:
    ``processAllAvailable`` covers the trailing no-data micro-batch that
    fires the event-time timers once the watermark reaches ``max(ts) −
    watermark``.  Output goes through the parquet ``foreachBatch`` sink
    (:func:`run_stream_to_parquet`) — the session output is event-sized
    (~1 row per event on this corpus's sparse users), and the memory sink
    materializing it on the driver was 90% of the 100x wall (27.6 s vs a
    2.7 s machinery floor)."""
    spark = stream_session(spark, sf_dir)
    buckets = _session_buckets(spark, sf_dir)
    # Default = applyInPandasWithState, MEASURED, not assumed: the r06
    # verdict hypothesized TWS timers would remove the timer-batch
    # overhead, but a 100x profile showed the timer batch is only ~4 s of
    # a ~42 s replay — the cost is the 10M-row DATA batch — and an
    # interleaved same-session A/B at 100x (after slimming the transfer
    # schema for both APIs) measured apws med 29.1 s vs TWS med 34.4 s:
    # with the vendored pure-Python protobuf shim, TWS's per-state-op
    # socket protocol costs more than apws's per-group state tuple.  TWS
    # remains selectable (spj.stream.session.api=tws, output verified
    # bit-identical) and would be re-measured on a runtime with a real
    # protobuf C extension.
    global TTL_SELECTED_API
    use_tws = False
    api_override = spark.conf.get("spj.stream.session.api", None)
    if api_override in ("tws", "apws"):
        use_tws = api_override == "tws" and tws_runnable(spark)
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(provider_key, None)
    try:
        if use_tws:
            ensure_protobuf(spark)  # ship the shim zip to the data workers
            TTL_SELECTED_API = "tws"
            # TWS state lives in named column families — RocksDB only
            spark.conf.set(
                provider_key,
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider",
            )
            build = stateful_sessionize_ttl_tws
        else:
            TTL_SELECTED_API = "apws"
            build = stateful_sessionize_ttl
        sdf = build(
            stream_events(spark, sf_dir), gap_minutes, buckets=buckets
        )
        # Scale-adaptive sink — see resolve_stream_sink: the session
        # output is event-sized, so past the byte threshold the memory
        # sink's driver materialization IS the wall and parquet keeps
        # it executor-side.
        if resolve_stream_sink(spark, sf_dir) == "parquet":
            out = run_stream_to_parquet(
                spark, sdf, "session_ttl",
                spark.createDataFrame([], OUTPUT_SCHEMA),
            )
        else:
            name = fresh_sink_table(spark, "stream_session_ttl")
            q = (
                sdf.writeStream.outputMode("append")
                .format("memory")
                .queryName(name)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            out = spark.table(name)
    finally:
        if prev_provider is None:
            try:
                spark.conf.unset(provider_key)
            except Exception:
                pass
        else:
            spark.conf.set(provider_key, prev_provider)
    return out


def sessionize_ttl_sql(
    events: str = "events",
    gap_minutes: int = SESSION_GAP_MIN,
    watermark_minutes: int = TTL_WATERMARK_MIN,
) -> str:
    from spj_query_engine_spark.operators.temporal import sessionize_sql

    gap_ms = gap_minutes * 60 * 1000
    wm_ms = watermark_minutes * 60 * 1000
    return f"""
    WITH s AS MATERIALIZED ({sessionize_sql(events)}),
    wm AS (SELECT max(epoch_ms(ts)) - {wm_ms} AS w FROM {events})
    SELECT s.user_id, s.session_no, s.session_start_ms, s.session_end_ms,
           s.n_events, s.sum_value
    FROM s, wm
    WHERE s.session_no < (SELECT max(s2.session_no) FROM s s2
                          WHERE s2.user_id = s.user_id)
       OR s.session_end_ms + {gap_ms} < wm.w
    """
