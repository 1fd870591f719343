"""Structured Streaming ingest + windowed aggregation.

Beyond-reference capability: the reference is strictly batch (nothing
streaming anywhere in its 7.3k LoC — SURVEY.md §1.2).  This module gives the
engine a streaming variant of the scan + tumbling-rollup path:

    readStream(parquet) → event-time window agg → sink

Semantics contract: the streaming rollup over a FINITE input (complete mode,
``processAllAvailable``) must equal the batch ``operators.temporal
.tumbling_rollup`` exactly — which is how the driver's oracle verifies it
(same DuckDB SQL as the batch rollup).

Production shape at scale: file/Kafka source, ``withWatermark`` + append
mode so state is bounded and late data beyond the watermark drops, output to
an idempotent sink (``foreachBatch`` + MERGE).  The memory sink here exists
so a finite parquet directory can drive the query to completion inside a
test harness.  Custom stateful operators (streaming sessionization via
``applyInPandasWithState``) are the designated next extension.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spj_query_engine_spark.catalog import table_path
from spj_query_engine_spark.session import scoped
from spj_query_engine_spark.operators.temporal import ROLLUP_HOURS

WATERMARK = "1 hour"

#: last memory-sink table registered per runner prefix — see
#: :func:`fresh_sink_table`
_SINK_TABLES: dict[str, str] = {}


def fresh_sink_table(spark: SparkSession, prefix: str) -> str:
    """Unique memory-sink table name for a streaming runner, dropping the
    table the SAME runner registered on its previous invocation.

    The memory sink accumulates its rows in the driver and the temp view
    keeps them referenced until dropped — ``spark.catalog.clearCache()``
    clears cached plans, not sink tables — so repeated invocations
    (bench warmup + measured run, scale sweeps) stack dead result sets in
    driver memory: at a 100x replay e50's measured run carried the
    warmup's ~9.5M-row table and measured 81 s against 35 s clean.  Each
    runner's result therefore stays valid until ITS OWN next invocation
    (cross-runner results are never dropped, so A-vs-B equivalence tests
    hold both outputs safely)."""
    prior = _SINK_TABLES.get(prefix)
    if prior:
        try:
            spark.catalog.dropTempView(prior)
        except Exception:
            pass
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    _SINK_TABLES[prefix] = name
    return name

#: one stateful-shuffle partition per this many input bytes.  Streaming
#: state operators cannot use AQE partition coalescing, so the partition
#: count must be right-sized up front: every micro-batch pays one state
#: store open+commit PER PARTITION, a fixed cost that dominates small
#: replays (measured: finite-replay dedup over 2 MB of events takes 2.4 s
#: at 32 state partitions, 1.4 s at 4 — same result either way).
STREAM_STATE_TARGET_BYTES = 4 << 20

#: checkpoint file manager of the stream scope (see :func:`stream_session`)
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _source_bytes(path: str) -> int:
    """Data bytes behind a table path: the file's size, or — for a
    directory-layout table (anything Spark wrote, e.g. the scaled replica
    corpora) — the sum of its part-file sizes.  ``getsize`` on the directory
    itself would return the inode size (~4 KB) and collapse the partition
    derivation to the floor exactly on large inputs."""
    if os.path.isdir(path):
        # RECURSIVE walk: a partitionBy-written table nests its part files
        # under key=value subdirectories; a direct-children-only scan would
        # total 0 bytes — the exact collapse this function exists to prevent.
        total = 0
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            for fname in files:
                if fname.startswith((".", "_")):
                    continue
                try:
                    total += os.path.getsize(os.path.join(root, fname))
                except OSError:
                    pass
        return total
    return os.path.getsize(path)


def _stream_plan(spark: SparkSession, sf_dir: str, table: str) -> tuple[int, bool]:
    """(state partition count, tiny) for a finite streaming replay — the
    one derivation behind :func:`resolve_stream_partitions` and
    :func:`stream_session`.  ``tiny`` holds only when no
    ``spj.stream.state.partitions`` override is set, the byte-derived count
    is below the session parallelism, AND the source is at most
    4 × ``STREAM_STATE_TARGET_BYTES`` (the floor's own byte budget) — so
    a large replay on a wide session never counts as tiny."""
    override = spark.conf.get("spj.stream.state.partitions", None)
    if override:
        return int(override), False
    try:
        size = _source_bytes(table_path(sf_dir, table))
    except OSError:
        size = 0
    cur = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    parts = max(4, min(cur, -(-size // STREAM_STATE_TARGET_BYTES)))
    return parts, parts < cur and size <= 4 * STREAM_STATE_TARGET_BYTES


def resolve_stream_partitions(
    spark: SparkSession, sf_dir: str, table: str = "events"
) -> int:
    """Stateful-shuffle partition count for a finite streaming replay:
    ``spj.stream.state.partitions`` conf if set, else one partition per
    ``STREAM_STATE_TARGET_BYTES`` of source data (part-file sum for
    directory-layout tables), clamped to [4, session
    ``spark.sql.shuffle.partitions``].  Small corpora stop paying 32 state
    commits per batch; at 100x the derivation returns the session value
    unchanged, and a real deployment sets the conf explicitly (state
    partition count is fixed for the life of a checkpoint)."""
    return _stream_plan(spark, sf_dir, table)[0]


def stream_session(
    spark: SparkSession, sf_dir: str, table: str = "events"
) -> SparkSession:
    """An ISOLATED session for streaming queries, with
    ``spark.sql.shuffle.partitions`` set to the resolved stream-state count
    (the count is baked into the query's state layout at start; each
    runner uses a fresh checkpoint, so no stored state can disagree).

    Replaces the r08 ``stream_state_conf`` context manager, which scoped
    the SESSION-GLOBAL conf: any other job materializing while a stream
    replay was in flight silently ran at the stream's (usually tiny) state
    partition count.  Each runner swaps its local ``spark`` to the stream
    session as its first statement and every frame, sink table, and
    post-replay read lives there; the caller's session is untouched by
    construction.  The session comes from :func:`…session.scoped`, so
    queries that resolve the same settings share one clone and every
    ``spj.*`` override is re-synced from the caller on each call.

    AQE on the stream session (r10): the per-micro-batch jobs a finite
    replay runs (foreachBatch transforms, sink writes, post-replay reads)
    are BATCH queries, so AQE's per-stage re-planning applies to each one
    — pure latency when the replay is provably tiny (interleaved A/B:
    e50 0.88, e06 0.89, e10 0.92, trivial rollups flat).  AQE is disabled
    only when :func:`_stream_plan` calls the replay tiny; an explicit
    override or an input past the byte cap keeps AQE on, so production
    replays are untouched.

    Checkpoint I/O: without Hadoop's native library, Spark's default
    ``FileContextBasedCheckpointFileManager`` forks ``readlink`` processes
    to resolve checkpoint and state-store paths (112 of the 152 processes
    an sf0.01 replay forked).  The scope pins the ``FileSystem``-based
    manager instead, which resolves and renames inside the JVM; the
    ``chmod`` that Hadoop's local file system forks per file create and
    mkdir stays.  That manager checks for an existing target before a plain
    rename rather than renaming with FileContext's no-overwrite flag, which
    is safe here: a finite replay checkpoints into a fresh local temp dir
    with one writer, where a POSIX rename is atomic.  Caller sessions keep
    Spark's default."""
    parts, tiny = _stream_plan(spark, sf_dir, table)
    return scoped(
        spark,
        {
            "spark.sql.shuffle.partitions": parts,
            "spark.sql.adaptive.enabled": not tiny,
            "spark.sql.streaming.checkpointFileManagerClass": CHECKPOINT_FILE_MANAGER,
        },
    )


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming scan of any catalog table.  Schema comes from a batch read;
    TIMESTAMP(NANOS) columns arrive as long nanos (nanosAsLong) and are
    converted with integer div — same rule as the batch catalog."""
    path = table_path(sf_dir, name)
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    from spj_query_engine_spark.catalog import _table_meta

    schema = _table_meta(spark, path)[0]
    # the file-stream source wants a directory.  Two table layouts exist:
    # a single file <sf_dir>/<name>.parquet (the shipped testdata) — stream
    # the sf dir with a glob pinned to that file — and a directory of part
    # files (anything Spark wrote, e.g. the scaled corpora) — stream the
    # directory itself (a glob on the PART names would match nothing).
    if os.path.isdir(path):
        stream = spark.readStream.schema(schema).parquet(path)
    else:
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", f"{name}.parquet")
            .parquet(sf_dir)
        )
    # Canonicalize event time to TimestampType whichever way the parquet
    # stored it (nanos-as-long, micros-NTZ, micros-UTC) — watermarks reject
    # TIMESTAMP_NTZ, and the UTC-pinned session makes the cast lossless.
    for col, dt in stream.dtypes:
        if name == "events" and col == "ts" and dt == "bigint":
            stream = stream.withColumn(col, F.expr("timestamp_micros(ts div 1000)"))
        elif dt == "timestamp_ntz":
            stream = stream.withColumn(col, F.col(col).cast("timestamp"))
    return stream


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_table(spark, sf_dir, "events")


def streaming_rollup(events: DataFrame, hours: int = ROLLUP_HOURS) -> DataFrame:
    """Event-time tumbling window aggregate on a stream: watermark + window.
    Emits (bucket, event_type, n_events, sum_value, window_start_ms) — the
    exact schema of the batch rollup so results are comparable."""
    width_ms = hours * 3600 * 1000
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", f"{hours} hours"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            (F.unix_millis(F.col("window.start")) / F.lit(width_ms))
            .cast("long")
            .alias("bucket"),
            "event_type",
            "n_events",
            "sum_value",
            F.unix_millis(F.col("window.start")).alias("window_start_ms"),
        )
    )


def run_streaming_rollup(
    spark: SparkSession, sf_dir: str, hours: int = ROLLUP_HOURS
) -> DataFrame:
    """Drive the streaming rollup over the finite events directory to
    completion (memory sink, complete mode) and return the result as a
    batch DataFrame."""
    spark = stream_session(spark, sf_dir)
    name = fresh_sink_table(spark, "stream_rollup")
    q = (
        streaming_rollup(stream_events(spark, sf_dir), hours)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def run_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicates`` on a stream keeps one row
    per key in state and emits it once — the streaming twin of the batch
    DISTINCT operator.  Driven over the finite events directory the result
    equals batch ``SELECT DISTINCT event_id``, which is how the oracle
    checks it.

    Production shape: ``withWatermark`` + ``dropDuplicatesWithinWatermark``
    so the key state expires instead of growing forever — the bounded-state
    variant of the same plan.
    """
    spark = stream_session(spark, sf_dir)
    name = fresh_sink_table(spark, "stream_dedup")
    q = (
        stream_events(spark, sf_dir)
        .select("event_id")
        .dropDuplicates(["event_id"])
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


def run_streaming_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization via the NATIVE ``session_window`` aggregate —
    the state-store-backed session operator (merging gap intervals in state
    across micro-batches), streaming twin of the batch
    ``temporal.native_sessionize``.  Complete mode over the finite events
    directory drives every session to its final extent, so the result equals
    the batch formulation — the oracle.

    Production shape: ``withWatermark`` + append mode, so sessions finalize
    and leave state once the watermark passes their end — bounded state; the
    complete-mode memory sink exists to drive finite replay in the harness.
    """
    spark = stream_session(spark, sf_dir)
    from spj_query_engine_spark.operators.temporal import SESSION_GAP_MIN

    name = fresh_sink_table(spark, "stream_session")
    # ms truncation before windowing — the oracle sessionizes on epoch_ms;
    # raw microsecond residue would flip sessions at the exact gap boundary
    ev = stream_events(spark, sf_dir).withColumn(
        "ts", F.timestamp_millis(F.unix_millis(F.col("ts")))
    )
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(
            "user_id",
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("sw"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_millis(F.col("sw.start")).alias("session_start_ms"),
            F.unix_millis(F.col("sw.end")).alias("session_end_ms"),
            "n_events",
            "sum_value",
        )
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def run_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming UPSERT sink via ``foreachBatch`` — keep the LATEST event per
    user in a keyed target table.  Each micro-batch reduces to its per-user
    latest rows and APPENDS them to the target (a log-structured merge: the
    append is idempotent-safe and never rewrites history); readers apply
    merge-on-read (latest per key across all appended fragments).  Because
    latest-per-key is associative and commutative, the final state is
    independent of how the stream was micro-batched — which is why finite
    replay equals the batch 'latest event per user' query, the oracle.

    Production shape: the same ``foreachBatch`` body MERGEs into a
    transactional table (Delta/Iceberg) instead of appending fragments; the
    compaction then happens in the table format rather than at read time.
    """
    spark = stream_session(spark, sf_dir)
    from pyspark.sql import Window

    tgt = f"/tmp/spj_upsert_{uuid.uuid4().hex[:8]}"

    def latest_per_user(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "user_id",
                F.col("event_id").alias("last_event_id"),
                F.unix_micros(F.col("ts")).alias("last_ts_us"),
                F.col("value").cast("double").alias("last_value"),
            )
        )

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        latest_per_user(batch_df).write.mode("append").parquet(tgt)

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
    # merge-on-read: latest per key across the appended fragments.  Read with
    # the EXPLICIT output schema: an empty stream appends no fragment at all,
    # and schema inference on a missing/empty target would throw instead of
    # yielding the well-defined empty result.
    from pyspark.sql import Window

    out_schema = "user_id long, last_event_id long, last_ts_us long, last_value double"
    import os as _os

    if not _os.path.isdir(tgt):
        return spark.createDataFrame([], out_schema)
    frags = spark.read.schema(out_schema).parquet(tgt)
    w = Window.partitionBy("user_id").orderBy(
        F.desc("last_ts_us"), F.desc("last_event_id")
    )
    return (
        frags.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


STREAM_JOIN_MINUTES = 60  # click must precede the purchase within this band


def run_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join: purchases joined to the same user's
    preceding clicks within a time band — both sides are streams, each with
    a watermark, and the time-range condition lets Spark bound the join
    state (clicks older than the band + watermark are evicted).  Inner
    stream-stream joins are monotone (a match emits once both sides have
    arrived, regardless of micro-batching), so finite replay emits exactly
    the batch join's pairs — the oracle.

    This is the streaming surface the sessionize/rollup entries don't touch:
    two buffered sides with watermark-driven state eviction, the shape of
    real-time attribution pipelines."""
    spark = stream_session(spark, sf_dir)
    band_ms = STREAM_JOIN_MINUTES * 60 * 1000
    # ms truncation on both sides: the oracle's band/ordering predicates are
    # epoch_ms comparisons; raw microsecond residue would include/exclude
    # pairs within the same millisecond differently at the band edges
    ev = stream_events(spark, sf_dir).withColumn(
        "ts", F.timestamp_millis(F.unix_millis(F.col("ts")))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {STREAM_JOIN_MINUTES} MINUTES")),
    ).select(
        "p_id",
        "c_id",
        F.col("p_user").alias("user_id"),
        F.unix_millis("p_ts").alias("p_ts_ms"),
        F.unix_millis("c_ts").alias("c_ts_ms"),
    )
    name = fresh_sink_table(spark, "ss_join")
    q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def stream_stream_join_sql(events: str = "events", minutes: int = STREAM_JOIN_MINUTES) -> str:
    band_ms = minutes * 60 * 1000
    return f"""
    SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id,
           epoch_ms(p.ts) AS p_ts_ms, epoch_ms(c.ts) AS c_ts_ms
    FROM {events} p JOIN {events} c
      ON p.user_id = c.user_id
     AND epoch_ms(c.ts) <= epoch_ms(p.ts)
     AND epoch_ms(c.ts) >= epoch_ms(p.ts) - {band_ms}
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """


def run_streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment join (e24): the event stream joins a batch
    dimension (per-user lifetime order count + decimal spend, aggregated
    once from the orders table) — the micro-batch broadcast join every
    production scorer/feature-enricher runs, distinct from both the
    stateful as-of (e10) and the stream-stream join (e16).  The static
    side is planned per micro-batch as an ordinary broadcast hash join;
    no streaming state exists at all, so nothing can grow.

    Driven over the finite events directory the result equals the batch
    equi-join — the oracle."""
    spark = stream_session(spark, sf_dir)
    import uuid as _uuid

    from pyspark.sql import functions as F

    from spj_query_engine_spark.catalog import load_tables

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    dim = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("lifetime_spend"),
    )
    name = fresh_sink_table(spark, "stream_enrich")
    enriched = (
        stream_events(spark, sf_dir)
        .select("event_id", "user_id", "event_type")
        .join(F.broadcast(dim), F.col("user_id") == F.col("o_custkey"), "left")
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.coalesce(F.col("n_orders"), F.lit(0)).cast("long").alias("n_orders"),
            F.coalesce(F.col("lifetime_spend"), F.lit(0.0)).alias("lifetime_spend"),
        )
    )
    q = (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def run_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SLIDING-window rollup (e27): watermark + F.window with a
    slide on the event stream — each event updates width/step overlapping
    window states in the store (e05 proves tumbling; overlapping window
    state is the strictly harder bookkeeping).  Driven to completion in
    complete mode the result equals the batch sliding rollup — the
    oracle."""
    spark = stream_session(spark, sf_dir)
    import uuid as _uuid

    from pyspark.sql import functions as F

    from spj_query_engine_spark.operators.temporal import (
        SLIDE_STEP_H,
        SLIDE_WIDTH_H,
    )

    name = fresh_sink_table(spark, "stream_sliding")
    agg = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", WATERMARK)
        .groupBy(
            F.window(
                "ts", f"{SLIDE_WIDTH_H} hours", f"{SLIDE_STEP_H} hours"
            ).alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("wstart_ms"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def run_stream_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply via ``foreachBatch`` — e15's upsert sink extended
    with DELETE semantics (the op mapping of the batch twin
    ``operators.temporal.cdc_apply``: signup→I, error→D, else→U).  Each
    micro-batch reduces to its latest-op-per-user rows and appends them —
    *including delete TOMBSTONES*: a delete must outlive the batch that saw
    it, or a later merge-on-read would resurrect an earlier upsert.
    Readers take the latest fragment row per key and drop keys whose
    winning op is a tombstone.  Latest-op-per-key is associative and
    commutative, so finite replay equals the batch ``cdc_apply`` — the
    oracle.

    Production shape: the same body MERGEs into Delta/Iceberg with
    ``WHEN MATCHED AND op = 'D' THEN DELETE``; tombstone compaction then
    lives in the table format."""
    spark = stream_session(spark, sf_dir)
    from pyspark.sql import Window

    tgt = f"/tmp/spj_cdc_{uuid.uuid4().hex[:8]}"
    op = F.expr(
        "CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D' ELSE 'U' END"
    )

    def latest_op_per_user(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "user_id",
                op.alias("last_op"),
                F.col("event_id").alias("last_event_id"),
                F.unix_millis(F.col("ts")).alias("last_ts_ms"),
                F.col("value").cast("double").alias("last_value"),
            )
        )

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        latest_op_per_user(batch_df).write.mode("append").parquet(tgt)

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
    from pyspark.sql import Window

    out_schema = (
        "user_id long, last_op string, last_event_id long, "
        "last_ts_ms long, last_value double"
    )
    import os as _os

    if not _os.path.isdir(tgt):
        return spark.createDataFrame([], out_schema)
    frags = spark.read.schema(out_schema).parquet(tgt)
    w = Window.partitionBy("user_id").orderBy(
        F.desc("last_ts_ms"), F.desc("last_event_id")
    )
    return (
        frags.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .filter(F.col("last_op") != "D")
        .drop("rn")
    )


def run_stream_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the DAU/WAU report (e38): each micro-batch reduces
    to its distinct (user, day) pairs — a tiny idempotent append — and the
    read side dedups across fragments before the e35 rollup.  Distinct-
    union is associative and idempotent, so ANY batch arrival order
    (including replays) converges to the batch answer: finite replay of
    the stream equals e35, which is this entry's oracle.  At scale the
    append is day-partitionable and old fragments compact away; per-batch
    state is zero (no watermark needed — late user-days still merge)."""
    spark = stream_session(spark, sf_dir)
    from spj_query_engine_spark.operators.temporal import active_users_from_ud

    tgt = f"/tmp/spj_dauwau_{uuid.uuid4().hex[:8]}"

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        (
            batch_df.select(
                "user_id",
                F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
                .alias("day_no"),
            )
            .distinct()
            .write.mode("append")
            .parquet(tgt)
        )

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
    import os as _os

    out_schema = "user_id long, day_no int"
    if not _os.path.isdir(tgt):
        ud = spark.createDataFrame([], out_schema)
    else:
        ud = spark.read.schema(out_schema).parquet(tgt).distinct()
    return active_users_from_ud(ud)


def run_stream_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the two-level HLL rollup (e40): every micro-batch
    appends its per-day PARTIAL sketch (``hll_sketch_agg`` over the batch's
    users — a KB-sized binary row) plus its distinct (user, day) pairs for
    the exactness gate; the read side ``hll_union_agg``s ALL fragments —
    several partial sketches per day, from whichever batches touched it —
    into weekly estimates.  HLL union is associative, commutative and
    idempotent over inputs, so any batch slicing converges to e39's batch
    answer; per-batch streaming state is zero.  This is the production
    shape: sketch partials land next to the data, every later rollup is a
    merge of stored partials, and the raw stream is never replayed."""
    spark = stream_session(spark, sf_dir)
    from spj_query_engine_spark.operators.temporal import (
        SKETCH_LG_K,
        SKETCH_MAX_ERR,
    )

    tgt = f"/tmp/spj_sketch_{uuid.uuid4().hex[:8]}"
    day_no = (F.unix_millis(F.col("ts")) / F.lit(86_400_000)).cast("long")

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        b = batch_df.select(day_no.alias("day_no"), "user_id")
        b.groupBy("day_no").agg(
            F.hll_sketch_agg("user_id", F.lit(SKETCH_LG_K)).alias("sk")
        ).write.mode("append").parquet(f"{tgt}_sk")
        b.distinct().write.mode("append").parquet(f"{tgt}_ud")

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
    import os as _os

    if not _os.path.isdir(f"{tgt}_sk"):
        return spark.createDataFrame(
            [], "week_no long, exact_users long, est_ok long"
        )
    sk = spark.read.schema("day_no long, sk binary").parquet(f"{tgt}_sk")
    est = (
        sk.withColumn("week_no", (F.col("day_no") / 7).cast("long"))
        .groupBy("week_no")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"))
    )
    ud = spark.read.schema("day_no long, user_id long").parquet(f"{tgt}_ud")
    exact = (
        ud.withColumn("week_no", (F.col("day_no") / 7).cast("long"))
        .select("week_no", "user_id")
        .distinct()
        .groupBy("week_no")
        .agg(F.count(F.lit(1)).alias("exact_users"))
    )
    rel_err = F.abs(F.col("est_users") - F.col("exact_users")) / F.greatest(
        F.col("exact_users"), F.lit(1)
    )
    return est.join(exact, "week_no").select(
        "week_no",
        "exact_users",
        (rel_err <= SKETCH_MAX_ERR).cast("long").alias("est_ok"),
    )


def foreach_batch_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """u10: per-user running totals streamed into a ``foreachBatch``
    IDEMPOTENT sink — the production exactly-once pattern for sinks with no
    native transactional writer (JDBC upsert, object-store MERGE).  Each
    micro-batch's updated rows land in a batch-id-keyed directory written
    with ``mode("overwrite")``, so a RETRIED batch replaces its own prior
    attempt instead of double-counting (Spark re-runs foreachBatch with the
    same batchId on recovery); the read side reconciles MERGE-style by
    taking each key's row from the highest batch id.  Update-mode output
    means only touched keys rewrite per batch — the contract a real MERGE
    target sees.

    Finite-replay oracle: after ``processAllAvailable`` the reconciled
    state is each user's final running total = the batch rollup (same
    integer-cents fold as e32, portable floor rounding).  The result is
    materialized (user-count rows, not event rows) so the scratch
    directory can be deleted before returning."""
    import shutil
    import tempfile

    from pyspark.sql import Window

    out = tempfile.mkdtemp(prefix="spj_u10_")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    agg = (
        stream_events(spark, sf_dir)
        .select("user_id", cents.alias("cents"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )
    )

    def sink(bdf, bid) -> None:  # noqa: ANN001
        bdf.withColumn("batch_id", F.lit(int(bid))).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, f"batch-{int(bid):05d}"))

    try:
        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(sink)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        schema_str = "user_id long, n_events long, sum_cents long, batch_id long"
        import glob as _glob

        if not _glob.glob(os.path.join(out, "batch-*")):
            # zero input rows -> the sink never fired; empty totals
            return spark.createDataFrame(
                [], "user_id long, n_events long, sum_cents long"
            )
        snaps = spark.read.schema(schema_str).parquet(os.path.join(out, "batch-*"))
        w = Window.partitionBy("user_id").orderBy(F.desc("batch_id"))
        merged = (
            snaps.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "n_events", "sum_cents")
        )
        # Executor-side materialization so the frame survives the temp-dir
        # rmtree below: the r08 version collect()ed one row per user onto
        # the driver and re-created a DataFrame, which is bounded by user
        # population, not events — fine at sf0.1, a driver OOM at billions
        # of users.  localCheckpoint keeps the merged totals as executor
        # blocks (the same pattern operators/core.barrier uses).
        merged = merged.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return merged
