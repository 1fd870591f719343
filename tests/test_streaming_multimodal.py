"""Streaming rollup (stream ≡ batch on finite input) and multimodal plumbing
tests."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spj_query_engine_spark.operators import multimodal, temporal
from spj_query_engine_spark.catalog import load_table
from spj_query_engine_spark.streaming import ingest

from tests.conftest import SF_DIR, SF_DIR_MID
from spj_query_engine_spark.testing import compare_frames


def test_streaming_rollup_equals_batch(spark):
    batch = temporal.tumbling_rollup(load_table(spark, SF_DIR, "events")).toPandas()
    stream = ingest.run_streaming_rollup(spark, SF_DIR).toPandas()
    assert not compare_frames(stream, batch)


@pytest.fixture(scope="module")
def mm(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["abcdefgh", "spark engine"]})
    )
    return multimodal.attach_payload(docs)


def test_attach_payload_meta(mm):
    rows = {r["doc_id"]: r for r in mm.collect()}
    assert bytes(rows[1]["payload"]) == b"abcdefgh"
    assert rows[1]["meta"]["n_bytes"] == 8
    assert rows[2]["meta"]["mime"] == "text/utf-8"


def test_decode_features_shape_and_determinism(mm):
    out = multimodal.decode_features(mm).collect()
    rows = {r["doc_id"]: r for r in out}
    assert rows[1]["n_bytes"] == 8
    assert len(rows[1]["feat"]) == multimodal.FEAT_DIM
    assert all(0.0 <= v < 1.0 for v in rows[1]["feat"])
    # deterministic across runs
    again = {r["doc_id"]: r for r in multimodal.decode_features(mm).collect()}
    assert rows[1]["feat"] == again[1]["feat"]
    assert rows[1]["checksum"] == sum(b"abcdefgh")


def test_decode_indifferent_to_pil_presence(mm, monkeypatch):
    """Decode behavior is a config decision, not an import probe: a PIL
    module appearing on the path must not change (or break) the stub
    output, and the real decoder routes ONLY via REAL_DECODER."""
    import sys
    import types

    baseline = {r["doc_id"]: r["feat"] for r in multimodal.decode_features(mm).collect()}
    # a fake PIL appears on the driver path -> nothing changes, nothing raises
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = types.ModuleType("PIL.Image")
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_pil.Image)
    with_pil = {r["doc_id"]: r["feat"] for r in multimodal.decode_features(mm).collect()}
    assert with_pil == baseline
    assert multimodal._fake_features(b"abcdefgh") == baseline[1]
    # explicit opt-in routes through the supplied callable (closed over at
    # plan build, so it ships inside the serialized task)
    monkeypatch.setattr(
        multimodal, "REAL_DECODER", lambda payload: [float(len(payload))] * multimodal.FEAT_DIM
    )
    routed = {r["doc_id"]: r["feat"] for r in multimodal.decode_features(mm).collect()}
    assert routed[1] == [8.0] * multimodal.FEAT_DIM
    assert routed[2] == [12.0] * multimodal.FEAT_DIM


def test_frame_sample_partitions_payload(mm):
    out = [r for r in multimodal.frame_sample(mm).collect() if r["doc_id"] == 1]
    assert len(out) == multimodal.FRAME_COUNT
    assert sum(r["frame_bytes"] for r in out) == 8
    assert len({r["frame_fp"] for r in out}) == multimodal.FRAME_COUNT  # chunks differ


def test_audio_windows_fanout_energy_overlap(mm):
    # doc 1: 8-byte payload, win=4 hop=2 → ceil(8/2)=4 windows
    out = sorted(
        (r for r in multimodal.audio_windows(mm, win=4, hop=2).collect()
         if r["doc_id"] == 1),
        key=lambda r: r["win_no"],
    )
    assert [r["win_no"] for r in out] == [0, 1, 2, 3]
    p = b"abcdefgh"
    assert out[0]["energy"] == sum(b * b for b in p[0:4])
    assert out[1]["energy"] == sum(b * b for b in p[2:6])  # 50% overlap
    assert out[3]["n_samples"] == 2  # tail window is short
    assert out[0]["peak"] == p[3]  # 'd'


def test_stateful_sessionize_equals_batch(spark):
    from spj_query_engine_spark.streaming.stateful import run_stateful_sessionize

    batch = temporal.sessionize(load_table(spark, SF_DIR, "events")).toPandas()
    stream = run_stateful_sessionize(spark, SF_DIR).toPandas()
    assert not compare_frames(stream, batch)


def test_stateful_sessionize_state_carries_across_batches(spark, tmp_path):
    """Split one user's events across two micro-batches at mid-session: the
    open-session tail must carry in state, and the re-emitted (extended)
    session must supersede the first emission.  A second user of the same
    bucket, with events only in the first batch, must not have its
    carried tail re-emitted by the second batch."""
    from pyspark.sql import functions as F
    from spj_query_engine_spark.streaming.stateful import stateful_sessionize

    gap_min = 30
    ms = 60_000
    # user 7: events at t=0,10min (batch 1) and 20min, 3h (batch 2)
    # → one session {0,10,20min} spanning the batch boundary, one {3h}
    # user 8: events at t=5min, 100min (batch 1 only) → sessions {5min},
    # {100min}, the second one still open after batch 1
    b1 = [(7, 1, 0 * ms, 1.5), (7, 2, 10 * ms, 2.5),
          (8, 5, 5 * ms, 1.0), (8, 6, 100 * ms, 2.0)]
    b2 = [(7, 3, 20 * ms, 3.0), (7, 4, 180 * ms, 4.0)]
    cols = "user_id long, event_id long, ts_ms long, value double"
    in_dir = str(tmp_path / "in")

    def write_batch(rows):
        (
            spark.createDataFrame(rows, cols)
            .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
            .drop("ts_ms")
            .coalesce(1)
            .write.mode("append")
            .parquet(in_dir)
        )

    write_batch(b1)
    stream = (
        spark.readStream.schema("user_id long, event_id long, value double, ts timestamp")
        .parquet(in_dir)
    )
    q = (
        stateful_sessionize(stream, gap_minutes=gap_min, buckets=1)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("carrytest")
        .start()
    )
    try:
        # b2 lands only after b1 is fully processed → guaranteed two
        # micro-batches in order, session 1 open across the boundary
        q.processAllAvailable()
        write_batch(b2)
        q.processAllAvailable()
    finally:
        q.stop()
    emitted = spark.table("carrytest").toPandas()
    # user 8: each session emitted once, by batch 1 — the open tail is
    # carried in state but not re-emitted by batch 2, which lacks user 8
    u8 = emitted[emitted["user_id"] == 8].sort_values("session_no")
    assert u8["session_no"].tolist() == [1, 2]
    assert u8["n_events"].tolist() == [1, 1]
    assert u8["session_end_ms"].tolist() == [5 * ms, 100 * ms]
    emitted = emitted[emitted["user_id"] == 7]
    # user 7: batch 1 emits the open session, batch 2 the extended session
    # and the new one
    assert len(emitted) == 3
    # latest emission per (user, session) = the one with the most events
    final = emitted.sort_values("n_events").groupby(["user_id", "session_no"]).last()
    sessions = {
        sno: row for (_, sno), row in final.iterrows()
    }
    assert len(sessions) == 2
    assert sessions[1]["n_events"] == 3  # spans the batch boundary
    assert sessions[1]["session_end_ms"] == 20 * ms
    assert sessions[1]["sum_value"] == pytest.approx(7.0)
    assert sessions[2]["n_events"] == 1
    assert sessions[2]["sum_value"] == pytest.approx(4.0)


def test_resize_payload(mm):
    rows = {r["doc_id"]: r for r in multimodal.resize_payload(mm, target=4).collect()}
    # "abcdefgh" (8 bytes) -> indices 0,2,4,6 -> "aceg"
    assert rows[1]["resized"] == "aceg"
    assert rows[1]["r_bytes"] == 4
    # "spark engine" (12 bytes) -> indices 0,3,6,9 -> "srei"
    assert rows[2]["resized"] == "srei"


def test_resize_empty_payload(spark):
    mm_empty = multimodal.attach_payload(
        spark.createDataFrame(pd.DataFrame({"doc_id": [9], "text": [""]}))
    )
    [r] = multimodal.resize_payload(mm_empty, target=4).collect()
    assert r["resized"] == "" and r["r_bytes"] == 0


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode watermark semantics: an event arriving after the
    watermark has passed its window is DROPPED (bounded state — the property
    that lets the rollup run forever); an in-watermark late event is merged."""
    from pyspark.sql import functions as F
    from spj_query_engine_spark.streaming.ingest import streaming_rollup

    hr = 3_600_000
    in_dir = str(tmp_path / "in")
    cols = "event_id long, user_id long, event_type string, value double, ts_ms long"

    def write_batch(rows):
        (
            spark.createDataFrame(rows, cols)
            .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
            .drop("ts_ms")
            .coalesce(1)
            .write.mode("append")
            .parquet(in_dir)
        )

    # batch 1: window [0h,6h) gets 2 events; max event time 23h → watermark
    # (1h lag) lands at 22h, far past that window's end
    write_batch([(1, 1, "a", 1.0, 1 * hr), (2, 1, "a", 1.0, 2 * hr), (3, 1, "a", 1.0, 23 * hr)])
    stream = (
        spark.readStream.schema("event_id long, user_id long, event_type string, value double, ts timestamp")
        .parquet(in_dir)
    )
    q = (
        streaming_rollup(stream, hours=6)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("watermarktest")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: one event at 3h — inside the closed [0h,6h) window, behind
        # the 22h watermark → must be dropped
        write_batch([(4, 1, "a", 100.0, 3 * hr)])
        q.processAllAvailable()
        # empty batch advances nothing; stop and read what appended
    finally:
        q.stop()
    out = spark.table("watermarktest").toPandas()
    bucket0 = out[out["bucket"] == 0]
    # the closed window emitted exactly once, WITHOUT the late event's 100.0
    assert len(bucket0) == 1
    assert bucket0.iloc[0]["n_events"] == 2
    assert bucket0.iloc[0]["sum_value"] == pytest.approx(2.0)


def test_stateful_asof_state_carries_across_batches(spark, tmp_path):
    """Orders arrive in micro-batch 1, events in micro-batch 2 — the
    last-order state must carry so batch-2 events still enrich."""
    from pyspark.sql import functions as F
    from spj_query_engine_spark.streaming.stateful import stateful_asof_join

    hr = 3_600_000
    odir, edir = str(tmp_path / "orders"), str(tmp_path / "events")
    (
        spark.createDataFrame(
            [(100, 7, 1 * hr, 50.0), (101, 7, 2 * hr, 60.0)],
            "o_orderkey long, o_custkey long, ts_ms long, o_totalprice double",
        )
        .withColumn("o_orderdate", F.timestamp_millis(F.col("ts_ms")))
        .drop("ts_ms")
        .coalesce(1)
        .write.parquet(odir)
    )
    import os

    os.makedirs(edir, exist_ok=True)
    orders = spark.readStream.schema(
        "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate timestamp"
    ).parquet(odir)
    events = spark.readStream.schema(
        "event_id long, user_id long, ts timestamp"
    ).parquet(edir)
    q = (
        stateful_asof_join(events, orders)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("asofcarry")
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1: orders only -> state primed
        (
            spark.createDataFrame([(1, 7, 5 * hr)], "event_id long, user_id long, ts_ms long")
            .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
            .drop("ts_ms")
            .coalesce(1)
            .write.mode("append")
            .parquet(edir)
        )
        q.processAllAvailable()  # batch 2: event joins against carried state
    finally:
        q.stop()
    rows = spark.table("asofcarry").collect()
    assert len(rows) == 1
    assert rows[0]["o_orderkey"] == 101  # the LATEST carried order
    assert rows[0]["o_totalprice"] == 60.0


def test_watermark_drops_late_data_windowed_agg(spark, tmp_path):
    """Append-mode windowed agg with a watermark: an event arriving after
    the watermark has passed its window is DROPPED — the bounded-state
    contract.  File arrival order drives the event-time watermark
    deterministically via sequential processAllAvailable() calls."""
    import uuid as _uuid

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    src = str(tmp_path / "late_src")
    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("v", T.LongType())]
    )

    def write_file(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/{name}")

    import datetime as dt

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    write_file("f1", [(t(12, 0), 1), (t(12, 1), 2)])

    name = f"late_{_uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()  # watermark advances to 12:01 - 10min = 11:51
        # late event at 10:00 — its window [10:00, 10:05) closed long ago
        write_file("f2", [(t(10, 0), 99)])
        q.processAllAvailable()
        # advance event time so the 12:00 window finalizes and emits
        write_file("f3", [(t(13, 0), 3)])
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["window"]["start"].hour, r["window"]["start"].minute): r["n"]
        for r in spark.table(name).collect()
    }
    assert (12, 0) in got and got[(12, 0)] == 2  # the on-time window emitted
    assert (10, 0) not in got  # the late event never appears


def test_frame_dup_pairs_planted(spark):
    """m07 on planted assets: an exact copy shares all 4 frames; a variant
    with one quarter altered shares 3; a variant altered in every quarter
    shares 0 and never pairs.  Also proves the boilerplate cap drops a
    fingerprint shared by too many assets."""
    from spj_query_engine_spark.operators.multimodal import frame_dup_pairs

    base = "aaaabbbbccccdddd"  # 4 frames of 4 bytes
    rows = [
        (0, base),
        (1, base),                    # exact copy → 4 shared frames
        (2, "aaaabbbbccccXXXX"),      # last quarter differs → 3 shared
        (3, "WWWWXXXXYYYYZZZZ"),      # nothing shared
    ]
    mm = spark.createDataFrame(rows, "doc_id long, payload string").select(
        "doc_id", F.col("payload").cast("binary").alias("payload")
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in frame_dup_pairs(mm).collect()
    }
    assert got == {(0, 1): 4, (0, 2): 3, (1, 2): 3}
    # cap: with df_cap=1 every shared fingerprint is "boilerplate" → no pairs
    assert frame_dup_pairs(mm, df_cap=1).count() == 0


def test_tws_running_totals(spark):
    """Spark 4 transformWithStateInPandas running totals == batch rollup
    (finite replay).  The TWS state server needs google.protobuf in the
    Python runtime — a real distribution or the vendored wire-format shim
    (ensure_protobuf ships the shim to the workers); skipped only if
    neither can be made importable."""
    from spj_query_engine_spark.streaming.stateful import (
        ensure_protobuf,
        run_tws_running_totals,
        tws_running_totals_sql,
        tws_runnable,
    )

    if not tws_runnable(spark):
        pytest.skip(
            "TWS not runnable: google.protobuf unavailable, or the shim is "
            "not on the JVM's launch PYTHONPATH (pre-init worker would crash)"
        )
    ensure_protobuf(spark)  # ship the shim zip to the data workers
    import duckdb

    got = run_tws_running_totals(spark, SF_DIR)
    con = duckdb.connect()
    import os

    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet('%s')"
        % os.path.join(SF_DIR, "events.parquet")
    )
    try:
        errs = compare_frames(got.toPandas(), con.execute(tws_running_totals_sql()).df())
        assert not errs, errs
    finally:
        con.close()


def test_sql_registered_udf_counts_vowels(spark):
    """u07: the registered pandas UDF must be callable from raw SQL text
    and agree with a pure-SQL vowel count, including NULL/empty text."""
    import pandas as pd

    from spj_query_engine_spark.functions.vectorops import (
        register_vowel_udf,
        vowel_profile,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["Hello World", "xyz", ""],
            "lang": ["en", "en", "de"],
        }
    )
    docs = spark.createDataFrame(pdf)
    got = {r["lang"]: r for r in vowel_profile(spark, docs).collect()}
    assert got["en"]["n_vowels"] == 3  # e, o, o
    assert got["de"]["n_vowels"] == 0
    # and directly through spark.sql on a literal
    register_vowel_udf(spark)
    assert spark.sql("SELECT vowel_count('aeiou xyz') v").first()["v"] == 5


def test_format_sniff_flags_planted_png(spark):
    """m09: exactly the planted rows flag as declared-text/sniffed-png;
    real magic numbers (JPEG header) sniff to their type."""
    import pandas as pd

    from spj_query_engine_spark.operators import multimodal

    pdf = pd.DataFrame({"doc_id": [1, 2, 9, 18], "text": ["aa", "bb", "cc", "dd"]})
    mm = multimodal.attach_payload(spark.createDataFrame(pdf))
    got = {r["doc_id"]: r for r in multimodal.format_sniff_audit(mm).collect()}
    assert set(got) == {9, 18}  # SNIFF_MOD = 9
    assert got[9]["sniffed"] == "image/png" and got[9]["declared"] == "text/utf-8"


def test_decode_features_wide_flattens_and_matches_oracle(spark, mm):
    """m01's gate shape: feat_k columns equal the array components exactly,
    and the wide oracle twin agrees (the driver's canonicalizer cannot sort
    array cells, so the registered entry must be all-scalar)."""
    import duckdb as _duck

    from tests.conftest import assert_same_result

    arr = {r["doc_id"]: r for r in multimodal.decode_features(mm).collect()}
    wide = {r["doc_id"]: r for r in multimodal.decode_features_wide(mm).collect()}
    for did, row in wide.items():
        assert [row[f"feat_{k}"] for k in range(multimodal.FEAT_DIM)] == list(
            arr[did]["feat"]
        )
        assert row["n_bytes"] == arr[did]["n_bytes"]
    con = _duck.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": [1, 2], "text": ["abcdefgh", "spark engine"]}),
    )
    assert_same_result(wide and multimodal.decode_features_wide(mm), con,
                       multimodal.decode_features_wide_sql())
    con.close()


def test_normalize_embeddings_long_posexplodes(spark):
    """u01's gate shape: every (pos, val) pair of every unit vector, as
    scalar rows, matching both the array form and the long oracle twin."""
    import duckdb as _duck

    from spj_query_engine_spark.functions.vectorops import (
        normalize_embeddings,
        normalize_embeddings_long,
        normalize_embeddings_long_sql,
    )
    from tests.conftest import assert_same_result

    pdf = pd.DataFrame(
        {"vec_id": [0, 1, 2], "embedding": [[3.0, 4.0], [0.0, 0.0], [1.0, 0.0]]}
    )
    emb = spark.createDataFrame(pdf).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    rows = normalize_embeddings_long(emb).collect()
    got = {(r["vec_id"], r["pos"]): r["val"] for r in rows}
    assert got[(0, 0)] == 0.6 and got[(0, 1)] == 0.8
    assert got[(1, 0)] == 0.0  # zero vector passes through unscaled
    assert got[(2, 0)] == 1.0
    arrs = {r["vec_id"]: list(r["unit_vec"]) for r in normalize_embeddings(emb).collect()}
    for (vid, pos), val in got.items():
        assert arrs[vid][pos] == val
    con = _duck.connect()
    con.register("embeddings", pdf)
    assert_same_result(normalize_embeddings_long(emb), con,
                       normalize_embeddings_long_sql())
    con.close()


def test_cdc_chunks_boundaries_move_with_content(spark):
    """The CDC property d13's fixed blocks lack: PREPENDING one byte to a
    shared payload must leave the shared suffix's chunk fingerprints
    intact (boundaries are content-defined), so the two docs still share
    chunks; and every doc's chunks must tile its byte length exactly.
    The oracle twin agrees on the whole chunk table."""
    import duckdb as _duck

    # varied words → diverse 8-byte windows (a repeated short phrase has so
    # few distinct windows that no boundary may fire); d=16 densifies
    # boundaries on this small fixture, same machinery as the default 64
    base_text = " ".join(f"word{i} tok{i * 7 % 93}" for i in range(60))
    pdf = pd.DataFrame(
        {"doc_id": [1, 2], "text": [base_text, "X" + base_text]}
    )
    mm = multimodal.attach_payload(spark.createDataFrame(pdf))
    rows = multimodal.cdc_chunks(mm, d=16).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for did, chs in by_doc.items():
        chs.sort(key=lambda r: r["chunk_no"])
        n = len(base_text) + (1 if did == 2 else 0)
        assert sum(c["n_bytes"] for c in chs) == n
        assert chs[0]["start"] == 0
        for a, b in zip(chs, chs[1:]):
            assert b["start"] == a["start"] + a["n_bytes"]
    fps1 = {r["fp"] for r in by_doc[1]}
    fps2 = {r["fp"] for r in by_doc[2]}
    assert fps1 & fps2, "content-defined boundaries must preserve shared chunks"
    shared = fps1 & fps2
    for r in rows:
        if r["fp"] in shared:
            assert r["n_copies"] >= 2
    con = _duck.connect()
    con.register("documents", pdf)
    from tests.conftest import assert_same_result

    assert_same_result(
        multimodal.cdc_chunks(mm, d=16), con, multimodal.cdc_chunks_sql(d=16)
    )
    con.close()


def test_shot_boundaries_flags_planted_cut(spark):
    """A payload whose first half is low-intensity bytes and second half
    high-intensity must cut exactly once — at the frame where the jump
    crosses SHOT_DELTA_PPM; a uniform payload must never cut.  Oracle
    twin agrees."""
    import duckdb as _duck

    from tests.conftest import assert_same_result

    flat = "a" * 256
    jump = ("!" * 128) + ("z" * 128)  # 0x21 → 0x7a: a huge intensity step
    pdf = pd.DataFrame({"doc_id": [1, 2], "text": [flat, jump]})
    mm = multimodal.attach_payload(spark.createDataFrame(pdf))
    rows = multimodal.shot_boundaries(mm).collect()
    cuts = {(r["doc_id"], r["frame_no"]) for r in rows if r["is_cut"] == 1}
    assert all(d != 1 for d, _ in cuts), "uniform payload must not cut"
    # the jump doc cuts exactly at the half boundary frame (frame 8 of 16)
    assert (2, multimodal.SHOT_FRAMES // 2) in cuts
    assert len([c for c in cuts if c[0] == 2]) == 1
    con = _duck.connect()
    con.register("documents", pdf)
    assert_same_result(
        multimodal.shot_boundaries(mm), con, multimodal.shot_boundaries_sql()
    )
    con.close()


def test_active_segments_islands(spark):
    """A payload of loud/quiet/loud byte runs must produce exactly two
    active segments with correct window spans; a uniform payload has no
    above-average window and yields zero segments.  Oracle agrees."""
    import duckdb as _duck

    from tests.conftest import assert_same_result

    loud, quiet = "z", " "  # 0x7a vs 0x20 → strong energy contrast
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": [loud * 64 + quiet * 64 + loud * 64, "m" * 96],
        }
    )
    mm = multimodal.attach_payload(spark.createDataFrame(pdf))
    rows = multimodal.active_segments(mm).collect()
    segs1 = sorted(
        (r for r in rows if r["doc_id"] == 1), key=lambda r: r["seg_no"]
    )
    assert len(segs1) == 2, segs1  # loud head and loud tail
    assert segs1[0]["start_win"] == 0
    assert all(r["doc_id"] != 2 for r in rows)  # uniform → nothing above avg
    con = _duck.connect()
    con.register("documents", pdf)
    assert_same_result(
        multimodal.active_segments(mm), con, multimodal.active_segments_sql()
    )
    con.close()


def test_detstream_matches_batch_rollup(spark):
    """The streaming Python source (u09) delivered across micro-batches
    converges to exactly the batch table's rollup (u05 anatomy), and the
    micro-batch boundary really exercised >1 batch."""
    import duckdb as _duck

    from spj_query_engine_spark.sources import pydatasource
    from tests.conftest import assert_same_result

    got = pydatasource.detstream_rollup(spark, n=3000, batch=700)
    con = _duck.connect()
    assert_same_result(got, con, pydatasource.detstream_rollup_sql(n=3000))
    con.close()
    # ceil(3000/700) = 5 read() calls: the offset walk is real
    reader = pydatasource.DetStreamReader({"n": 3000, "batch": 700})
    off = reader.initialOffset()
    steps = 0
    while off["pos"] < 3000:
        rows, off = reader.read(off)
        steps += 1
    assert steps == 5
    # offset-range replay returns the identical slice (exactly-once restart)
    replay = list(reader.readBetweenOffsets({"pos": 700}, {"pos": 1400}))
    fresh = reader._rows(700, 1400)
    assert replay == fresh


def test_pair_alignment_categories(spark):
    """Docs {1,2,3} and vectors {2,3,4}: one text-only, one
    embedding-only, two paired — shares over 4 id-slots.  Oracle twin
    agrees."""
    import duckdb as _duck

    from spj_query_engine_spark.operators import multimodal as mm
    from tests.conftest import assert_same_result

    docs = spark.createDataFrame(
        [(1, "a", "w"), (2, "b", "w"), (3, "c", "w")],
        "doc_id long, text string, source string",
    )
    emb = spark.createDataFrame(
        [(2, [1.0, 0.0], 0), (3, [0.0, 1.0], 0), (4, [1.0, 1.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    got = {r["category"]: r for r in mm.pair_alignment(docs, emb).collect()}
    assert got["paired"]["n_rows"] == 2
    assert got["text_only"]["n_rows"] == 1
    assert got["embedding_only"]["n_rows"] == 1
    assert got["paired"]["share_ppm"] == 2 * 1_000_000 // 4
    con = _duck.connect()
    con.register("documents", docs.toPandas())
    con.register("embeddings", emb.toPandas())
    assert_same_result(mm.pair_alignment(docs, emb), con, mm.pair_alignment_sql())
    con.close()


def test_apws_running_totals_equals_batch(spark):
    """The applyInPandasWithState fallback path of e32 must equal the batch
    rollup on finite replay — the same contract the TWS path carries where
    protobuf exists, so runtime API selection can never change the answer."""
    import os

    import duckdb

    from spj_query_engine_spark.streaming.stateful import (
        run_apws_running_totals,
        tws_running_totals_sql,
    )

    got = run_apws_running_totals(spark, SF_DIR)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet('%s')"
        % os.path.join(SF_DIR, "events.parquet")
    )
    try:
        errs = compare_frames(got.toPandas(), con.execute(tws_running_totals_sql()).df())
        assert not errs, errs
    finally:
        con.close()


def test_foreach_batch_sink_reconciles_to_batch(spark):
    """u10: the foreachBatch idempotent sink's reconciled state (max batch
    id per key) must equal the batch rollup on finite replay, and the
    scratch directories must be gone afterwards."""
    import glob
    import os as _os

    import duckdb

    from spj_query_engine_spark.streaming.ingest import foreach_batch_totals
    from spj_query_engine_spark.streaming.stateful import tws_running_totals_sql

    got = foreach_batch_totals(spark, SF_DIR)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet('%s')"
        % _os.path.join(SF_DIR, "events.parquet")
    )
    try:
        errs = compare_frames(got.toPandas(), con.execute(tws_running_totals_sql()).df())
        assert not errs, errs
    finally:
        con.close()
    assert not glob.glob("/tmp/spj_u10_*"), "scratch dir leaked"


def test_e32_api_selection_is_visible(spark):
    """e32's runtime API selection must be observable: after the auto
    runner executes, SELECTED_API must match what tws_available() promised.
    This test runs in EVERY environment — where protobuf is absent it
    proves the fallback actually took the apws path (not a swallowed TWS
    error), and the day protobuf appears it fails unless the TWS branch
    really ran, so the branch cannot rot as dead code silently."""
    from spj_query_engine_spark.streaming import stateful

    expected = "tws" if stateful.tws_runnable(spark) else "apws"
    got = stateful.run_running_totals_auto(spark, SF_DIR)
    assert got.count() > 0
    assert stateful.SELECTED_API == expected, (
        f"auto runner took {stateful.SELECTED_API!r}, "
        f"but tws_runnable()={stateful.tws_runnable(spark)}"
    )


def test_resolve_stream_partitions(spark):
    from spj_query_engine_spark.streaming import ingest

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # 2 MB events at sf0.1-like size -> floor of 4; conf override wins;
        # value restored after the context manager exits
        n = ingest.resolve_stream_partitions(spark, "/root/testdata/sf0.01")
        assert 4 <= n <= int(prev)
        spark.conf.set("spj.stream.state.partitions", "7")
        assert ingest.resolve_stream_partitions(spark, "/root/testdata/sf0.01") == 7
        spark.conf.unset("spj.stream.state.partitions")
        # stream_session (r09): the resolved count lands on an ISOLATED
        # clone; the caller's conf is untouched by construction
        sub = ingest.stream_session(spark, "/root/testdata/sf0.01")
        assert int(sub.conf.get("spark.sql.shuffle.partitions")) == n
        assert sub is not spark
        assert spark.conf.get("spark.sql.shuffle.partitions") == prev
        # missing file -> clamp floor, never crash
        assert ingest.resolve_stream_partitions(spark, "/nonexistent") == 4
        # directory-layout table (Spark-written corpus): size must be the
        # part-file SUM, not the directory inode (~4 KB -> false floor)
        import os
        import tempfile

        with tempfile.TemporaryDirectory() as tmp:
            tdir = os.path.join(tmp, "events.parquet")
            os.makedirs(tdir)
            with open(os.path.join(tdir, "part-00000.parquet"), "wb") as f:
                f.write(b"\0" * (5 << 20))
            with open(os.path.join(tdir, "part-00001.parquet"), "wb") as f:
                f.write(b"\0" * (5 << 20))
            with open(os.path.join(tdir, "_SUCCESS"), "wb"):
                pass
            assert ingest._source_bytes(tdir) == 10 << 20
            # 10 MiB / 4 MiB target -> ceil 3, clamped up to the floor of 4
            assert ingest.resolve_stream_partitions(spark, tmp) == 4
            # scale the parts up to prove the derivation actually grows
            # (session ceiling is 4 in tests — lift it for this check)
            with open(os.path.join(tdir, "part-00002.parquet"), "wb") as f:
                f.write(b"\0" * (22 << 20))
            spark.conf.set("spark.sql.shuffle.partitions", "32")
            assert ingest.resolve_stream_partitions(spark, tmp) == 8
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_stream_session_cached_per_partition_count(spark):
    """r10: stream sub-sessions are cached per (application, resolved
    partition count) — the r09 per-query clone_session cost landed on
    every streaming entry.  The cache must (a) return the SAME sub-session
    for the same resolved count, (b) give a different count its own
    isolated sub-session, (c) re-sync spj.* overrides from the parent on
    cache hits (tests toggle them between runs), and (d) never touch the
    caller's conf."""
    from spj_query_engine_spark.streaming import ingest

    sf = "/root/testdata/sf0.01"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")

    sub1 = ingest.stream_session(spark, sf)
    sub2 = ingest.stream_session(spark, sf)
    assert sub1 is sub2
    assert sub1 is not spark
    # the stream scope checkpoints through the FileSystem-based manager
    # (no readlink forks); the caller's session keeps Spark's default
    manager_key = "spark.sql.streaming.checkpointFileManagerClass"
    assert sub1.conf.get(manager_key) == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
    assert spark.conf.get(manager_key, None) is None

    spark.conf.set("spj.stream.state.partitions", "7")
    try:
        sub7 = ingest.stream_session(spark, sf)
        assert sub7 is not sub1
        assert int(sub7.conf.get("spark.sql.shuffle.partitions")) == 7
        # cache hit re-syncs spj.* keys set on the parent…
        spark.conf.set("spj.stream.sink", "parquet")
        assert (
            ingest.stream_session(spark, sf).conf.get("spj.stream.sink")
            == "parquet"
        )
        # …and clears ones unset on the parent
        spark.conf.unset("spj.stream.sink")
        assert (
            ingest.stream_session(spark, sf).conf.get("spj.stream.sink", None)
            is None
        )
    finally:
        spark.conf.unset("spj.stream.state.partitions")
    # caller's conf untouched throughout
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_parts


def test_stream_session_tiny_needs_small_source(spark, tmp_path):
    """AQE goes off on a stream session only for a provably tiny replay.
    A ~100 MB source at 64 shuffle partitions derives 25 state partitions
    (below the session's 64) but is past the 16 MiB byte cap, so AQE must
    stay on; the 2 MB sf0.01 events file stays tiny."""
    from spj_query_engine_spark.streaming import ingest

    with open(tmp_path / "events.parquet", "wb") as f:
        f.truncate(100 << 20)  # sparse: size without data blocks
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try:
        big = ingest.stream_session(spark, str(tmp_path))
        assert big.conf.get("spark.sql.shuffle.partitions") == "25"
        assert big.conf.get("spark.sql.adaptive.enabled") == "true"
        small = ingest.stream_session(spark, SF_DIR_MID)
        assert small.conf.get("spark.sql.shuffle.partitions") == "4"
        assert small.conf.get("spark.sql.adaptive.enabled") == "false"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _scalar_session_fold(ts_ms, values, gap_ms, carry):
    """Per-event scalar gap loop for one user: the reference the bucket
    fold is checked against."""
    sno, start, end, n, micros = carry
    closed = []
    for ts, val in zip(ts_ms, values):
        ts = int(ts)
        if start is None or ts - end > gap_ms:
            if start is not None:
                closed.append((sno, start, end, n, micros))
            sno += 1
            start, end, n, micros = ts, ts, 0, 0
        end = ts
        n += 1
        micros += int(round(float(val) * 1_000_000))
    return closed, (sno, start, end, n, micros)


def _session_frame(users, ts_ms, values, **extra):
    import numpy as np
    import pandas as pd

    return pd.DataFrame(
        {
            "user_id": np.asarray(users, dtype="int64"),
            "ts": pd.to_datetime(np.asarray(ts_ms, dtype="int64"), unit="ms"),
            "value": values,
            **extra,
        }
    )


def _run_session_fold(rows, gap_ms, tails, seed):
    from spj_query_engine_spark.streaming.stateful import _fold_sessions_multi

    # the fold sorts its input itself: feed it shuffled rows
    shuffled = rows.sample(frac=1, random_state=seed)
    closed, new_tails = _fold_sessions_multi(shuffled, gap_ms, tails)
    return (
        list(zip(*(a.tolist() for a in closed))),
        list(zip(*(a.tolist() for a in new_tails))),
    )


def test_fold_sessions_matches_scalar_loop():
    """For one user, the bucket fold must be bit-identical to the per-event
    scalar gap loop (including carry merge, carry close, and the
    round-half-even micros), across random batches fed in shuffled row
    order and random carries; an empty batch passes the carry through."""
    import numpy as np

    gap_ms = 1800_000
    rng = np.random.default_rng(7)
    for trial in range(60):
        m = int(rng.integers(1, 40))
        ts = np.sort(rng.integers(0, 50_000_000, size=m)).astype("int64")
        vals = np.round(rng.uniform(-5, 5, size=m), 6)
        if trial % 3 == 0:
            carry = (0, None, None, 0, 0)
            tails = ((),) * 6
        else:
            c_end = int(rng.integers(0, 10_000_000))
            carry = (int(rng.integers(1, 5)), c_end - 1000, c_end, 3, 12345)
            tails = tuple([v] for v in (5, *carry))
        exp_closed, exp_tail = _scalar_session_fold(ts, vals, gap_ms, carry)
        got_closed, got_tails = _run_session_fold(
            _session_frame([5] * m, ts, vals), gap_ms, tails, trial
        )
        assert got_closed == [(5, *c) for c in exp_closed]
        assert got_tails == [(5, *exp_tail)]
    # empty batch: carried tails pass through untouched
    empty = _session_frame([], [], np.empty(0))
    assert _run_session_fold(
        empty, gap_ms, ((5,), (2,), (5,), (9,), (1,), (7,)), 0
    ) == ([], [(5, 2, 5, 9, 1, 7)])


def test_fold_sessions_multi_matches_per_user():
    """The bucket fold must equal the per-event scalar gap loop run
    independently for every user: same closed sessions (carry-closed
    included), same new tails (absent users' carried tails passed through
    untouched), across random multi-user batches fed in shuffled row order
    and random carried-tail sets."""
    import numpy as np
    import pandas as pd

    gap_ms = 1800_000
    rng = np.random.default_rng(23)
    for trial in range(40):
        n_users = int(rng.integers(1, 8))
        users = rng.choice(np.arange(100, 100 + 12), size=n_users, replace=False)
        frames = []
        for uid in users:
            m = int(rng.integers(1, 25))
            frames.append(
                _session_frame(
                    np.full(m, uid),
                    np.sort(rng.integers(0, 50_000_000, size=m)),
                    np.round(rng.uniform(-5, 5, size=m), 6),
                    event_id=rng.integers(0, 10_000, size=m).astype("int64"),
                )
            )
        rows = pd.concat(frames, ignore_index=True).sort_values(
            ["user_id", "ts", "event_id"], kind="mergesort"
        )
        # carried tails: a subset of the batch users plus one absent user
        tail_users = sorted(
            set(rng.choice(users, size=int(rng.integers(0, n_users + 1)),
                           replace=False).tolist()) | {99}
        )
        tails = {
            u: (int(rng.integers(1, 5)), int(rng.integers(0, 10_000_000)) - 1000,
                int(rng.integers(0, 10_000_000)), 3, 12345)
            for u in tail_users
        }
        for u in tails:
            sno, s, e, n, mic = tails[u]
            tails[u] = (sno, min(s, e - 1), e, n, mic)
        t_arr = tuple(
            [  # users, snos, starts, ends, ns, micros — user-sorted
                [u for u in tail_users],
                [tails[u][0] for u in tail_users],
                [tails[u][1] for u in tail_users],
                [tails[u][2] for u in tail_users],
                [tails[u][3] for u in tail_users],
                [tails[u][4] for u in tail_users],
            ]
        )
        got_closed, got_tails = _run_session_fold(rows, gap_ms, t_arr, trial)
        exp_closed, exp_tails = [], []
        for u in sorted(set(users.tolist()) | set(tail_users)):
            sub = rows[rows["user_id"] == u]
            carry = tails.get(u, (0, None, None, 0, 0))
            if len(sub) == 0:
                exp_tails.append((u, *carry))
                continue
            ts_ms = sub["ts"].to_numpy().astype("datetime64[ms]").astype("int64")
            c, tail = _scalar_session_fold(ts_ms, sub["value"], gap_ms, carry)
            exp_closed.extend((u, *t) for t in c)
            exp_tails.append((u, *tail))
        assert sorted(got_closed) == sorted(exp_closed)
        assert sorted(got_tails) == sorted(exp_tails)


def test_asof_fold_matches_scalar_loop():
    """e10's vectorized LOCF carry must be bit-identical to the per-row
    ``itertuples`` fold it replaced — same emitted rows (including the
    portable floor rounding of the carried price), same new state — across
    random tagged batches, with and without an existing state carry, with
    order-less event prefixes dropped exactly as before."""
    import math

    import numpy as np
    import pandas as pd

    from spj_query_engine_spark.streaming.stateful import _asof_fold

    def scalar(rows, user_id, carry):
        okey, odate, oprice = carry
        out = []
        for r in rows.itertuples(index=False):
            if r.is_event == 0:
                okey, odate, oprice = (
                    int(r.o_orderkey), int(r.ts_ms), float(r.o_totalprice)
                )
            elif okey is not None:
                out.append(
                    (int(r.event_id), user_id, int(r.ts_ms), okey, odate,
                     math.floor(oprice * 100 + 0.5) / 100)
                )
        return out, (okey, odate, oprice)

    rng = np.random.default_rng(11)
    for trial in range(60):
        m = int(rng.integers(1, 50))
        is_event = rng.integers(0, 2, size=m)
        if trial % 5 == 0:
            is_event[:] = 1  # event-only batch (no order ever)
        ts = rng.integers(0, 10_000_000, size=m).astype("int64")
        rows = pd.DataFrame(
            {
                "ts_ms": ts,
                "is_event": is_event,
                "event_id": np.where(is_event == 1, rng.integers(1, 10_000, size=m), np.nan),
                "o_orderkey": np.where(is_event == 0, rng.integers(1, 10_000, size=m), np.nan),
                "o_totalprice": np.where(
                    is_event == 0, np.round(rng.uniform(1, 9999, size=m), 2), np.nan
                ),
            }
        ).sort_values(
            ["ts_ms", "is_event", "o_orderkey"], kind="mergesort", na_position="first"
        )
        if trial % 3 == 0:
            carry = (None, None, None)
        else:
            carry = (int(rng.integers(1, 100)), int(rng.integers(0, 1000)),
                     float(np.round(rng.uniform(1, 9999), 2)))
        exp_rows, exp_carry = scalar(rows, 42, carry)
        got, got_carry = _asof_fold(rows, 42, carry)
        assert got_carry == exp_carry
        assert [tuple(r) for r in got.itertuples(index=False)] == exp_rows
    # empty batch: carry passes through untouched, empty frame out
    empty = rows.iloc[0:0]
    got, got_carry = _asof_fold(empty, 42, (5, 6, 7.25))
    assert got_carry == (5, 6, 7.25) and len(got) == 0


def test_asof_fold_multi_matches_per_user():
    """The bucket-wide LOCF fold must equal applying the single-user fold
    independently per user: same emitted rows, same post-batch carries
    (absent users' state carries passed through), across random multi-user
    tagged batches and random carry sets."""
    import numpy as np
    import pandas as pd

    from spj_query_engine_spark.streaming.stateful import (
        _asof_fold,
        _asof_fold_multi,
    )

    rng = np.random.default_rng(31)
    for trial in range(40):
        n_users = int(rng.integers(1, 8))
        users = rng.choice(np.arange(200, 212), size=n_users, replace=False)
        frames = []
        for uid in users:
            m = int(rng.integers(1, 30))
            is_event = rng.integers(0, 2, size=m)
            if trial % 5 == 0:
                is_event[:] = 1
            frames.append(
                pd.DataFrame(
                    {
                        "user_id": np.full(m, uid, dtype="int64"),
                        "ts_ms": rng.integers(0, 10_000_000, size=m).astype("int64"),
                        "is_event": is_event,
                        "event_id": np.where(
                            is_event == 1, rng.integers(1, 10_000, size=m), np.nan
                        ),
                        "o_orderkey": np.where(
                            is_event == 0, rng.integers(1, 10_000, size=m), np.nan
                        ),
                        "o_totalprice": np.where(
                            is_event == 0,
                            np.round(rng.uniform(1, 9999, size=m), 2),
                            np.nan,
                        ),
                    }
                )
            )
        rows = pd.concat(frames, ignore_index=True).sort_values(
            ["user_id", "ts_ms", "is_event", "o_orderkey"],
            kind="mergesort",
            na_position="first",
        )
        tail_users = sorted(
            set(rng.choice(users, size=int(rng.integers(0, n_users + 1)),
                           replace=False).tolist()) | {199}
        )
        tails = {
            u: (int(rng.integers(1, 100)), int(rng.integers(0, 1000)),
                float(np.round(rng.uniform(1, 9999), 2)))
            for u in tail_users
        }
        t_arr = (
            [u for u in tail_users],
            [tails[u][0] for u in tail_users],
            [tails[u][1] for u in tail_users],
            [tails[u][2] for u in tail_users],
        )
        got, nt = _asof_fold_multi(rows, t_arr)
        got_rows = sorted(tuple(r) for r in got.itertuples(index=False))
        got_tails = sorted(zip(*(a.tolist() for a in nt)))
        exp_rows, exp_tails = [], []
        for u in sorted(set(users.tolist()) | set(tail_users)):
            sub = rows[rows["user_id"] == u].sort_values(
                ["ts_ms", "is_event", "o_orderkey"],
                kind="mergesort", na_position="first",
            )
            carry = tails.get(u, (None, None, None))
            out, carry = _asof_fold(sub, int(u), carry)
            exp_rows.extend(tuple(r) for r in out.itertuples(index=False))
            if carry[0] is not None:
                exp_tails.append((u, carry[0], carry[1], carry[2]))
        assert got_rows == sorted(exp_rows)
        assert got_tails == sorted(exp_tails)


def test_session_ttl_append_contract(spark):
    """TTL sessionize: emitted set == batch sessionization minus each
    user's trailing session unless the final watermark strictly passed its
    close (timers fired in the no-data batch). Every emitted row is final:
    no (user, session_no) appears twice in the append output."""
    import duckdb as _duck

    from spj_query_engine_spark.operators.temporal import SESSION_GAP_MIN
    from spj_query_engine_spark.streaming.stateful import (
        TTL_WATERMARK_MIN,
        run_stateful_sessionize_ttl,
        sessionize_ttl_sql,
    )

    sf = "/root/testdata/sf0.001"
    out = run_stateful_sessionize_ttl(spark, sf).toPandas()
    assert not out.duplicated(["user_id", "session_no"]).any()
    con = _duck.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'"
    )
    oracle = con.execute(sessionize_ttl_sql()).df()
    con.close()
    sp = out.sort_values(["user_id", "session_no"]).reset_index(drop=True)
    od = oracle.sort_values(["user_id", "session_no"]).reset_index(drop=True)
    assert len(sp) == len(od) > 0
    for col in ("user_id", "session_no", "session_start_ms", "session_end_ms", "n_events"):
        assert sp[col].astype("int64").equals(od[col].astype("int64")), col
    assert (sp["sum_value"] - od["sum_value"]).abs().max() < 1e-9
    # a session can only be held back within the watermark horizon of max(ts)
    gap_ms = SESSION_GAP_MIN * 60 * 1000
    wm_ms = TTL_WATERMARK_MIN * 60 * 1000
    import pyarrow.parquet as pq

    max_ts = pq.read_table(f"{sf}/events.parquet", columns=["ts"])["ts"].to_pandas().max()
    max_ms = int(max_ts.value // 1_000_000)
    held = set(map(tuple, od.groupby("user_id")["session_no"].max().reset_index().values))
    emitted_last = sp.groupby("user_id")["session_no"].max()
    for uid, last_no in emitted_last.items():
        row = sp[(sp.user_id == uid) & (sp.session_no == last_no)].iloc[0]
        # emitted trailing sessions must have closed strictly before the watermark
        if (uid, last_no) in held and int(row.session_end_ms) + gap_ms >= max_ms - wm_ms:
            raise AssertionError((uid, last_no, int(row.session_end_ms)))
