"""Watermark / append-mode streaming semantics (beyond the
deterministic complete-mode query the driver checks)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest


def test_streaming_dedup_within_watermark(spark, sf_dir, tmp_path):
    """Streaming exact-dedup (the ingest-side analog of d1): batch 2
    replays half of batch 1's events (same event_id, same ts — an
    at-least-once source re-delivering). dropDuplicatesWithinWatermark
    keys state by event_id and drops every replay that arrives inside
    the watermark, so the sink sees each event exactly once; state is
    bounded by the watermark horizon, not the stream length."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    out_name = "dedup_test_out"

    from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table

    events = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "event_type", "value")
        .filter(F.col("ts") < "2024-01-03")
    )
    n_events = events.count()
    replayed = events.filter(F.col("event_id") % 2 == 0)
    events.write.parquet(src + "/b1")
    replayed.write.parquet(src + "/b2")  # duplicates, re-delivered later

    stream = (
        spark.readStream.schema("event_id bigint, ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    deduped = stream.withWatermark("ts", "10 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName(out_name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out = spark.table(out_name)
    assert out.count() == n_events, "replayed duplicates must be dropped"
    assert out.select("event_id").distinct().count() == n_events


def test_watermark_append_flushes_closed_windows(spark, sf_dir, tmp_path):
    """Two-batch file stream: batch 1 = early events, batch 2 = events
    a day later. With a 1-hour watermark, processing batch 2 advances
    the watermark past batch-1 windows, so append mode emits them."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    out_name = "wm_test_out"

    from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table

    events = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    early = events.filter(F.col("ts") < "2024-01-05")
    late = events.filter((F.col("ts") >= "2024-01-10") & (F.col("ts") < "2024-01-12"))
    early.write.parquet(src + "/b1")
    late.write.parquet(src + "/b2")

    stream = (
        spark.readStream.schema("event_id bigint, ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(out_name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    emitted = spark.table(out_name).count()
    # every batch-1 day-window is strictly before the batch-2 watermark,
    # so at least those windows must have been emitted
    expected_min = early.select(F.date_trunc("day", "ts")).distinct().count()
    assert emitted >= expected_min, f"append mode emitted {emitted} < {expected_min} closed windows"

def test_stream_static_broadcast_enrichment(spark, sf_dir, tmp_path):
    """Stream-static join: an event stream enriched against a static
    dimension (user tier by user_id % 3). The static side is
    broadcast per micro-batch — no stream-side shuffle, no state — the
    standard 100-TB enrichment shape (stateful stream-stream join is
    only needed when BOTH sides move)."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    out_name = "enrich_test_out"

    from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table

    events = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "value")
        .filter(F.col("ts") < "2024-01-03")
    )
    n_events = events.count()
    events.write.parquet(src + "/b1")

    tiers = spark.createDataFrame(
        [(0, "bronze"), (1, "silver"), (2, "gold")], ["tier_key", "tier"]
    )
    stream = (
        spark.readStream.schema("event_id bigint, ts timestamp, user_id bigint, value double")
        .parquet(src + "/*")
        .withColumn("tier_key", F.col("user_id") % 3)
    )
    enriched = stream.join(F.broadcast(tiers), "tier_key").drop("tier_key")
    q = (
        enriched.writeStream.format("memory")
        .queryName(out_name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out = spark.table(out_name)
    assert out.count() == n_events, "every event must be enriched (inner join, total dim)"
    expected = events.withColumn("tier_key", F.col("user_id") % 3).join(
        tiers, "tier_key"
    )
    assert (
        out.groupBy("tier").count().exceptAll(expected.groupBy("tier").count()).count() == 0
    )


def test_session_window_gap_boundary(spark):
    """Pin the session merge rule the r5 oracle encodes: an event at
    EXACTLY `gap` after the previous one still extends the session
    (Spark merges touching windows — the r5 oracle's `<=`), while one
    microsecond more starts a new one."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    gap = dt.timedelta(minutes=30)
    us = dt.timedelta(microseconds=1)
    rows = [
        (1, t0), (1, t0 + gap),            # exactly 30 min apart → merged
        (2, t0), (2, t0 + gap + us),       # 30:00.000001 → 2 sessions
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = (
        df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .count()
        .groupBy("user_id")
        .count()
        .withColumnRenamed("count", "n_sessions")
    )
    assert {(r.user_id, r.n_sessions) for r in got.collect()} == {(1, 1), (2, 2)}


def test_cdc_txn_encoding_extreme_timestamps(spark):
    """Round-2's CDC txn id was epoch-arithmetic and overflowed int64
    under ANSI the moment data left a ±29-year window. The row_number
    encoding must survive ANY representable timestamp and still order
    latest-wins correctly — including year-1000 and year-9999 events
    and exact-tie timestamps broken by event_id."""
    import datetime

    import pyspark.sql.functions as F

    from orc_release_hdp_2_6_5_99_1_tag_spark.streaming.cdc import _as_acid_events

    rows = [
        # user 1: ancient + far-future; far-future must win
        (1, datetime.datetime(1000, 1, 1, 0, 0, 0), 1, "click", 1.0, "{}"),
        (2, datetime.datetime(9999, 12, 31, 23, 59, 59, 999999), 1, "purchase", 2.0, "{}"),
        # user 2: exact-tie ts; higher event_id must win
        (10, datetime.datetime(2024, 6, 1, 12, 0, 0), 2, "view", 3.0, "{}"),
        (11, datetime.datetime(2024, 6, 1, 12, 0, 0), 2, "signup", 4.0, "{}"),
        # user 3: single delete tombstone
        (20, datetime.datetime(1969, 7, 20, 20, 17, 40), 3, "error", 5.0, "{}"),
    ]
    batch = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    )
    events = _as_acid_events(batch, batch_id=0)  # must not raise (no overflow)
    got = {
        r["rowId"]: (r["operation"], r["currentTransaction"], r["row"]["last_type"])
        for r in events.collect()
        if r["currentTransaction"]
        == max(
            x["currentTransaction"]
            for x in events.collect()
            if x["rowId"] == r["rowId"]
        )
    }
    assert got[1][2] == "purchase", "far-future event must win latest-wins"
    assert got[2][2] == "signup", "exact-tie must break to higher event_id"
    assert got[3][0] == 2, "tombstone operation preserved"  # OP_DELETE
    # second micro-batch strictly outranks the first for the same key
    later = _as_acid_events(batch, batch_id=1)
    assert (
        later.agg(F.min("currentTransaction")).collect()[0][0]
        > events.agg(F.max("currentTransaction")).collect()[0][0]
    )


def test_r7_interval_join_across_batch_boundaries(spark, sf_dir):
    """r7 against a genuinely multi-batch source: events time-sorted
    and split into 3 staggered files (maxFilesPerTrigger=1 ⇒ 3+
    micro-batches), so clicks in a later batch must join purchases
    retained in state from earlier batches — the case that breaks
    naive state retention. The sink checksum must still equal the
    batch oracle."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.streaming.ingest import (
        R7_ORACLE,
        r7_stream_stream_join,
    )
    from tests.oracle_utils import compare_query, duckdb_con

    con = duckdb_con(sf_dir)
    try:
        compare_query(r7_stream_stream_join(spark, sf_dir, splits=3), con, R7_ORACLE)
    finally:
        con.close()


def test_r8_pipeline_multi_batch_redelivery(spark, sf_dir):
    """r8 against 3 time-ordered splits EACH delivered twice in
    consecutive batches (6 data batches + 2 sentinel batches): dedup
    state must absorb redelivery across batch boundaries and the
    watermark must finalize every window — result still equals the
    exactly-once batch oracle."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.streaming.ingest import (
        R8_ORACLE,
        r8_streaming_pipeline,
    )
    from tests.oracle_utils import compare_query, duckdb_con

    con = duckdb_con(sf_dir)
    try:
        compare_query(r8_streaming_pipeline(spark, sf_dir, splits=3), con, R8_ORACLE)
    finally:
        con.close()


def test_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path):
    """Commit-log recovery across RESTARTS: run an ingest to
    completion over half the source files, then add the rest and
    restart with the SAME checkpoint — the second run must process
    only the new files and the final sink must hold every event
    exactly once (file-source progress lives in the checkpoint's
    commit log — the role the reference's `_flush_length` side file
    plays for a long-open ORC delta, `OrcAcidUtils.java:34-71`)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    path = os.path.join(sf_dir, "events.parquet")
    t = pq.read_table(path)
    t = t.take(pc.sort_indices(t, sort_keys=[("ts", "ascending")]))
    n = t.num_rows
    quarters = [t.slice(i * n // 4, (i + 1) * n // 4 - i * n // 4) for i in range(4)]

    def stage(i):
        pq.write_table(quarters[i], os.path.join(src, f"part{i}.parquet"), version="2.6")

    def run():
        schema = spark.read.parquet(path).schema
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    stage(0); stage(1)
    run()
    first = spark.read.parquet(out).count()
    assert first == quarters[0].num_rows + quarters[1].num_rows
    # restart with the same checkpoint after new files appear
    stage(2); stage(3)
    run()
    got = spark.read.parquet(out)
    assert got.count() == n, "restart reprocessed or skipped files"
    assert got.select("event_id").distinct().count() == n, "duplicate events after recovery"


def test_sentinel_files_mirror_every_ts_generation(spark, tmp_path):
    """The pyarrow sentinel writer (round 7: replaced a createDataFrame
    route that cost 6-9s per ONE-ROW file) must keep producing files
    the one-reader-schema stream can consume for EVERY driver testdata
    generation: TIMESTAMP(NANOS) -> plain int64 epoch-nanos, raw
    integer epoch units -> int64 at the source unit, micros/NTZ ->
    timestamp[us] without timezone. Pinned per generation: physical
    arrow type, value placement days past the source max, and mtime
    ordering after the data files."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from orc_release_hdp_2_6_5_99_1_tag_spark.streaming.ingest import (
        _SENTINEL_DAYS_CACHE,
        _stage_sentinel,
    )

    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = list(range(10))

    def events_table(ts_arr):
        return pa.table(
            {
                "event_id": pa.array(rows, pa.int64()),
                "ts": ts_arr,
                "user_id": pa.array([r % 3 for r in rows], pa.int64()),
                "event_type": pa.array(["click"] * 10, pa.string()),
                "value": pa.array([1.0] * 10, pa.float64()),
                "props": pa.array(["{}"] * 10, pa.string()),
            }
        )

    dts = [base + datetime.timedelta(minutes=i) for i in rows]
    gens = {
        "nanos": (pa.array(dts, pa.timestamp("ns")), pa.int64()),
        "int_micros": (
            pa.array(
                [int(d.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e6) for d in dts],
                pa.int64(),
            ),
            pa.int64(),
        ),
        "ntz_micros": (pa.array(dts, pa.timestamp("us")), pa.timestamp("us")),
    }
    for name, (ts_arr, want_type) in gens.items():
        sf = str(tmp_path / f"sf_{name}")
        os.makedirs(sf, exist_ok=True)
        pq.write_table(events_table(ts_arr), os.path.join(sf, "events.parquet"))
        src = str(tmp_path / f"src_{name}")
        os.makedirs(src, exist_ok=True)
        os.symlink(
            os.path.join(sf, "events.parquet"), os.path.join(src, "events.parquet")
        )
        _SENTINEL_DAYS_CACHE.clear()
        _stage_sentinel(spark, sf, src)
        sents = sorted(f for f in os.listdir(src) if f.startswith("zz_sentinel"))
        assert sents == ["zz_sentinel_0.parquet", "zz_sentinel_1.parquet"], name
        for i, f in enumerate(sents):
            t = pq.read_table(os.path.join(src, f))
            assert t.num_rows == 1, name
            assert t.schema.field("ts").type == want_type, (
                f"{name}: sentinel ts type {t.schema.field('ts').type}"
            )
            v = t["ts"][0].as_py()
            if name == "nanos":
                day = datetime.datetime.fromtimestamp(
                    v / 1e9, datetime.timezone.utc
                ).date()
            elif name == "int_micros":
                day = datetime.datetime.fromtimestamp(
                    v / 1e6, datetime.timezone.utc
                ).date()
            else:
                day = v.date()
            gap = (day - base.date()).days
            assert gap == 2 + 2 * i, f"{name}: sentinel {i} sits {gap}d past max"
            # batch order: sentinels must sort after the data by mtime
            assert os.path.getmtime(os.path.join(src, f)) > os.path.getmtime(
                os.path.join(src, "events.parquet")
            ), name


def test_r11_cold_shape_stays_amortized(spark, sf_dir):
    """Pin the r11 cost fixes against regression: a cold run must plan
    at most 5 micro-batches (single-batch delivery per side + the
    engine's finalization batches — per-file delivery was 8) and pin
    its checkpoint to the stream-sized state-partition count, not the
    session's CPU-sized shuffle width."""
    import shutil

    from orc_release_hdp_2_6_5_99_1_tag_spark.streaming.ingest import (
        _R11_STATE_PARTITIONS,
        r11_stream_outer_join,
    )
    from orc_release_hdp_2_6_5_99_1_tag_spark.tables import scratch_dir

    base = os.path.join(scratch_dir(sf_dir), "stream")
    for d in ("r11_clicks_src", "r11_purch_src", "r11_outer", "r11_outer_ckpt"):
        shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    try:
        os.remove(os.path.join(base, "r11_outer._done"))
    except FileNotFoundError:
        pass
    r11_stream_outer_join(spark, sf_dir).collect()
    n_batches = len(os.listdir(os.path.join(base, "r11_outer_ckpt", "offsets")))
    assert n_batches <= 5, f"r11 cold run planned {n_batches} micro-batches"
    state_parts = len(
        [
            d
            for d in os.listdir(os.path.join(base, "r11_outer_ckpt", "state", "0"))
            if d.isdigit()
        ]
    )
    assert state_parts == _R11_STATE_PARTITIONS, (
        f"state partitions {state_parts} != pinned {_R11_STATE_PARTITIONS}"
    )


def test_unterminated_drain_raises_and_leaves_no_marker(spark, sf_dir, tmp_path, monkeypatch):
    """A drain whose awaitTermination times out (returns False instead
    of raising) must fail loudly: the query is stopped, the call raises,
    and a sink with a completion marker (r12) is left unmarked so the
    next call rebuilds it instead of serving a partial sink."""
    from pyspark.sql.streaming.query import StreamingQuery

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import SYNTH_BATCH, SYNTH_N
    from orc_release_hdp_2_6_5_99_1_tag_spark.streaming import ingest, stateful
    from orc_release_hdp_2_6_5_99_1_tag_spark.tables import marker_valid

    monkeypatch.setattr(ingest, "scratch_dir", lambda _sf: str(tmp_path))
    monkeypatch.setattr(StreamingQuery, "awaitTermination", lambda self, timeout=None: False)

    with pytest.raises(RuntimeError, match="did not terminate"):
        ingest.r12_python_stream_source(spark, sf_dir)
    marker = os.path.join(str(tmp_path), "stream", "pyds_source._fp")
    assert not marker_valid(marker, f"synthetic_events;n={SYNTH_N};batch={SYNTH_BATCH}")

    with pytest.raises(RuntimeError, match="did not terminate"):
        stateful.r3_stateful_running_totals(spark, sf_dir)
    assert not spark.streams.active
