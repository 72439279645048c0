"""Streaming ingest (SURVEY §2.11; reference R1-R3).

The reference's streaming story is a long-open ORC file with
intermediate footer flushes (`OrcConf.MAX_FILE_LENGTH`,
`ReaderImpl.extractFileTail:515`) and a `_flush_length` side file so
readers can see a consistent prefix of an open delta
(`OrcAcidUtils.java:34-71`), with transactions batched per minute
(`acid.md:20-24`).

Structured Streaming supersedes each piece with cleaner semantics:
micro-batch ORC sink files appear atomically per commit (R1), the
checkpoint/commit log replaces `_flush_length` (R2), and
`trigger(processingTime=...)` replaces txn-per-minute batching (R3).
Here triggers use `availableNow` so the driver-checkable queries are
deterministic and terminate; in production the same code runs with
`processingTime="1 minute"`.

Scale notes: the file-source streams scale by input-file partitioning
(maxFilesPerTrigger); windowed/session aggregation state is bounded by
a watermark, and the graded queries emit in APPEND mode to a file sink
— no complete-mode driver-held state anywhere. A sentinel event one
step past the data's horizon advances the watermark so every real
window is finalized and emitted before the availableNow run terminates
(the streaming twin of "close the books at end of day").
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from orc_release_hdp_2_6_5_99_1_tag_spark.tables import (
    _epoch_micros_expr,
    _epoch_units_per_second,
    _explicit_ddl,
    events_ts_parquet_type,
    marker_valid,
    scratch_dir,
    source_fingerprint,
    write_marker,
)

_EVENTS_NANOS_SCHEMA = (
    "event_id bigint, ts bigint, user_id bigint, event_type string,"
    " value double, props string"
)

_SENTINEL_TYPE = "__watermark_sentinel__"

# State partitions for the stateful streaming queries (checkpoint-
# pinned at each query's first run). Micro-batch fixed cost scales
# with partition count — a stateful operator commits its state stores
# per partition per batch (a stream-stream join commits FOUR per
# partition per side) — so this is sized to the stream, not to the
# CPU count — a deployment would raise it with stream
# key-cardinality/throughput. Round-7 measurement (r11, sf0.1):
# 32 → 8 partitions alone was 13.8s → 4.7s on the cold join.
_STREAM_STATE_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "8")
)
# back-compat alias (r11 landed the knob first)
_R11_STATE_PARTITIONS = _STREAM_STATE_PARTITIONS


@contextmanager
def _state_sized_shuffle(spark: SparkSession):
    """Scope `spark.sql.shuffle.partitions` to _STREAM_STATE_PARTITIONS
    around a stateful stream's start+await: the count is captured into
    the query's checkpoint at first run, so without this every stream
    inherits the CPU-sized batch width and pays 4x the state-store
    commits per micro-batch. Restored on exit; cold paths rmtree their
    checkpoints, so the pinned width never conflicts with a resume."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_STREAM_STATE_PARTITIONS))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


_STREAM_TIMEOUT_S = 570


def _await(q: StreamingQuery, timeout: int = _STREAM_TIMEOUT_S) -> None:
    """awaitTermination with a HARD failure on timeout. Round-3 review
    finding: `awaitTermination(t)` returns False (it does not raise)
    when the query is still running — writing the completion marker
    after an unchecked await would fingerprint-stamp a PARTIAL sink as
    done and serve it forever."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise RuntimeError(
            f"streaming query did not terminate within {timeout}s; "
            "sink left unmarked so the next call rebuilds it"
        )


def _not_sentinel(col: str):
    """Sentinel read-back filter that keeps NULL keys (a plain `!=`
    would drop NULL-keyed groups the oracles keep)."""
    c = F.col(col)
    return (c != _SENTINEL_TYPE) | c.isNull()


def _events_stream(
    spark: SparkSession,
    sf_dir: str,
    with_sentinel: bool = False,
    sub: str | None = None,
    copies: int = 1,
    splits: int = 1,
    only_type: str | None = None,
    single_batch: bool = False,
) -> DataFrame:
    """File-source stream over the events parquet, dtype-dispatched on
    the parquet footer exactly like the batch loader (`tables.py`):
    nanos files are read through an explicit long schema and converted;
    micros files reuse the batch-inferred schema (TIMESTAMP_NTZ → cast
    to session-tz timestamp); raw-integer files convert via the
    footer-stat unit inference. Every caller — including the dedup and
    pipeline variants — goes through THIS function, so the dispatch
    lives in exactly one place. All paths return ts TIMESTAMP, and the
    schema-contract test asserts stream min/max(ts) == batch min/max.

    The file source requires a directory, so the parquet file is staged
    as `copies` symlinks under scratch (testdata untouched; copies > 1
    models at-least-once redelivery). With `with_sentinel`, TWO one-row
    parquets whose ts sit two and four days past the real max are
    staged next to it, with staggered mtimes and `maxFilesPerTrigger=1`
    so the availableNow run processes [events…, sentinel-1, sentinel-2]
    as ordered micro-batches. Spark finalizes append-mode windows using
    the watermark computed from PRIOR batches, so sentinel-1's batch
    emits every window the real data closed, and sentinel-2's batch
    emits the horizon windows sentinel-1 unlocked — after which every
    real window has been emitted. Callers must NOT filter sentinel rows
    inside the streaming plan — Catalyst pushes deterministic filters
    below the EventTimeWatermark node, which would hide the sentinels
    from the watermark collector entirely. Sentinels carry a reserved
    event_type/user_id, so they aggregate into their own groups (whose
    windows never finalize) and are filtered at sink read-back via
    `_not_sentinel`.
    """
    import pyarrow as pa

    if sub is None and (splits > 1 or copies > 1 or only_type is not None):
        # the default dirs hold the plain single-file staging; slicing
        # or duplicating INTO them would silently double every other
        # caller's stream (each variant must name its own sub dir)
        raise ValueError(
            "multi-batch/filtered staging (splits/copies/only_type) requires an explicit sub="
        )
    sub = sub or ("events_src_wm" if with_sentinel else "events_src")
    src_dir = os.path.join(scratch_dir(sf_dir), "stream", sub)
    os.makedirs(src_dir, exist_ok=True)
    path = os.path.join(sf_dir, "events.parquet")
    if only_type is not None:
        # type-filtered SOURCE staging for per-entity streams (e.g. a
        # clicks topic and a purchases topic). The filter must happen at
        # the source, never inside the streaming plan: Catalyst pushes
        # deterministic filters below the EventTimeWatermark node, which
        # would hide the watermark sentinels from the collector and
        # stall outer-join/window finalization.
        _stage_filtered(sf_dir, src_dir, only_type)
    elif splits > 1:
        # genuinely multi-batch source: the events rows time-sorted and
        # sliced into `splits` physical files with staggered mtimes
        # (each slice staged `copies` times for redelivery modeling)
        _stage_splits(sf_dir, src_dir, splits, copies)
    else:
        for i in range(copies):
            suffix = "" if copies == 1 else f"_{chr(97 + i)}"
            link = os.path.join(src_dir, f"events{suffix}.parquet")
            if not os.path.exists(link):
                os.symlink(path, link)
    t = events_ts_parquet_type(path)
    nanos = pa.types.is_timestamp(t) and t.unit == "ns"
    if with_sentinel:
        _stage_sentinel(spark, sf_dir, src_dir)
    # single_batch: deliver data + sentinels in ONE micro-batch and let
    # the engine's no-data finalization batch (run by availableNow once
    # the watermark advances past the last batch's max event time) do
    # the state flush. Correct for STATEFUL JOINS, where emission
    # eligibility is purely watermark-vs-event-time: the experiment in
    # r11's docstring shows identical output to staged per-file batches
    # at half the micro-batch count. Append-mode WINDOW aggregations
    # keep the staged two-sentinel delivery (r2/r10), which is the
    # pattern their finalization was validated against.
    multi_batch = (with_sentinel and not single_batch) or copies > 1 or splits > 1
    if nanos:
        reader = spark.readStream.schema(_EVENTS_NANOS_SCHEMA)
        if multi_batch:
            reader = reader.option("maxFilesPerTrigger", "1")
        raw = reader.parquet(src_dir)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # reader schema from the parquet FOOTER (~1 ms, cached) instead of
    # `spark.read.parquet(path).schema` — the JVM inference costs
    # 150-180 ms PER STREAM CONSTRUCTION and the r* tier constructs
    # ~14 streams per cold pass (r13's tables.py change, extended to
    # the streaming reader in r14; same `_explicit_ddl` + fallback)
    ddl, _ = _explicit_ddl(path)
    schema = ddl if ddl else spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if multi_batch:
        reader = reader.option("maxFilesPerTrigger", "1")
    raw = reader.parquet(src_dir)
    # dispatch mirrors the previous Spark-inferred-schema branches:
    # timestamp[us] no-tz ⇒ Spark TIMESTAMP_NTZ ⇒ cast (identity under
    # the pinned UTC session tz); integer ⇒ footer-stat unit inference;
    # tz-adjusted timestamp ⇒ already session-tz TIMESTAMP, untouched
    if pa.types.is_timestamp(t) and t.tz is None:
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    elif pa.types.is_integer(t):
        raw = raw.withColumn("ts", F.timestamp_micros(_epoch_micros_expr(path)))
    return raw


def _stage_filtered(sf_dir: str, src_dir: str, only_type: str) -> None:
    """Stage a type-filtered copy of the events parquet (pyarrow
    filter, physical schema preserved byte-for-byte so the stream's
    footer-type dispatch stays valid) — models a per-entity topic."""
    _stage_filtered_topics(sf_dir, [(src_dir, only_type)])


def stage_shared_topics(spark: SparkSession, sf_dir: str) -> None:
    """Eagerly build the streaming-source staging that is SHARED
    across queries (the plain `events_src` topic and the
    `events_src_wm` topic with its two watermark sentinels plus the
    footer-derived sentinel-day computation). bench.py calls this
    before the timed r* loop so the one-time staging cost is its own
    `r0_topic_staging` line instead of landing on whichever r* query
    first finds the scratch cold — round-8's r5_session_windows read
    12.47s when its steady-state is ~4.9s for exactly this reason.
    Per-query staging (split topics, redelivery copies) is NOT built
    here: it is genuinely part of that query's cold cost and is not
    shared. Exception (r11 verdict #6): r11's two type-filtered topics
    ARE staged here — they are topic staging of exactly the shared
    kind (a one-time pass over the events table), and leaving them on
    r11's own line made its 16.0s bench entry read 2.4x its steady-
    state sink-build cost."""
    _events_stream(spark, sf_dir)                      # events_src
    _events_stream(spark, sf_dir, with_sentinel=True)  # events_src_wm + sentinels
    # r11's clicks/purchases topics: one pass over events, two
    # filtered writes, then the (cheap, marker-guarded) sentinels
    base = scratch_dir(sf_dir)
    _stage_filtered_topics(
        sf_dir,
        [
            (os.path.join(base, "stream", "r11_clicks_src"), "click"),
            (os.path.join(base, "stream", "r11_purch_src"), "purchase"),
        ],
    )
    for sub, typ in (("r11_clicks_src", "click"), ("r11_purch_src", "purchase")):
        _events_stream(
            spark, sf_dir, with_sentinel=True, sub=sub, only_type=typ,
            single_batch=True,
        )


def _stage_filtered_topics(sf_dir: str, topics: list[tuple[str, str]]) -> None:
    """Stage several type-filtered topics in ONE pass over the events
    parquet: the source table is read once and each (dir, type) pair
    gets its filtered slice — callers that need a clicks topic AND a
    purchases topic (r11) pay one table scan instead of one per topic.
    Markers are per-topic, so a partially-valid set only restages the
    missing topics."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    fp_base = source_fingerprint(sf_dir, "events")
    todo = []
    for src_dir, only_type in topics:
        marker = os.path.join(src_dir, "_filtered_done")
        fp = fp_base + f";only_type={only_type}"
        if not marker_valid(marker, fp):
            todo.append((src_dir, only_type, marker, fp))
    if not todo:
        return
    path = os.path.join(sf_dir, "events.parquet")
    t = pq.read_table(path)
    for src_dir, only_type, marker, fp in todo:
        os.makedirs(src_dir, exist_ok=True)
        filtered = t.filter(pc.equal(t["event_type"], only_type))
        dest = os.path.join(src_dir, "events_filtered.parquet")
        pq.write_table(filtered, dest, version="2.6")
        write_marker(marker, fp)


def _stage_splits(sf_dir: str, src_dir: str, splits: int, copies: int = 1) -> None:
    """Slice the events parquet into `splits` time-ordered files with
    staggered mtimes so the file source (maxFilesPerTrigger=1) delivers
    them as genuinely separate micro-batches — the case that breaks
    naive cross-batch state retention (interval-join state, dedup
    state) which the single-file staging cannot exercise. The slices
    preserve the source's physical schema byte-for-byte (pyarrow
    read → sort by ts → slice → write), so the stream's footer-type
    dispatch stays valid. With `copies` > 1 each slice is staged that
    many times in CONSECUTIVE batches, modeling redelivery that
    crosses a batch boundary."""
    import time

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    marker = os.path.join(src_dir, "_splits_done")
    fp = source_fingerprint(sf_dir, "events") + f";splits={splits};copies={copies}"
    if marker_valid(marker, fp):
        return
    path = os.path.join(sf_dir, "events.parquet")
    t = pq.read_table(path)
    t = t.take(pc.sort_indices(t, sort_keys=[("ts", "ascending")]))
    n = t.num_rows
    # anchor past any source-file mtime for deterministic batch order
    base = max(time.time(), os.path.getmtime(path))
    for i in range(splits):
        lo, hi = i * n // splits, (i + 1) * n // splits
        for c in range(copies):
            dest = os.path.join(src_dir, f"events_part{i}_{chr(97 + c)}.parquet")
            # version 2.6 keeps ns/us timestamp units unchanged
            pq.write_table(t.slice(lo, hi - lo), dest, version="2.6")
            seq = i * copies + c
            os.utime(dest, (base + seq, base + seq))
    write_marker(marker, fp)


_SENTINEL_DAYS_CACHE: dict[str, tuple[str, str]] = {}


def _footer_max_day(path: str):
    """date(max ts) read from the parquet FOOTER column statistics —
    no table scan. Returns None when stats are missing or the layout
    is unrecognized (caller falls back to a Spark agg). Date-level
    precision is all the sentinel needs (it sits 2/4 DAYS past max,
    against a 1-hour watermark delay), so unit/timezone rounding at
    the day boundary is immaterial."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from orc_release_hdp_2_6_5_99_1_tag_spark.tables import _epoch_units_per_second

    try:
        pf = pq.ParquetFile(path)
        idx = pf.schema_arrow.names.index("ts")
        md = pf.metadata
        mx = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max or st.max is None:
                return None
            mx = st.max if mx is None else max(mx, st.max)
        if mx is None:
            return None
        t = events_ts_parquet_type(path)
        if isinstance(mx, datetime.datetime):
            return mx.date()
        if isinstance(mx, int):
            if pa.types.is_timestamp(t):
                ups = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[t.unit]
            elif pa.types.is_integer(t):
                ups = _epoch_units_per_second(path)
            else:
                return None
            return datetime.datetime.fromtimestamp(
                mx // ups, datetime.timezone.utc
            ).date()
        return None
    except Exception:
        return None


def _sentinel_days(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """The two sentinel days (date(max ts) + 2 and + 4). Sourced from
    the parquet footer stats when present — the r7 profile showed the
    per-side Spark max(ts) scan dominating r11's cold run (28s of
    34s at sf0.1) — with a per-source-mtime cached Spark-agg fallback
    so even stat-less files pay at most ONE scan per session."""
    import datetime

    from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table

    path = os.path.join(sf_dir, "events.parquet")
    key = f"{path}:{os.path.getmtime(path)}"
    if key in _SENTINEL_DAYS_CACHE:
        return _SENTINEL_DAYS_CACHE[key]
    day = _footer_max_day(path)
    if day is not None:
        days = (
            str(day + datetime.timedelta(days=2)),
            str(day + datetime.timedelta(days=4)),
        )
    else:
        row = (
            load_table(spark, sf_dir, "events")
            .agg(
                F.date_add(F.max("ts").cast("date"), 2).alias("d1"),
                F.date_add(F.max("ts").cast("date"), 4).alias("d2"),
            )
            .collect()[0]
        )
        days = (str(row["d1"]), str(row["d2"]))
    _SENTINEL_DAYS_CACHE[key] = days
    return days


def _stage_sentinel(spark: SparkSession, sf_dir: str, src_dir: str) -> None:
    """Write the two one-row watermark-advancing sentinel files with
    staggered mtimes (keyed on the source fingerprint so they restage
    when testdata changes). The sentinel ts column mirrors the SOURCE
    file's physical layout — raw nanos long for the nanos generation,
    raw unit-faithful long for the integer generation, NTZ micros
    otherwise — so the stream's one reader schema fits every file.

    Written directly with pyarrow: the previous Spark route
    (createDataFrame of one Python row → coalesce(1) write) planned a
    32-partition pickled RDD and spun a Python worker per task — 6-9s
    PER one-row sentinel file, ~24s of r11's 34s cold run. The
    physical bytes are identical (int64 / timestamp[us] NTZ columns,
    snappy), only the writer changed."""
    import datetime
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from orc_release_hdp_2_6_5_99_1_tag_spark.tables import _epoch_units_per_second

    marker = os.path.join(src_dir, "_sentinel_done")
    fp = source_fingerprint(sf_dir, "events")
    if marker_valid(marker, fp):
        return
    path = os.path.join(sf_dir, "events.parquet")
    t = events_ts_parquet_type(path)
    nanos = pa.types.is_timestamp(t) and t.unit == "ns"
    integer = pa.types.is_integer(t)
    d1, d2 = _sentinel_days(spark, sf_dir)
    # batches are mtime-ordered; anchor on max(source mtimes, now) so a
    # source file with a FUTURE mtime (clock skew, copied testdata)
    # cannot sort after the sentinels and leave windows unfinalized
    src_mtimes = [
        os.path.getmtime(os.path.join(src_dir, f))
        for f in os.listdir(src_dir)
        if f.endswith(".parquet") and not f.startswith("zz_sentinel")
    ]
    now = max([time.time(), *src_mtimes])
    # The epoch below resolves each sentinel DAY at UTC midnight. The
    # Spark route it replaced resolved the day in the SESSION time
    # zone, so with a non-UTC spark.sql.session.timeZone the instants
    # would shift by up to ~14h — eating into the 2/4-day past-max
    # margin the watermark reasoning relies on (round-7 ADVICE). The
    # engine pins UTC at session build; assert it here so a config
    # drift fails loudly instead of silently shrinking the margin.
    session_tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
    if session_tz not in ("UTC", "Etc/UTC", "GMT"):
        # a plain assert would be stripped under `python -O`, silently
        # shrinking the watermark margin — raise unconditionally
        raise RuntimeError(
            f"sentinel epochs are computed at UTC midnight but the session "
            f"time zone is {session_tz!r}; the day-level watermark margin "
            f"reasoning only holds under UTC"
        )
    for i, day in enumerate([d1, d2]):
        dt = datetime.datetime.strptime(str(day), "%Y-%m-%d")
        epoch_s = int(dt.replace(tzinfo=datetime.timezone.utc).timestamp())
        if nanos:
            # mirror the nanos layout: ts as raw epoch-nanos long
            ts_arr = pa.array([epoch_s * 1_000_000_000], type=pa.int64())
        elif integer:
            ts_arr = pa.array([epoch_s * _epoch_units_per_second(path)], type=t)
        else:
            # timestamp_ntz micros — what the Spark writer produced for
            # both NTZ and tz-adjusted sources (physical int64 micros)
            ts_arr = pa.array([dt], type=pa.timestamp("us"))
        sent = pa.table(
            {
                "event_id": pa.array([-1 - i], type=pa.int64()),
                "ts": ts_arr,
                "user_id": pa.array([-1 - i], type=pa.int64()),
                "event_type": pa.array([_SENTINEL_TYPE], type=pa.string()),
                "value": pa.array([0.0], type=pa.float64()),
                "props": pa.array(["{}"], type=pa.string()),
            }
        )
        dest = os.path.join(src_dir, f"zz_sentinel_{i}.parquet")
        if os.path.exists(dest):
            os.remove(dest)
        pq.write_table(sent, dest, version="2.6")
        # file-source batches are ordered by mtime: events < s1 < s2
        os.utime(dest, (now + 10 * (i + 1), now + 10 * (i + 1)))
    write_marker(marker, fp)


def r1_streaming_orc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1/R3: stream → filter/project → ORC sink in ACID-delta-shaped
    micro-batches; then read the sink back and checksum it. Files
    appear atomically per micro-batch commit — the capability the
    reference approximates with intermediate footer flushes."""
    base = scratch_dir(sf_dir)
    out = os.path.join(base, "stream", "events_orc")
    ckpt = os.path.join(base, "stream", "events_orc_ckpt")
    done = os.path.join(base, "stream", "events_orc._done")
    fp = source_fingerprint(sf_dir, "events")
    if not marker_valid(done, fp):
        # rebuild sink + checkpoint as a unit (a stale checkpoint would
        # turn the availableNow replay into a no-op over an empty sink)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        stream = _events_stream(spark, sf_dir).filter(F.col("event_type") != "error")
        q = (
            stream.writeStream.format("orc")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .option("compression", "zlib")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
        write_marker(done, fp)
    df = spark.read.orc(out)
    return df.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("event_id").alias("sum_event_id"),
        F.sum(F.col("value").cast("decimal(18,3)")).cast("double").alias("sum_value"),
        F.count_distinct("event_type").alias("nd_type"),
        F.max(F.col("ts").cast("string")).alias("max_ts"),
    )


R1_ORACLE = """
SELECT COUNT(*) AS cnt,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value,
       COUNT(DISTINCT event_type) AS nd_type,
       CAST(MAX(CAST(date_trunc('microsecond', ts) AS TIMESTAMP)) AS VARCHAR) AS max_ts
FROM events WHERE event_type != 'error'
"""


def r2_streaming_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling windows (1 day) over the stream in APPEND
    mode with a watermark, emitted to a parquet file sink and read back
    — the scale-honest plan: state per (window, event_type) is DROPPED
    as the watermark passes each window; the driver never holds the
    aggregate. The staged sentinel advances the watermark past the data
    horizon so every real window finalizes within the availableNow run.
    """
    base = scratch_dir(sf_dir)
    out = os.path.join(base, "stream", "r2_windows")
    ckpt = os.path.join(base, "stream", "r2_windows_ckpt")
    done = os.path.join(base, "stream", "r2_windows._done")
    fp = source_fingerprint(sf_dir, "events")
    if not marker_valid(done, fp):
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        stream = _events_stream(spark, sf_dir, with_sentinel=True)
        agg = (
            stream.withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "1 day").alias("w"), F.col("event_type"))
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(F.col("value").cast("decimal(18,3)"))
                .cast("double")
                .alias("sum_value"),
            )
            .select(
                F.col("w.start").cast("date").cast("string").alias("day"),
                "event_type",
                "cnt",
                "sum_value",
            )
        )
        with _state_sized_shuffle(spark):
            q = (
                agg.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            _await(q)
        write_marker(done, fp)
    return (
        spark.read.parquet(out)
        .filter(_not_sentinel("event_type"))
        .orderBy("day", "event_type")
    )


R2_ORACLE = """
SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
       event_type,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY day, event_type
"""


def r5_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap session windows on the stream: per-user sessions
    close after 30 idle minutes (`F.session_window`), the streaming
    twin of the batch gaps-and-islands `w2_sessionize`. Sessions are
    MERGED state — unlike tumbling windows the assignment depends on
    neighboring events, which is exactly what the stateful session
    operator maintains incrementally; the oracle replays the merge
    with LAG + cumulative flags.

    State at 100 TB: keyed by user_id only while a session is open;
    append mode + watermark lets Spark emit and DROP closed sessions,
    so state is bounded by concurrently-active users, not history —
    the sentinel closes the final sessions so the availableNow run
    emits everything."""
    base = scratch_dir(sf_dir)
    out = os.path.join(base, "stream", "r5_sessions")
    ckpt = os.path.join(base, "stream", "r5_sessions_ckpt")
    done = os.path.join(base, "stream", "r5_sessions._done")
    # ";sink=v2": sink schema gained is_sentinel — a marker from the v1
    # sink must not validate against the new read-back path
    fp = source_fingerprint(sf_dir, "events") + ";sink=v2"
    if not marker_valid(done, fp):
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        stream = _events_stream(spark, sf_dir, with_sentinel=True)
        agg = (
            stream.withWatermark("ts", "0 seconds")
            .groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,3)"))
                .cast("double")
                .alias("sum_value"),
                # carry the reserved event_type through the aggregation
                # so sink read-back filters on it, not on user_id sign
                # (a data generation with negative user_ids must not
                # lose real sessions)
                F.max((F.col("event_type") == _SENTINEL_TYPE).cast("int")).alias(
                    "is_sentinel"
                ),
            )
            .select(
                "user_id",
                F.col("w.start").cast("string").alias("session_start"),
                F.col("w.end").cast("string").alias("session_end"),
                "n_events",
                "sum_value",
                "is_sentinel",
            )
        )
        with _state_sized_shuffle(spark):
            q = (
                agg.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            _await(q)
        write_marker(done, fp)
    return (
        spark.read.parquet(out)
        .filter((F.col("is_sentinel") == 0) | F.col("is_sentinel").isNull())
        .drop("is_sentinel")
        .orderBy("user_id", "session_start")
    )


# session merge rule (pinned by tests/test_streaming.py's boundary
# test): an event at EXACTLY last_ts + gap still extends the session —
# Spark merges on touching windows — so the oracle uses `<= INTERVAL`,
# with LAG's initial NULL falling to the ELSE branch
R5_ORACLE = """
WITH e AS (
  SELECT user_id, CAST(date_trunc('microsecond', ts) AS TIMESTAMP) AS ts, value FROM events
), flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_s
  FROM e
), sess AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       CAST(MIN(ts) AS VARCHAR) AS session_start,
       CAST(MAX(ts) + INTERVAL 30 MINUTE AS VARCHAR) AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
FROM sess GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


def r6_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication: the events file is staged TWICE
    into the source directory (every record arrives as a duplicate) and
    `dropDuplicatesWithinWatermark` on the event key emits each exactly
    once — the streaming twin of batch `d1_exact_dedup`, and the shape
    a 100 TB ingest pipeline uses to make at-least-once delivery
    effectively-once.

    Scale: dedup state is keyed by event_id and DROPPED once the
    watermark passes the event's time (state bounded by the delay
    horizon, not history). The sink checksum equals the batch table's —
    proof no duplicate survived and no original was lost.
    """
    base = scratch_dir(sf_dir)
    out = os.path.join(base, "stream", "r6_dedup")
    ckpt = os.path.join(base, "stream", "r6_dedup_ckpt")
    done = os.path.join(base, "stream", "r6_dedup._done")
    fp = source_fingerprint(sf_dir, "events")
    if not marker_valid(done, fp):
        shutil.rmtree(os.path.join(base, "stream", "events_src_dup"), ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        stream = _events_stream(spark, sf_dir, sub="events_src_dup", copies=2)
        deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        with _state_sized_shuffle(spark):
            q = (
                deduped.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            _await(q)
        write_marker(done, fp)
    df = spark.read.parquet(out)
    return df.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count_distinct("event_id").alias("nd_event"),
        F.sum("event_id").alias("sum_event_id"),
        F.sum(F.col("value").cast("decimal(18,3)")).cast("double").alias("sum_value"),
        F.max(F.col("ts").cast("string")).alias("max_ts"),
    )


R6_ORACLE = """
SELECT COUNT(*) AS cnt,
       COUNT(DISTINCT event_id) AS nd_event,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value,
       CAST(MAX(CAST(date_trunc('microsecond', ts) AS TIMESTAMP)) AS VARCHAR) AS max_ts
FROM events
"""


def r7_stream_stream_join(spark: SparkSession, sf_dir: str, splits: int = 1) -> DataFrame:
    """Stream-stream interval join: every click joined to the same
    user's purchases in the preceding 30 minutes — two independently
    watermarked streams, equality key + event-time range condition.

    Scale: Spark keeps each side's join state only within the watermark
    horizon (the range condition tells it exactly how long a row can
    still match), so state is bounded by the 30-minute window per user,
    not history. Inner-join matches emit as soon as both sides arrive —
    no sentinel needed. The pair stream lands in a parquet sink; the
    checksum over the sink equals the batch SQL join.
    """
    base = scratch_dir(sf_dir)
    tag = "r7_pairs" if splits == 1 else f"r7_pairs_s{splits}"
    sub = None if splits == 1 else f"events_src_s{splits}"
    out = os.path.join(base, "stream", tag)
    ckpt = os.path.join(base, "stream", f"{tag}_ckpt")
    done = os.path.join(base, "stream", f"{tag}._done")
    fp = source_fingerprint(sf_dir, "events") + f";splits={splits}"
    if not marker_valid(done, fp):
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        clicks = (
            _events_stream(spark, sf_dir, sub=sub, splits=splits)
            .filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", "1 hour")
        )
        purchases = (
            _events_stream(spark, sf_dir, sub=sub, splits=splits)
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        pairs = clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("p_ts") <= F.col("c_ts")),
        )
        with _state_sized_shuffle(spark):
            q = (
                pairs.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            _await(q)
        write_marker(done, fp)
    df = spark.read.parquet(out)
    return df.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count_distinct("c_user").alias("nd_users"),
        F.sum(F.col("click_id") + F.col("purchase_id")).alias("id_checksum"),
        F.max(
            F.unix_micros(F.col("c_ts")) - F.unix_micros(F.col("p_ts"))
        ).alias("max_gap_us"),
    )


R7_ORACLE = """
SELECT COUNT(*) AS n_pairs,
       COUNT(DISTINCT c.user_id) AS nd_users,
       CAST(SUM(c.event_id + p.event_id) AS BIGINT) AS id_checksum,
       CAST(MAX(epoch_us(CAST(date_trunc('microsecond', c.ts) AS TIMESTAMP))
              - epoch_us(CAST(date_trunc('microsecond', p.ts) AS TIMESTAMP))) AS BIGINT) AS max_gap_us
FROM events c JOIN events p
  ON p.user_id = c.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts - INTERVAL 30 MINUTE AND p.ts <= c.ts
"""


def r8_streaming_pipeline(spark: SparkSession, sf_dir: str, splits: int = 1) -> DataFrame:
    """Streaming corpus-prep capstone (the streaming twin of pipe1):
    at-least-once delivery (every file staged TWICE) → event-time
    watermark → exactly-once via dropDuplicatesWithinWatermark →
    quality filter → day-windowed per-type aggregation, emitted in
    APPEND mode to a parquet sink. Two chained stateful operators in
    one continuous plan.

    Scale: dedup state and window state are both watermark-bounded;
    the second delivery's rows are either deduplicated in-state (recent
    rows) or dropped as late data (old rows) — both are the correct
    exactly-once outcome, demonstrating late-data handling on a real
    redelivery pattern. Sentinels ride the quality filter via their
    reserved type and close the final windows.
    """
    base = scratch_dir(sf_dir)
    tag = "r8_pipeline" if splits == 1 else f"r8_pipeline_s{splits}"
    sub = "events_src_pipe" if splits == 1 else f"events_src_pipe_s{splits}"
    out = os.path.join(base, "stream", tag)
    ckpt = os.path.join(base, "stream", f"{tag}_ckpt")
    done = os.path.join(base, "stream", f"{tag}._done")
    fp = source_fingerprint(sf_dir, "events") + f";splits={splits}"
    if not marker_valid(done, fp):
        shutil.rmtree(os.path.join(base, "stream", sub), ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        stream = _events_stream(
            spark, sf_dir, with_sentinel=True, sub=sub, copies=2, splits=splits
        )
        quality = (F.col("event_type") != "error") & (F.col("value") >= 1.0)
        agg = (
            stream.withWatermark("ts", "1 hour")
            # sentinel rows must pass the (pushed-down) quality filter
            # so they still reach the watermark collector
            .filter(quality | (F.col("event_type") == _SENTINEL_TYPE))
            .dropDuplicatesWithinWatermark(["event_id"])
            .groupBy(F.window("ts", "1 day").alias("w"), F.col("event_type"))
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(F.col("value").cast("decimal(18,3)"))
                .cast("double")
                .alias("sum_value"),
            )
            .select(
                F.col("w.start").cast("date").cast("string").alias("day"),
                "event_type",
                "cnt",
                "sum_value",
            )
        )
        with _state_sized_shuffle(spark):
            q = (
                agg.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            _await(q)
        write_marker(done, fp)
    return (
        spark.read.parquet(out)
        .filter(_not_sentinel("event_type"))
        .orderBy("day", "event_type")
    )


R8_ORACLE = """
SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
       event_type,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
FROM events
WHERE event_type != 'error' AND value >= 1.0
GROUP BY 1, 2
ORDER BY day, event_type
"""


def r9_stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment: the events stream joined to
    a STATIC dimension (customer → nation, pre-joined and broadcast)
    — the third streaming-join shape next to r7's stream-stream
    interval join and r4's CDC: stateless, so no watermark and no join
    state at all; every micro-batch is a broadcast hash probe.

    Scale: the dimension build is batch-side (one small join, then a
    broadcast of customer-key → nation/segment); stream rows never
    shuffle — the enrichment is map-side in every micro-batch, and the
    sink append is partition-parallel. A LEFT join keeps stream rows
    whose key misses the dimension (surfaced as 'UNKNOWN' rather than
    silently dropped). This is the production shape for enriching an
    event firehose against slowly-changing reference data at 100 TB/day
    — the dimension refreshes per micro-batch read, state stays zero.
    """
    base = scratch_dir(sf_dir)
    out = os.path.join(base, "stream", "r9_enriched")
    ckpt = os.path.join(base, "stream", "r9_enriched_ckpt")
    done = os.path.join(base, "stream", "r9_enriched._done")
    fp = (
        source_fingerprint(sf_dir, "events")
        + ";"
        + source_fingerprint(sf_dir, "customer")
    )
    if not marker_valid(done, fp):
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table

        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey", "c_mktsegment"
        )
        nation = load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name"
        )
        dim = cust.join(
            F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"]
        ).select("c_custkey", "n_name", "c_mktsegment")
        stream = _events_stream(spark, sf_dir)
        enriched = stream.join(
            F.broadcast(dim), stream["user_id"] == dim["c_custkey"], "left"
        ).select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            F.coalesce(F.col("n_name"), F.lit("UNKNOWN")).alias("n_name"),
            F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("segment"),
        )
        q = (
            enriched.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
        write_marker(done, fp)
    df = spark.read.parquet(out)
    return (
        df.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("nd_users"),
            F.sum("event_id").alias("event_checksum"),
            F.sum(F.col("value").cast("decimal(18,3)")).cast("double").alias("sum_value"),
        )
        .orderBy("n_name")
    )


R9_ORACLE = """
SELECT COALESCE(n.n_name, 'UNKNOWN') AS n_name,
       COUNT(*) AS n_events,
       COUNT(DISTINCT e.user_id) AS nd_users,
       CAST(SUM(e.event_id) AS BIGINT) AS event_checksum,
       CAST(SUM(CAST(e.value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
FROM events e
LEFT JOIN customer c ON e.user_id = c.c_custkey
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY COALESCE(n.n_name, 'UNKNOWN')
ORDER BY n_name
"""


def r10_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming continuous aggregate: w8's per-(user, hour) OHLC
    rollup maintained by Structured Streaming — the TimescaleDB
    continuous-aggregate story with the state machine Spark owns:
    append mode + watermark finalizes and DROPS each hour bucket as
    event time passes it, so the running query's state is the open
    hours only, never the history. Open/close ride min/max over a
    (ts, value) struct — (user_id, ts) is unique in the stream, so
    struct ordering is deterministic and, unlike min_by/max_by, the
    struct extremes are supported streaming aggregates.

    The batch w8 query over the same events is the exact oracle: a
    correct continuous aggregate must equal its full recompute.
    """
    base = scratch_dir(sf_dir)
    out = os.path.join(base, "stream", "r10_ohlc")
    ckpt = os.path.join(base, "stream", "r10_ohlc_ckpt")
    done = os.path.join(base, "stream", "r10_ohlc._done")
    fp = source_fingerprint(sf_dir, "events")
    if not marker_valid(done, fp):
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        stream = _events_stream(spark, sf_dir, with_sentinel=True)
        tv = F.struct(F.col("ts"), F.col("value"))
        agg = (
            stream.withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "1 hour").alias("w"), F.col("user_id"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.min(tv).getField("value").alias("open"),
                F.max(tv).getField("value").alias("close"),
                F.max("value").alias("high"),
                F.min("value").alias("low"),
                F.sum(F.col("value").cast("decimal(18,3)"))
                .cast("double")
                .alias("sum_value"),
                F.max((F.col("event_type") == _SENTINEL_TYPE).cast("int")).alias(
                    "is_sentinel"
                ),
            )
            .select(
                F.col("user_id"),
                F.col("w.start").cast("string").alias("hour"),
                "n_events",
                "open",
                "close",
                "high",
                "low",
                "sum_value",
                "is_sentinel",
            )
        )
        with _state_sized_shuffle(spark):
            q = (
                agg.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            _await(q)
        write_marker(done, fp)
    return (
        spark.read.parquet(out)
        .filter(F.col("is_sentinel") == 0)
        .drop("is_sentinel")
        .orderBy("user_id", "hour")
    )


R10_ORACLE = """
SELECT user_id,
       CAST(date_trunc('hour', ts) AS VARCHAR) AS hour,
       COUNT(*) AS n_events,
       arg_min(value, ts) AS open,
       arg_max(value, ts) AS close,
       MAX(value) AS high,
       MIN(value) AS low,
       CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
FROM events
GROUP BY user_id, date_trunc('hour', ts)
ORDER BY user_id, hour
"""


def r11_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click joined to
    the same user's purchases in the preceding 30 minutes, and clicks
    with NO such purchase emitted as null-extended rows — the
    semantics r7's inner join cannot express, and the hardest state
    contract in Structured Streaming: an outer row may only be
    emitted once the watermark PROVES no future match can arrive.

    The two sides are staged as type-filtered SOURCES (a clicks topic
    and a purchases topic — `_stage_filtered`), never filtered inside
    the streaming plan: a pushed-down type filter would drop the
    watermark sentinels below the EventTimeWatermark collector, the
    purchase-side watermark would stall at (real max − delay), and
    every click in the last horizon would hold its outer row forever
    (exactly the "missing tail nulls" bug users hit with finite
    outer-join streams). The two sentinel batches advance both sides'
    watermarks past the data, so the availableNow run emits the
    COMPLETE outer result and the sink equals the batch LEFT JOIN.

    Scale: join state on each side is evicted at the watermark
    horizon (the range condition bounds how long a click can wait:
    once wm > c_ts the purchase side can no longer match it) — state
    is minutes of stream, not history. One user-keyed stateful
    exchange per side.

    Cold-run cost (r7 verdict item): the dominant cost is micro-batch
    fixed overhead — each batch commits 4 state stores per partition
    per join side. Three amortizations, measured at sf0.1/local[32]
    (39.2s → ~2.5s stream time, identical oracle output):
    (1) both topics staged in ONE pass over events
    (`_stage_filtered_topics`: single read, two filtered writes);
    (2) each side delivered as ONE micro-batch (`single_batch=True`)
    — outer-row emission needs only that the watermark pass the
    eligibility point, which the engine's no-data finalization batch
    provides after the sentinels advance it, so the staged per-file
    delivery (8 batches) buys nothing here; (3) state partitions
    sized to the stream (`_R11_STATE_PARTITIONS`, default 8 — a
    checkpoint-pinned deployment knob: a real cluster sizes it to
    stream key-cardinality/throughput; the session's 32 CPU-sized
    shuffle partitions would commit 4x the state files per batch for
    a join whose per-batch state fits in a few MB).
    """
    base = scratch_dir(sf_dir)
    out = os.path.join(base, "stream", "r11_outer")
    ckpt = os.path.join(base, "stream", "r11_outer_ckpt")
    done = os.path.join(base, "stream", "r11_outer._done")
    fp = source_fingerprint(sf_dir, "events")
    if not marker_valid(done, fp):
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        # both topics staged in ONE pass over events (single table
        # read, two filtered writes). The topic dirs are NOT deleted
        # here: every staging step inside them (filtered copy,
        # sentinels) is source-fingerprint-marker-guarded, so a stale
        # topic restages itself — and `stage_shared_topics` pre-builds
        # them so this line is a no-op on the bench path (r11 verdict
        # #6: the 16.0s bench entry was 2.4x steady-state because this
        # one-time staging landed on the query's own line).
        _stage_filtered_topics(
            sf_dir,
            [
                (os.path.join(base, "stream", "r11_clicks_src"), "click"),
                (os.path.join(base, "stream", "r11_purch_src"), "purchase"),
            ],
        )
        clicks = (
            _events_stream(
                spark,
                sf_dir,
                with_sentinel=True,
                sub="r11_clicks_src",
                only_type="click",
                single_batch=True,
            )
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
                F.col("event_type").alias("c_type"),
            )
            .withWatermark("c_ts", "1 hour")
        )
        purchases = (
            _events_stream(
                spark,
                sf_dir,
                with_sentinel=True,
                sub="r11_purch_src",
                only_type="purchase",
                single_batch=True,
            )
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        joined = clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("p_ts") <= F.col("c_ts")),
            "leftOuter",
        )
        with _state_sized_shuffle(spark):
            q = (
                joined.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            _await(q)
        write_marker(done, fp)
    df = spark.read.parquet(out).filter(_not_sentinel("c_type"))
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("purchase_id").alias("n_matched"),
        F.sum(F.col("purchase_id").isNull().cast("int")).alias("n_unmatched_clicks"),
        F.count_distinct("click_id").alias("nd_clicks"),
        F.sum(F.col("click_id") + F.coalesce(F.col("purchase_id"), F.lit(0))).alias(
            "id_checksum"
        ),
    )


R11_ORACLE = """
SELECT COUNT(*) AS n_rows,
       COUNT(p.event_id) AS n_matched,
       CAST(SUM(CASE WHEN p.event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched_clicks,
       COUNT(DISTINCT c.event_id) AS nd_clicks,
       CAST(SUM(c.event_id + COALESCE(p.event_id, 0)) AS BIGINT) AS id_checksum
FROM events c
LEFT JOIN events p
  ON p.user_id = c.user_id AND p.event_type = 'purchase'
 AND p.ts >= c.ts - INTERVAL 30 MINUTE AND p.ts <= c.ts
WHERE c.event_type = 'click'
"""


def r12_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python STREAMING source (Spark 4
    `SimpleDataSourceStreamReader` — the stream half of the
    source-plugin surface; `sources/pyds.py`; the batch half is s21's
    orc_meta): a finite, deterministic, offset-tracked generator is
    drained into a parquet sink by REPEATED availableNow runs sharing
    one checkpoint — each run advances exactly one committed offset
    range, and the loop continues one run PAST the fixpoint, so the
    graded aggregate proves exactly-once offset semantics (no
    dropped batch, no replayed batch: total rows == SYNTH_N even
    though the last run re-triggers against a drained source).

    Scale: the source emits pure arithmetic (no table reads), so the
    oracle recomputes the sink from generate_series; offsets are tiny
    JSON dicts in the checkpoint log — the same commit-log discipline
    the reference's intermediate-footer flush gives a writer
    (`OrcFile.MAX_FILE_LENGTH`, SURVEY §2.11), expressed through the
    engine's native source API instead of a file convention."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        SYNTH_BATCH,
        SYNTH_N,
        register_synthetic_events,
    )

    base = os.path.join(scratch_dir(sf_dir), "stream", "pyds_source")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    fp = f"synthetic_events;n={SYNTH_N};batch={SYNTH_BATCH}"
    if not marker_valid(base + "._fp", fp):
        register_synthetic_events(spark)
        shutil.rmtree(base, ignore_errors=True)
        runs = SYNTH_N // SYNTH_BATCH + 1  # one run PAST the fixpoint
        for _ in range(runs):
            q = (
                spark.readStream.format("synthetic_events")
                .load()
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            _await(q, 120)
        write_marker(base + "._fp", fp)
    return (
        spark.read.schema("id bigint, bucket int, amount bigint")
        .parquet(sink)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("amount").alias("amount_sum"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
        .orderBy("bucket")
    )


R12_ORACLE = """
SELECT CAST(i % 7 AS INT) AS bucket,
       COUNT(*) AS n,
       CAST(SUM((i * 31) % 1000) AS BIGINT) AS amount_sum,
       MIN(i) AS min_id,
       MAX(i) AS max_id
FROM (SELECT unnest(generate_series(0, 8999)) AS i)
GROUP BY 1 ORDER BY 1
"""
