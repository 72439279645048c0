"""Custom stateful streaming operator via applyInPandasWithState —
the extension point for operators Structured Streaming lacks natively
(SURVEY §2.13 guidance: custom stateful ops as Pandas-UDF state
machines).

Demo operator: per-user running event count + running value sum,
maintained as explicit GroupState across micro-batches. With
availableNow + maxFilesPerTrigger the demo is deterministic; the final
state equals a batch groupBy (the oracle).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupStateTimeout

from orc_release_hdp_2_6_5_99_1_tag_spark.streaming.ingest import (
    _await,
    _events_stream,
    _state_sized_shuffle,
)

_OUT_SCHEMA = "user_id bigint, n_events bigint, total_value_milli bigint"
_STATE_SCHEMA = "n bigint, v bigint"


def _make_update_fn():
    """Closure (cloudpickle-by-value: workers lack the repo on their
    import path). Value sums are kept in integer millis so state is
    exact and the oracle can reproduce it."""

    def update(key, pdfs, state):
        import numpy as np

        n, v = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # floor(x*1000 + 0.5): identical double math to the oracle
            # (pandas .round would use half-even, DuckDB half-away)
            v += int(np.floor(pdf["value"].to_numpy() * 1000.0 + 0.5).sum())
        state.update((n, v))
        import pandas as pd

        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value_milli": [v]})

    return update


def r3_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful per-user running totals; returns the final state per
    user (last emitted row per key), which must equal the batch
    aggregate."""
    name = "r3_state_" + os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    stream = _events_stream(spark, sf_dir).select("user_id", "value")
    result = stream.groupBy("user_id").applyInPandasWithState(
        _make_update_fn(),
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # state partitions sized to the stream, not the CPU count — every
    # OTHER stateful stream scoped this (ingest.py `_state_sized_shuffle`,
    # the r11-measured 13.8→4.7s knob); r3 was the one that never did,
    # so its stateful exchange committed a CPU-width (32) set of state
    # stores per micro-batch for per-key state that fits in a few KB
    with _state_sized_shuffle(spark):
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        _await(q, 300)
    # update mode appends one row per key per batch: keep the final row
    latest = spark.table(name).groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("total_value_milli").alias("total_value_milli"),
    )
    return latest.orderBy("user_id")


R3_ORACLE = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 1000.0 + 0.5) AS BIGINT)) AS BIGINT) AS total_value_milli
FROM events GROUP BY user_id ORDER BY user_id
"""


_R9_OUT_SCHEMA = "user_id bigint, n_events bigint, n_distinct_types bigint"


def _make_r9_processor():
    """transformWithStateInPandas processor (class defined in a closure
    so cloudpickle ships it by value — workers lack the repo on their
    import path). Per-user MapState event_type → count: distinct-type
    cardinality survives micro-batch boundaries in keyed state, the
    thing a stateless per-batch aggregate cannot compute."""
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class DistinctTypeCounter(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._types = handle.getMapState("type_counts", "t string", "c bigint")
            self._n = handle.getValueState("n_events", "n bigint")

        def handleInputRows(self, key, rows, timerValues):
            n = self._n.get()[0] if self._n.exists() else 0
            for pdf in rows:
                n += len(pdf)
                for t, c in pdf.groupby("event_type").size().items():
                    prev = (
                        self._types.getValue((t,))[0]
                        if self._types.containsKey((t,))
                        else 0
                    )
                    self._types.updateValue((t,), (prev + int(c),))
            self._n.update((n,))
            n_distinct = sum(1 for _ in self._types.keys())
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "n_distinct_types": [n_distinct],
                }
            )

        def close(self) -> None:
            pass

    return DistinctTypeCounter()


def r9_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unstarted transformWithState streaming DataFrame (plan
    construction is protobuf-free; see r9_transform_with_state)."""
    stream = _events_stream(spark, sf_dir, sub="events_src_r9", splits=3).select(
        "user_id", "event_type"
    )
    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_make_r9_processor(),
        outputStructType=_R9_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def r9_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 transformWithState surface (SURVEY §2.12 extension
    point, the successor of r3's applyInPandasWithState): per-user
    distinct-event-type cardinality + running counts held in MapState/
    ValueState across micro-batches. The source is split into 3
    time-sliced files (genuinely multi-batch with maxFilesPerTrigger),
    so the final per-key emission proves state survives batch
    boundaries; it must equal the batch COUNT(DISTINCT) oracle.

    Scale: state is O(users × event-type cardinality) in the state
    store (RocksDB in production), emitted rows are per-key tiny, and
    update-mode output lets the sink compact to the latest row per
    key. No corpus-sized state, no driver-side aggregation.

    Platform note: transformWithState's Python runner imports
    google.protobuf, which this sandbox lacks — plan construction and
    the oracle are tested everywhere, EXECUTION is skipped where
    protobuf is unavailable (see tests/test_transform_with_state.py
    and README platform limits)."""
    name = "r9_state_" + os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    result = r9_plan(spark, sf_dir)
    # transformWithState requires the RocksDB state store provider;
    # set it for the query start only and restore after (the running
    # query keeps the conf it captured at start)
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(conf_key, None)
    spark.conf.set(
        conf_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        _await(q, 300)
    finally:
        if saved is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, saved)
    latest = spark.table(name).groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("n_distinct_types").alias("n_distinct_types"),
    )
    return latest.orderBy("user_id")


R9_ORACLE = """
SELECT user_id, COUNT(*) AS n_events,
       COUNT(DISTINCT event_type) AS n_distinct_types
FROM events GROUP BY user_id ORDER BY user_id
"""
