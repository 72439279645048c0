"""operator_mix: the headline operators and the write side, through the
engine's public functions, in the order operations.json lists them.

The order is fixed, not seeded: the JVM keeps compiling through the
whole pass, and the same operation ran about twice as slow in the first
positions as in the last, so a seeded order moved latency between
operations from run to run by more than any bound could tolerate. Later
operations also reuse what earlier ones staged (t3 compacts the ACID
table t2 stages, r1 drains the topic stage_shared_topics writes), which
the fixed order keeps on the same operation. The seed does not change
this workload's inputs.

Every operation runs with the SQL cache cleared first. Before each pass
the engine's scratch directory for this run's inputs is removed, so no
completion marker survives: the write-side operations really write,
commit or drain (with a valid marker r1 would be a parquet read), and
operators that stage ORC or ACID inputs stage them again. Each
operation's result, for writes the read-back of what they wrote, is
checked against its own oracle.
"""

from __future__ import annotations

import os
import shutil

from perfbench.harness import Op
from perfbench.workloads import Ctx, operation_names

# Read-back of an ORC copy of lineitem: exact aggregates, same on both sides.
COPY_ORACLE = """
SELECT COUNT(*) AS n,
       CAST(SUM(l_orderkey) AS BIGINT) AS sum_key,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) AS sum_price
FROM lineitem
"""

ENCODE_SCHEMA = ("o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
                 "o_totalprice double, o_orderdate timestamp")

# s31's read-back aggregate, over the whole table
ENCODE_ORACLE = """
SELECT o_orderstatus,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS sum_price_floor,
       CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
       CAST(MAX(CAST(o_orderdate AS DATE)) AS VARCHAR) AS max_day
FROM orders GROUP BY o_orderstatus
"""

TOPICS_ORACLE = """
SELECT event_type, COUNT(*) AS n FROM events
WHERE event_type IN ('click', 'purchase') GROUP BY event_type
"""

# the layer each ACID, encoder or stream operation's call drives; the
# other registered operations build a DataFrame ("operators.build")
LAYERS = {
    "t2_acid_merge_on_read": "acid.merge",
    "t3_compaction": "acid.compaction",
    "r1_streaming_orc_ingest": "stream.drain",
}

def setup(ctx: Ctx) -> None:
    pass


def before_pass(ctx: Ctx) -> None:
    shutil.rmtree(ctx.scratch, ignore_errors=True)


def _copy_sorted(ctx: Ctx):
    import pyspark.sql.functions as F

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_io import orc_copy, read_orc

    path = orc_copy(ctx.spark, ctx.inputs, "lineitem", variant="sorted", sort_by=["l_orderkey"])
    return read_orc(ctx.spark, path).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_orderkey").alias("sum_key"),
        F.sum(F.col("l_extendedprice").cast("decimal(15,2)")).cast("double").alias("sum_price"),
    )


def _encode(ctx: Ctx):
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_encode import write_orc_native
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_io import read_orc

    cols = [part.split()[0] for part in ENCODE_SCHEMA.split(", ")]
    t = pq.read_table(os.path.join(ctx.inputs, "orders.parquet"), columns=cols)
    dest = os.path.join(ctx.scratch, "orc", "orders_encoded")
    os.makedirs(dest, exist_ok=True)
    # s31's layout: 1000-row index stride, o_orderkey bloom filter
    write_orc_native(os.path.join(dest, "part-00000.orc"), {c: t[c].to_pylist() for c in cols},
                     ENCODE_SCHEMA, row_index_stride=1000, bloom_filter_columns=("o_orderkey",))
    return read_orc(ctx.spark, dest).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.floor("o_totalprice").cast("bigint")).alias("sum_price_floor"),
        F.sum("o_custkey").alias("sum_cust"),
        F.date_format(F.max(F.to_date("o_orderdate")), "yyyy-MM-dd").alias("max_day"),
    )


def _topics(ctx: Ctx):
    import pyspark.sql.functions as F

    from orc_release_hdp_2_6_5_99_1_tag_spark.streaming.ingest import stage_shared_topics

    stage_shared_topics(ctx.spark, ctx.inputs)
    files = [os.path.join(ctx.scratch, "stream", sub, "events_filtered.parquet")
             for sub in ("r11_clicks_src", "r11_purch_src")]
    return ctx.spark.read.parquet(*files).groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


def _op(ctx: Ctx, name: str, fns: dict, oracles: dict) -> Op:
    from orc_release_hdp_2_6_5_99_1_tag_spark import engine_clear_caches

    def clear():
        engine_clear_caches(ctx.spark)

    writes = {"writes": ctx.scratch}
    if name == "orc_copy_sorted":
        return Op(name, lambda: _copy_sorted(ctx), COPY_ORACLE,
                  layer="orc_io.write", prepare=clear, info=writes)
    if name == "orc_encode_orders":
        return Op(name, lambda: _encode(ctx), ENCODE_ORACLE, layer="orc_encode.write",
                  prepare=clear, info=writes)
    if name == "stage_shared_topics":
        return Op(name, lambda: _topics(ctx), TOPICS_ORACLE, layer="stream.stage",
                  prepare=clear, info=writes)
    layer = LAYERS.get(name, "operators.build")
    info = {} if layer == "operators.build" else dict(writes, stream=layer == "stream.drain")
    return Op(name, lambda: fns[name](ctx.spark, ctx.inputs), oracles[name],
              layer=layer, prepare=clear, info=info)


def plan_pass(ctx: Ctx, p: int) -> list[Op]:
    from orc_release_hdp_2_6_5_99_1_tag_spark import catalog

    fns = {**catalog.queries(), **catalog.extra_queries()}
    oracles = {**catalog.oracle_sql(), **catalog.extra_oracle_sql()}
    return [_op(ctx, n, fns, oracles) for n in operation_names("operator_mix")]
