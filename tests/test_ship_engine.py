"""Every executor-side entry works in a vanilla session whose Python
workers cannot import the engine from their working directory.

pytest runs from the checkout, so the workers of the other tests'
sessions import the package from their cwd and a missing
`session.ship_engine` call cannot fail there. This test starts one
subprocess with a temp-dir cwd, a plain `SparkSession.builder`, and the
repo on the driver's `sys.path` only, then runs each entry once, checks
its rows, and checks that the entry shipped the engine itself (a later
entry must not depend on an earlier one having shipped it).
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import glob
import importlib.util
import json
import os
import sys

sys.path.insert(0, sys.argv[1])
work = sys.argv[2]

from pyspark import SparkContext
from pyspark.sql import SparkSession

shipped = []
_add_py_file = SparkContext.addPyFile


def _counting(self, path):
    shipped.append(path)
    return _add_py_file(self, path)


SparkContext.addPyFile = _counting

spark = SparkSession.builder.master("local[2]").appName("ship-engine").getOrCreate()
out = {}

# the premise: before any ship, a worker cannot import the engine
out["premise"] = spark.sparkContext.parallelize([0], 1).map(
    lambda _: importlib.util.find_spec("orc_release_hdp_2_6_5_99_1_tag_spark") is None
).collect() == [True]

from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_io import write_orc

lake = os.path.join(work, "lake")
write_orc(
    spark.range(0, 8000, numPartitions=4)
    .selectExpr("id", "cast(id % 7 as int) as bucket", "concat('v', cast(id as string)) as s")
    .repartitionByRange(4, "id")
    .sortWithinPartitions("id"),
    lake,
    row_index_stride=1000,
)
files = sorted(glob.glob(os.path.join(lake, "*.orc")))


def entry(name, fn):
    before = len(shipped)
    try:
        ok = bool(fn())
    except Exception as e:  # reported per entry, not as one crash
        ok = f"{type(e).__name__}: {str(e)[:300]}"
    out[name] = {"rows_ok": ok, "shipped": len(shipped) > before}


def ids(df):
    return sorted(r["id"] for r in df.select("id").collect())


def orc_meta():
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import register_orc_meta

    register_orc_meta(spark)
    rows = spark.read.format("orc_meta").option("path", lake).load().collect()
    id_rows = [r for r in rows if r["column_name"] == "id"]
    return (
        {r["file"] for r in rows} == {os.path.basename(f) for f in files}
        and sum(r["n_rows_stripe"] for r in id_rows) == 8000
    )


def footer_column_stats():
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_stats import footer_column_stats

    r = {x["column_name"]: x for x in footer_column_stats(spark, lake).collect()}["id"]
    return (r["n_values"], r["min_val"], r["max_val"], r["sum_val"]) == (
        8000, "0", "7999", str(sum(range(8000))),
    )


def rowgroup_stats():
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_stats import rowgroup_stats

    rows = rowgroup_stats(spark, lake, ["id"]).collect()
    return (
        sum(r["rows_in_group"] for r in rows) == 8000
        and min(int(r["min_val"]) for r in rows) == 0
        and max(int(r["max_val"]) for r in rows) == 7999
    )


def orc_meta_distributed():
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.meta import orc_meta_distributed

    rows = orc_meta_distributed(spark, lake).collect()
    return len(rows) == len(files) and sum(r["nrows"] for r in rows) == 8000


def read_planned():
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.stream_decode import read_planned

    df = read_planned(spark, files[0], ("less_than", "id", 500), ["id", "bucket"])
    return ids(df.filter("id < 500")) == list(range(500))


def read_planned_lake():
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.stream_decode import read_planned_lake

    df = read_planned_lake(spark, files, ("between", "id", [1500, 2500]), ["id", "s"])
    rows = df.filter("id between 1500 and 2500").collect()
    return sorted((r["id"], r["s"]) for r in rows) == [(i, f"v{i}") for i in range(1500, 2501)]


def orc_native():
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import register_orc_native

    register_orc_native(spark)
    df = spark.read.format("orc_native").option("path", lake).load()
    return ids(df.filter("id >= 7000")) == list(range(7000, 8000))


def jsonl_sink():
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import register_jsonl_sink

    register_jsonl_sink(spark)
    dest = os.path.join(work, "jsonl")
    spark.range(10).repartition(2).write.format("jsonl_sink").option(
        "path", dest
    ).mode("append").save()
    got = []
    for f in sorted(glob.glob(os.path.join(dest, "part-*.jsonl"))):
        with open(f) as fh:
            got += [json.loads(line)["id"] for line in fh]
    return sorted(got) == list(range(10)) and not glob.glob(os.path.join(dest, "_tmp-*"))


def orc_native_sink():
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import register_orc_native_sink

    register_orc_native_sink(spark)
    dest = os.path.join(work, "native_sink")
    spark.range(100).selectExpr("id", "cast(id * 2 as int) as twice").repartition(
        2
    ).write.format("orc_native_sink").option("path", dest).mode("append").save()
    rows = spark.read.orc(dest).collect()
    return sorted((r["id"], r["twice"]) for r in rows) == [(i, 2 * i) for i in range(100)]


def synthetic_events():
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        SYNTH_BATCH,
        SYNTH_N,
        register_synthetic_events,
    )

    register_synthetic_events(spark)
    sink = os.path.join(work, "stream_sink")
    for _ in range(SYNTH_N // SYNTH_BATCH + 1):  # one run past the end
        q = (
            spark.readStream.format("synthetic_events")
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", os.path.join(work, "stream_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return ids(spark.read.parquet(sink)) == list(range(SYNTH_N))


for fn in (
    orc_meta, footer_column_stats, rowgroup_stats, orc_meta_distributed,
    read_planned, read_planned_lake, orc_native, jsonl_sink,
    orc_native_sink, synthetic_events,
):
    entry(fn.__name__, fn)
spark.stop()
print("RESULT " + json.dumps(out))
"""


def test_entries_in_vanilla_session(tmp_path):
    work = tmp_path / "work"
    work.mkdir()
    # PYTHONPATH would reach the workers through the JVM's environment
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, REPO, str(work)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    out = json.loads(lines[-1][len("RESULT "):])
    assert out.pop("premise") is True, "workers import the engine without a ship"
    assert len(out) == 10
    bad = {
        name: r for name, r in out.items()
        if r["rows_ok"] is not True or not r["shipped"]
    }
    assert not bad, bad
