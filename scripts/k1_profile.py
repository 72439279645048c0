"""Round-14 Lloyd-round residual profiling (r13-verdict Next #4):
after the r13 parsed-SQL construction wins (-48/-60/-46% for v4/k1/
d11), break the REMAINING k1 cost into driver-side plan work
(construction + analysis) vs executor compute, per Lloyd round.

The verdict asked to "try fusing assign+update into one aggregation
pass per round" — note the shape ALREADY is one distributed job per
round (`_assign` is lazy; only `_update`'s collect runs a job), so
this script measures what is actually left: init collect, the two
update jobs, the final consumer job, and pure plan-construction time.

Usage: python scripts/k1_profile.py [reps]
       (reads the embeddings table under $SPARK_GRAFT_SF_DIR, default
       sf0.1; reps defaults to 3)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F

from orc_release_hdp_2_6_5_99_1_tag_spark import engine_clear_caches, get_spark
from orc_release_hdp_2_6_5_99_1_tag_spark.operators.clustering import (
    _K,
    _assign,
    _update,
)
from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    spark = get_spark("k1-profile")
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark import StorageLevel

    for rep in range(reps):
        engine_clear_caches(spark)
        marks: list[tuple[str, float]] = []
        t0 = time.time()

        def mark(label: str) -> None:
            marks.append((label, round(time.time() - t0, 3)))

        e = load_table(spark, SF_DIR, "embeddings")
        e = e.select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
        )
        e = e.persist(StorageLevel.MEMORY_AND_DISK)
        mark("load+project (lazy)")
        cents = [
            (int(r["vec_id"]), list(r["v"]))
            for r in e.filter(F.col("vec_id") < _K).collect()
        ]
        dim = len(cents[0][1])
        mark("init collect (JOB: cache materialize + first-k)")
        assigned = _assign(e, cents)
        mark("assign-1 plan build")
        cents = _update(assigned, dim)
        mark("update-1 (JOB)")
        assigned = _assign(e, cents)
        mark("assign-2 plan build")
        cents = _update(assigned, dim)
        mark("update-2 (JOB)")
        assigned = _assign(e, cents)
        mark("assign-3 plan build")
        sizes = assigned.groupBy("cluster").agg(
            F.count("*").cast("long").alias("cluster_size")
        )
        out = (
            assigned.join(sizes, "cluster")
            .select(
                "vec_id", F.col("cluster").cast("int").alias("cluster"), "cluster_size"
            )
            .orderBy("vec_id")
        )
        n = len(out.collect())
        mark(f"final collect (JOB, {n} rows)")
        e.unpersist()
        prev = 0.0
        print(f"--- rep {rep} total {marks[-1][1]:.3f}s")
        for label, tt in marks:
            print(f"  {tt - prev:7.3f}s  {label}")
            prev = tt
    spark.stop()


if __name__ == "__main__":
    main()
