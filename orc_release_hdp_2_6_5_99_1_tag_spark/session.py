"""SparkSession factory with the engine's scale-oriented defaults.

The reference's performance envelope (BASELINE.md) is defined by tuning
constants (64 MiB stripes, 10k-row index stride, zlib, vectorized
batches); the Spark-side equivalents are the confs below. They are
written for a real cluster (AQE, pushdown, pruning, Arrow) and only the
master/parallelism is local-mode specific.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Reference defaults (OrcConf.java:29-49 in the reference) passed through
# to Spark's ORC writer via .option(...) by sources/orc_io.py.
ORC_STRIPE_SIZE = 64 * 1024 * 1024
ORC_ROW_INDEX_STRIDE = 10_000
ORC_COMPRESS = "zlib"
ORC_BLOOM_FPP = 0.05
ORC_DICT_KEY_THRESHOLD = 0.8


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "orc-hdp-spark-engine") -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Scale notes: on a real cluster the master line disappears and the
    same confs hold; shuffle partitions should be sized ~2-3x total
    cores with AQE coalescing down — AQE is enabled so over-provisioning
    partitions is safe at 100 TB.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.orc.filterPushdown", "true")
        .config("spark.sql.orc.enableVectorizedReader", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # Long-lived-driver hygiene (r13 optimization round, guide §5/§7):
        # a harness session executes hundreds of queries in ONE JVM, and
        # the status stores retain per-execution plan graphs + metrics
        # (default 1000 executions / 1000 jobs) — measured live-heap
        # growth (24k SQLPlanMetric objects mid-bench) plus listener-bus
        # work that scales with retained state. Cap retention: the
        # engine never serves a history UI.
        .config("spark.sql.ui.retainedExecutions", "30")
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "100")
        .config("spark.ui.retainedTasks", "1000")
        # Unreferenced broadcast/RDD blocks are only reclaimed when the
        # ContextCleaner sees their refs collected; the default periodic
        # GC (30 min) never fires inside a bench/driver session, so
        # hundreds of per-query broadcast hash relations accumulate in
        # the block store. 5 min bounds that without measurable pause
        # cost (same setting is standard for long-running drivers).
        .config("spark.cleaner.periodicGC.interval", "5min")
    )
    if SparkSession.getActiveSession() is None:
        builder = builder.master(f"local[{cpus}]")
        # local-mode only (cluster deployments size executors/driver
        # themselves): the JVM defaults to a 1 GiB heap, which a
        # 32-thread local run exhausts long before machine memory —
        # broadcast builds were observed to OOM at ~100k-doc corpora.
        # The setting is a cap only: the heap is not pre-committed
        # (no -Xms), so G1 grows it to the live set. With -Xms equal to
        # the cap, G1 used the whole cap as young and old space and
        # touched nearly all of it before collecting, which raised the
        # driver's resident memory and saved no time (paired runs of
        # perfbench/run.py, per-run figures in PERF_heap_ab.json).
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        )
    return builder.getOrCreate()


def ship_engine(spark: SparkSession) -> None:
    """Ship the whole engine package to the Python workers as one zip.

    This is the one way engine code reaches executors: every entry
    that runs engine code in a Python worker (each `register_*` of
    `sources/pyds.py`, each mapInPandas over engine functions) calls
    it, and workers import modules by their package name, so classes
    and module-level functions pickle by reference. Sessions built
    elsewhere (an external driver's vanilla session) have no other
    route: their workers do not start from this checkout.

    The zip is keyed by a digest of every source file's relative path,
    size and mtime_ns, so an edit, a rename or a deleted module ships
    a new zip; an unchanged package reuses the one already built, and
    Spark ignores a re-add of the same path."""
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_dir)
    digest = hashlib.sha256()
    sources = []
    for root, dirs, files in os.walk(pkg_dir):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(root, f)
                rel = os.path.relpath(full, parent)
                st = os.stat(full)
                digest.update(f"{rel}\x00{st.st_size}\x00{st.st_mtime_ns}\x00".encode())
                sources.append((full, rel))
    zip_path = os.path.join(
        tempfile.gettempdir(),
        f"{os.path.basename(pkg_dir)}-{digest.hexdigest()[:16]}.zip",
    )
    if not os.path.exists(zip_path):
        tmp = f"{zip_path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for full, rel in sources:
                zf.write(full, rel)
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)


def engine_clear_caches(spark: SparkSession) -> int:
    """Session-level cache hygiene (round-5 ADVICE closure): unpersist
    every RDD/DataFrame the engine's operators may have persisted
    (d2's candidate set, d11's cluster assignment, iterative k-means
    inputs) AND drop the SQL in-memory catalog, so no cached relation
    outlives a query invocation in a long-lived harness session.
    Returns the number of persistent RDDs released. Callers: bench /
    scale-stress / driver-sim teardown; operators themselves stay
    lifetime-agnostic (cache policy is measured per-subplan — see
    operators/dedup.py module notes).
    """
    n = 0
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(True)
        n += 1
    spark.catalog.clearCache()
    return n
