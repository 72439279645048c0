"""Benchmark entry point: one workload, one seeded run, one process.

    python3 perfbench/run.py --workload orc_scan --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout. Set-up starts a SparkSession on
local[N] (N = the CPUs this process may use), copies the source tables
from perfbench/data into a run directory under .perfbench_work/ (whose
basename is benchmark-only, and where the engine's scratch directory is
redirected too), and stages the workload's inputs. The timed loop is
closed with one client: whole passes of the workload's operations until
--seconds of operation time are measured. Outputs are then checked
against DuckDB, outside the timed region.

stdout: a readable report, then as its last line one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the BENCHMARK.json
end_to_end metrics with --trace 0, its per_layer metrics with --trace 1
(a traced run: job groups, status-store, plan and stream counters and
GC are read around every operation). The full detail of the run
(environment, per-operation times, failures, spans) is written to
.perfbench_out/<workload>-seed<seed>-trace<t>.json. Everything the run
created under .perfbench_work/ is removed before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "orc_release_hdp_2_6_5_99_1_tag_spark"
DATA = os.path.join(ROOT, "perfbench", "data", "sf0.01")
DRIVER_MEM = "2g"

# span names whose self time is a layer of the engine (the root span
# "op" is the benchmark's own glue)
LAYER_SPANS = ["operators.build", "exec.action", "pyds.read", "orc_io.write", "orc_encode.write",
               "acid.compaction", "acid.merge", "stream.stage", "stream.drain"]
STREAM_MS = {"trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
             "query_planning_ms": "queryPlanning", "latest_offset_ms": "latestOffset",
             "get_batch_ms": "getBatch", "wal_commit_ms": "walCommit",
             "commit_offsets_ms": "commitOffsets"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(work: str, cpus: int) -> None:
    """Parallelism, memory and every temporary path of the run, set
    before Spark starts so the JVM and its Python workers inherit them."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
        ),
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def redirect_scratch(root: str) -> None:
    """Point the engine's scratch_dir() (which resolves under the source
    tree's .scratch/) at `root`, in every engine module that imported it."""
    from orc_release_hdp_2_6_5_99_1_tag_spark import catalog, tables

    catalog._build()  # imports every operator module
    original = tables.scratch_dir

    def scratch_dir(sf_dir: str) -> str:
        d = os.path.join(root, os.path.basename(os.path.normpath(sf_dir)) or "sf")
        os.makedirs(d, exist_ok=True)
        return d

    for name, mod in list(sys.modules.items()):
        if name.startswith(ENGINE) and getattr(mod, "scratch_dir", None) is original:
            mod.scratch_dir = scratch_dir


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until every process it started
    (the JVM and the Python workers) has exited."""
    import signal
    import subprocess

    from pyspark import SparkContext

    from perfbench.harness import descendants

    children = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 15
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def end_to_end(setup_s: float, summary: dict, peak_rss_mb: float) -> dict:
    """The end_to_end figures of a run (every workload has all of them).
    The median latency is reported, not gated: both workloads mix
    operations whose latencies differ several-fold, so the median falls
    between clusters and moved by 10-30% between runs of the same code."""
    return {
        "setup_s": setup_s,
        "queries_per_s": summary["queries_per_s"],
        "peak_rss_mb": peak_rss_mb,
    }


def layer_metrics(records, tracer, probe, n_pass: int, session_start_s: float, jvm: dict) -> dict:
    """The per_layer figures of a traced run, per pass."""
    from perfbench.harness import self_times

    st = self_times(tracer.spans)
    wall = sum(r.wall_s for r in records)
    m = {"session.start_s": session_start_s}
    for name in LAYER_SPANS:
        m[f"{name}_s"] = st.get(name, 0.0) / n_pass
    m["bench.glue_s"] = st.get("op", 0.0) / n_pass
    m["trace.accounted_share"] = sum(st.get(n, 0.0) for n in LAYER_SPANS) / wall
    m["trace.probe_s"] = probe.cost_s / n_pass

    def total(key, recs=records) -> float:
        return sum(r.probe.get(key, 0) for r in recs) / n_pass

    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = sum(r.probe.get("phases_ms", {}).get(phase, 0)
                                        for r in records) / n_pass
    for key in ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes"):
        m[f"exec.{key}"] = total(key)
    m["jvm.gc_ms"] = total("gc_ms")
    m["jvm.heap_used_mb"] = float(jvm.get("heap_used_mb", 0))

    scans = [r for r in records if "rows_in_files" in r.op.info]
    m["orc_io.rows_in_files"] = sum(r.op.info["rows_in_files"] for r in scans) / n_pass
    m["orc_io.rows_surfaced"] = sum(r.probe.get("scan", {}).get("rows_surfaced", 0) for r in scans) / n_pass
    m["orc_io.rows_surfaced_ratio"] = (m["orc_io.rows_surfaced"] / m["orc_io.rows_in_files"]
                                       if m["orc_io.rows_in_files"] else 0.0)
    m["orc_io.bytes_read"] = total("input_bytes", scans)
    m["orc_io.files_read"] = sum(r.probe.get("scan", {}).get("files_read", 0) for r in scans) / n_pass
    written = [r.written for r in records if r.written]
    m["orc_io.rows_written"] = sum(w["rows"] for w in written) / n_pass
    m["orc_io.bytes_written"] = sum(w["bytes"] for w in written) / n_pass

    kept = total_groups = 0
    for r in records:
        if "rowgroups" in r.op.info:
            k, t = r.op.info["rowgroups"]()
            kept, total_groups = kept + k, total_groups + t
    m["pyds.rowgroups_kept"] = kept / n_pass
    m["pyds.rowgroups_total"] = total_groups / n_pass

    events = [e for r in records for e in r.probe.get("stream_events", [])]
    m["stream.batches"] = len(events) / n_pass
    m["stream.input_rows"] = sum(e["rows"] for e in events) / n_pass
    for key, name in STREAM_MS.items():
        m[f"stream.{key}"] = sum(e["ms"].get(name, 0) for e in events) / n_pass
    drains = sum(r.wall_s for r in records if r.op.info.get("stream"))
    m["stream.outside_trigger_s"] = drains / n_pass - m["stream.trigger_ms"] / 1000.0
    return m


def detail_metrics(records, ctx) -> dict:
    """The end-to-end figures that only some workloads have (printed in
    the report and the detail file, not gated)."""
    d = {}
    scans = [r for r in records if "rows_in_files" in r.op.info]
    if scans:
        d["scan_rows_per_s"] = (sum(r.op.info["rows_in_files"] for r in scans)
                                / sum(r.wall_s for r in scans), "rows/s")
    writes = [r for r in records if r.written]
    if writes:
        d["write_rows_per_s"] = (sum(r.written["rows"] for r in writes)
                                 / sum(r.wall_s for r in writes), "rows/s")
        copies = [r for r in writes if r.op.name.startswith("orc_copy_")]
        if copies:
            src = os.path.getsize(os.path.join(ctx.inputs, "lineitem.parquet"))
            d["stored_bytes_per_source_byte"] = (
                sum(r.written["bytes"] for r in copies) / (src * len(copies)), "ratio")
    if "stored_bytes" in ctx.state:
        d["stored_bytes_per_source_byte"] = (
            ctx.state["stored_bytes"] / ctx.state["source_bytes"], "ratio")
    drains = [r.wall_s for r in records if r.op.info.get("stream")]
    if drains:
        d["drain_p50_s"] = (statistics.median(drains), "s")
    return d


def run(args, spec: dict, work: str) -> tuple[dict, dict]:
    import bench  # the repository's machine/JVM state recorders
    import pyspark

    from orc_release_hdp_2_6_5_99_1_tag_spark import get_spark
    from perfbench import harness, probes, workloads
    from tests.oracle_utils import duckdb_con

    wl = workloads.load(args.workload)
    machine_before = bench._machine_state()
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        scratch_root = os.path.join(work, "scratch")
        redirect_scratch(scratch_root)
        inputs = os.path.join(work, "inputs", f"perfbench_{args.workload}")
        shutil.copytree(DATA, inputs)
        ctx = workloads.Ctx(spark, inputs, scratch_root, random.Random(args.seed))
        wl.setup(ctx)
        stage_s = time.perf_counter() - t1
        setup_s = session_start_s + stage_s

        probe = probes.SparkProbe(spark) if args.trace else probes.NullProbe()
        tracer = harness.Tracer()
        before_pass = getattr(wl, "before_pass", None)
        records = harness.run_passes(
            lambda p: wl.plan_pass(ctx, p), args.seconds, tracer, probe,
            before_pass=(lambda: before_pass(ctx)) if before_pass else None,
        )
        probe.close()
        n_pass = len({r.run_id.split(".")[0] for r in records})

        con = duckdb_con(inputs)
        for view, path in getattr(wl, "oracle_views", lambda c: {})(ctx).items():
            con.sql(f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{path}')")
        harness.check_records(records, con)

        summary = harness.summarize(records)
        values = end_to_end(setup_s, summary, harness.peak_rss_mb())
        jvm = bench._jvm_state(spark)
        sc = spark.sparkContext
        env = {
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "nproc": len(os.sched_getaffinity(0)),
            "pyspark": pyspark.__version__,
            "driver_memory": DRIVER_MEM,
            "machine_before": machine_before,
        }
        if args.trace:
            values.update(layer_metrics(records, tracer, probe, n_pass, session_start_s, jvm))
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "passes": n_pass, "env": env, "jvm_end": jvm,
            "setup": {"session_start_s": session_start_s, "staging_s": stage_s},
            "summary": summary,
            "detail_metrics": detail_metrics(records, ctx),
            "operations": [{"run_id": r.run_id, "wall_s": r.wall_s, "error": r.error,
                            "written": r.written,
                            "probe": {k: v for k, v in r.probe.items() if k != "stream_events"}}
                           for r in records],
        }
        if args.trace:
            detail["spans"] = [s.__dict__ for s in tracer.spans]
    finally:
        stop_spark(spark)
    env["machine_after"] = bench._machine_state()

    metric_list = spec["per_layer"] if args.trace else spec["end_to_end"]
    result = {
        "correct": summary["failed"] == 0,
        "attempted": summary["attempted"],
        "failed": summary["failed"],
        "metrics": harness.metrics_payload(values, metric_list),
    }
    return result, detail


def report(result: dict, detail: dict) -> None:
    env = detail["env"]
    print(f"workload {detail['workload']} seed {detail['seed']} trace {detail['trace']}: "
          f"{detail['passes']} pass(es), master {env['master']}, defaultParallelism "
          f"{env['default_parallelism']}, nproc {env['nproc']}, pyspark {env['pyspark']}")
    for when in ("machine_before", "machine_after"):
        m = env[when]
        print(f"  {when}: loadavg {m['loadavg']} foreign java {m['java_procs']} "
              f"pytest {m['pytest_procs']}")
    print("  setup: " + ", ".join(f"{k} {v:.3f}" for k, v in detail["setup"].items()))
    for op in detail["operations"]:
        print(f"  {op['run_id']:<48} {op['wall_s']:8.3f} s  {op['error'] or 'ok'}")
    s = detail["summary"]
    print(f"  error_rate {s['error_rate']:.4f} ({s['failed']} of {s['attempted']})")
    for f in s["failures"]:
        print(f"  FAILED {f}")
    print(f"  latency_p50_s {s['latency_p50_s']:.4f} s")
    tail = s["latency_p90_s"]
    print(f"  latency_p90_s {'%.4f s' % tail if tail is not None else 'not reported'}"
          f" ({s['samples']} samples; needs 10 beyond it)")
    for name, (v, unit) in detail["detail_metrics"].items():
        print(f"  {name} {v:.4f} {unit}")
    for name, m in result["metrics"].items():
        print(f"  {name} {m['value']:.6g} {m['unit']}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print(f"perfbench: no engine sources under {ROOT}; nothing to measure", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    try:
        pin_environment(work, len(os.sched_getaffinity(0)))
        result, detail = run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass  # another run still uses it
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump({"result": result, **detail}, fh, default=str)
    report(result, detail)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
