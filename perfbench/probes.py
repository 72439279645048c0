"""Spark-side counters for the traced run.

`NullProbe` is what an untraced run uses: it does nothing, so the timed
windows carry no tracing work. `SparkProbe` tags each operation's jobs
with a job group, and after the operation (outside its timed window)
reads back job/stage/task counts, shuffle and spill bytes from the
status store, the Catalyst tracker phases and the scan metrics of the
returned DataFrame's plan, JVM GC time, and the streaming progress
events a `StreamingQueryListener` saw during the operation.
"""

from __future__ import annotations

import threading
import time


class NullProbe:
    def before(self, run_id: str) -> None:
        pass

    def after(self, run_id: str, op, df, wall_s: float) -> dict:
        return {}

    def close(self) -> None:
        pass


def _gc_ms(sc) -> int:
    mf = sc._jvm.java.lang.management.ManagementFactory
    it = mf.getGarbageCollectorMXBeans().iterator()
    total = 0
    while it.hasNext():
        total += int(it.next().getCollectionTime())
    return total


def plan_scan_metrics(df) -> dict:
    """AQE-aware walk of the executed plan (the shape of
    `plans.inspect.scan_output_rows`, without re-executing): summed
    metrics of every ORC scan (Spark's reader and the engine's
    `orc_native` source)."""
    out = {"rows_surfaced": 0, "files_read": 0, "scans": 0}

    def walk(node) -> None:
        name = node.nodeName()
        if "Scan" in name and "orc" in name.lower():
            out["scans"] += 1
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "numOutputRows":
                    out["rows_surfaced"] += int(kv._2().value())
                elif kv._1() == "numFiles":
                    out["files_read"] += int(kv._2().value())
        if "AdaptiveSparkPlan" in name:
            walk(node.executedPlan())
        elif "QueryStage" in name:
            walk(node.plan())
        else:
            children = node.children()
            for i in range(children.length()):
                walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def tracker_phases_ms(df) -> dict:
    """Catalyst phase durations (analysis / optimization / planning) of
    the DataFrame's QueryExecution."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[str(kv._1())] = int(kv._2().durationMs())
    return out


class SparkProbe:
    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.sc = spark.sparkContext
        self.cost_s = 0.0  # wall time the probe itself spent, all outside timed windows
        self._events: list[dict] = []
        self._lock = threading.Lock()
        self._mark = 0
        self._gc0 = 0
        probe = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                p = event.progress
                with probe._lock:
                    probe._events.append(
                        {"batch": p.batchId, "rows": p.numInputRows, "ms": dict(p.durationMs)}
                    )

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def before(self, run_id: str) -> None:
        t = time.perf_counter()
        self.sc.setJobGroup(run_id, run_id)
        self._gc0 = _gc_ms(self.sc)
        with self._lock:
            self._mark = len(self._events)
        self.cost_s += time.perf_counter() - t

    def _stream_events(self, wait: bool) -> list[dict]:
        # the listener bus is asynchronous: wait until no new progress
        # event has arrived for a short quiet period
        n, quiet_since = -1, time.perf_counter()
        while wait:
            with self._lock:
                cur = len(self._events)
            if cur != n:
                n, quiet_since = cur, time.perf_counter()
            elif time.perf_counter() - quiet_since > 0.3:
                break
            time.sleep(0.05)
        with self._lock:
            return self._events[self._mark:]

    def after(self, run_id: str, op, df, wall_s: float) -> dict:
        t = time.perf_counter()
        sc = self.sc
        out: dict = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_bytes": 0,
                     "spill_bytes": 0, "input_bytes": 0}
        store = sc._jsc.sc().statusStore()
        empty = sc._jvm.java.util.ArrayList()
        no_q = sc._gateway.new_array(sc._jvm.double, 0)
        for job in sc.statusTracker().getJobIdsForGroup(run_id):
            info = sc.statusTracker().getJobInfo(job)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                seq = store.stageData(sid, False, empty, False, no_q)
                for i in range(seq.length()):
                    d = seq.apply(i)
                    if str(d.status()) == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += int(d.numCompleteTasks())
                    out["shuffle_bytes"] += int(d.shuffleWriteBytes())
                    out["spill_bytes"] += int(d.memoryBytesSpilled()) + int(d.diskBytesSpilled())
                    out["input_bytes"] += int(d.inputBytes())
        out["gc_ms"] = _gc_ms(sc) - self._gc0
        if df is not None:
            try:
                out["phases_ms"] = tracker_phases_ms(df)
                out["scan"] = plan_scan_metrics(df)
            except Exception as e:  # a plan the walk cannot read is reported, not fatal
                out["plan_error"] = f"{type(e).__name__}: {e}"[:200]
        out["stream_events"] = self._stream_events(wait=op.info.get("stream", False))
        self.cost_s += time.perf_counter() - t
        return out

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
