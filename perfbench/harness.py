"""Timing loop, span bookkeeping and metric assembly for the benchmark.

Nothing here imports Spark, so the arithmetic (percentiles, self time,
the metric payload) is testable without a JVM. Spark-side counters live
in `probes.py`; the workloads live in `workloads/`.
"""

from __future__ import annotations

import itertools
import math
import os
import statistics
import time
from dataclasses import dataclass, field
from typing import Any, Callable

# A tail percentile is reported only when at least this many samples lie
# beyond it; below that it is one or two outliers, not a tail.
MIN_BEYOND = 10


def percentile(samples: list[float], q: float) -> float:
    """Linear-interpolated q-quantile (0 <= q <= 1) of a non-empty list."""
    s = sorted(samples)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(samples: list[float], q: float, min_beyond: int = MIN_BEYOND):
    """The q-quantile, or None when fewer than `min_beyond` samples lie
    strictly above it."""
    if not samples:
        return None
    v = percentile(samples, q)
    if sum(1 for x in samples if x > v) < min_beyond:
        return None
    return v


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """In-memory span recorder. Spans of one operation share a run id
    (the operation's occurrence id); run.py writes them out at exit."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []

    def span(self, name: str, run_id: str):
        return _SpanCtx(self, name, run_id)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, run_id: str) -> None:
        self.tracer, self.name, self.run_id = tracer, name, run_id

    def __enter__(self) -> Span:
        t = self.tracer
        parent = t._stack[-1].id if t._stack else None
        self.span = Span(next(t._ids), self.name, time.perf_counter(), math.nan, parent, self.run_id)
        t._stack.append(self.span)
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.end = time.perf_counter()
        self.tracer._stack.pop()
        self.tracer.spans.append(self.span)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per span name: each span's duration minus the part of
    its interval covered by its direct children (overlapping children
    are counted once, and a child is clipped to its parent)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out


@dataclass
class Op:
    """One timed operation: `build` returns a DataFrame (for write and
    stream operations, the read-back of what they wrote) and the action
    collects it. The root span of an operation is named "op" (its self
    time is the benchmark's own glue); `layer` names the span around
    `build`, `action_layer` the span around the collect. `oracle` is
    DuckDB SQL whose result must equal the collected rows. `prepare`
    runs untimed before it.

    `info` keys: "writes" (a directory whose new ORC files the operation
    is charged with), "stream" (it drains a stream), "rows_in_files"
    (rows stored in the table it scans), "rowgroups" (a callable giving
    the Python reader's row groups kept and stored)."""

    name: str
    build: Callable[[], Any]
    oracle: str
    layer: str = "operators.build"
    action_layer: str = "exec.action"
    prepare: Callable[[], Any] | None = None
    info: dict = field(default_factory=dict)


@dataclass
class OpRecord:
    op: Op
    run_id: str
    wall_s: float
    columns: list[str] | None = None
    rows: list[tuple] | None = None
    error: str | None = None
    probe: dict = field(default_factory=dict)
    written: dict | None = None  # ORC files the operation left, for ops with info["writes"]


def orc_files(root: str) -> dict[str, tuple[int, int]]:
    """{path: (mtime_ns, size)} of every .orc file under root."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".orc"):
                st = os.stat(os.path.join(d, f))
                out[os.path.join(d, f)] = (st.st_mtime_ns, st.st_size)
    return out


def written_since(root: str, before: dict[str, tuple[int, int]]) -> dict:
    """Rows (from the ORC footers), bytes and count of the .orc files
    under root that are new or changed since the `before` snapshot."""
    from pyarrow import orc

    out = {"files": 0, "rows": 0, "bytes": 0}
    for path, sig in orc_files(root).items():
        if before.get(path) != sig:
            out["files"] += 1
            out["bytes"] += sig[1]
            out["rows"] += orc.ORCFile(path).nrows
    return out


def run_op(op: Op, run_id: str, tracer: Tracer, probe) -> OpRecord:
    """Time one operation. The probe's `before`/`after` bracket the timed
    window; what they collect after it (job, stage, plan and stream
    counters) is read outside the window."""
    if op.prepare is not None:
        op.prepare()
    snap = orc_files(op.info["writes"]) if "writes" in op.info else None
    probe.before(run_id)
    df = None
    t0 = time.perf_counter()
    try:
        with tracer.span("op", run_id):
            with tracer.span(op.layer, run_id):
                df = op.build()
            with tracer.span(op.action_layer, run_id):
                rows = df.collect()
        rec = OpRecord(op, run_id, time.perf_counter() - t0, list(df.columns), [tuple(r) for r in rows])
    except Exception as e:  # an operation that raises is a counted failure, not a crash
        rec = OpRecord(op, run_id, time.perf_counter() - t0, error=f"{type(e).__name__}: {e}"[:500])
    rec.probe = probe.after(run_id, op, df, rec.wall_s)
    if snap is not None:
        rec.written = written_since(op.info["writes"], snap)
    return rec


def run_passes(plan_pass: Callable[[int], list[Op]], seconds: float, tracer: Tracer,
               probe, before_pass: Callable[[], None] | None = None) -> list[OpRecord]:
    """Closed loop, one client: whole passes until `seconds` of operation
    time have been measured. The pass in progress always finishes, so
    every run sees each operation of the pass the same number of times."""
    records: list[OpRecord] = []
    measured = 0.0
    for p in itertools.count():
        if before_pass is not None:
            before_pass()
        for i, op in enumerate(plan_pass(p)):
            rec = run_op(op, f"p{p}.{i}.{op.name}", tracer, probe)
            records.append(rec)
            measured += rec.wall_s
        if measured >= seconds:
            return records


def check_records(records: list[OpRecord], con) -> None:
    """Compare every successful operation's rows with its oracle (column
    set, row count, order-insensitive values, normalized the way the
    test suite's oracle compare does). A mismatch is stored on the
    record as its error. Each oracle runs once per distinct SQL."""
    from tests.oracle_utils import _norm_rows as norm_rows

    expected: dict[str, tuple[list[str], list[tuple]]] = {}
    for rec in records:
        if rec.error is not None:
            continue
        sql = rec.op.oracle
        try:
            if sql not in expected:
                rel = con.sql(sql)
                expected[sql] = (sorted(rel.columns), norm_rows(rel.columns, rel.fetchall()))
        except Exception as e:
            rec.error = f"oracle failed: {type(e).__name__}: {e}"[:500]
            continue
        cols, rows = expected[sql]
        if sorted(rec.columns) != cols:
            rec.error = f"mismatch: columns {sorted(rec.columns)} != {cols}"
        elif len(rec.rows) != len(rows):
            rec.error = f"mismatch: {len(rec.rows)} rows != {len(rows)}"
        else:
            got = norm_rows(rec.columns, rec.rows)
            bad = [(a, b) for a, b in zip(got, rows) if a != b]
            if bad:
                rec.error = f"mismatch: {len(bad)} rows differ, first {bad[0][0]} != {bad[0][1]}"


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return int(fh.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def descendants(root_pid: int) -> list[int]:
    """Live descendants of root_pid (children first), from /proc."""
    parent = {int(d): _ppid(int(d)) for d in os.listdir("/proc") if d.isdigit()}
    out, frontier = [], {root_pid}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier}
        out += sorted(frontier)
    return out


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this process plus its direct children,
    the Spark JVM. Python workers, the JVM's children, come and go with
    the tasks that use them, so their count at any instant is timing."""
    me = os.getpid()
    children = [int(d) for d in os.listdir("/proc") if d.isdigit() and _ppid(int(d)) == me]
    kb = 0
    for pid in [me, *children]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def summarize(records: list[OpRecord]) -> dict:
    """End-to-end figures over the timed operations of one run."""
    walls = [r.wall_s for r in records]
    failed = [r for r in records if r.error is not None]
    return {
        "attempted": len(records),
        "failed": len(failed),
        "error_rate": len(failed) / len(records),
        "failures": [f"{r.run_id}: {r.error}" for r in failed],
        "queries_per_s": len(records) / sum(walls),
        "latency_p50_s": statistics.median(walls),
        # None unless the run has enough samples for a real tail
        "latency_p90_s": tail_percentile(walls, 0.9),
        "samples": len(walls),
    }


def metrics_payload(values: dict[str, float], spec: list[dict]) -> dict:
    """{"name": {"value", "unit"}} for exactly the metrics `spec` (a
    BENCHMARK.json metric list) names. A missing value is an error: a
    result never silently drops a metric."""
    out = {}
    for m in spec:
        v = values.get(m["name"])
        if v is None or not math.isfinite(v):
            raise ValueError(f"metric {m['name']} has no value ({v!r})")
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    return out
