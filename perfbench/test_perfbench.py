"""Tests of the benchmark's own arithmetic and contract, no JVM needed:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness, run  # noqa: E402
from perfbench.harness import Op, OpRecord, Span, Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def test_tail_reported_only_with_ten_samples_beyond():
    hundred = [float(i) for i in range(100)]
    assert harness.tail_percentile(hundred, 0.9) == pytest.approx(89.1)
    assert sum(1 for x in hundred if x > 89.1) == 10
    assert harness.tail_percentile([float(i) for i in range(91)], 0.9) is None  # 9 beyond
    assert harness.tail_percentile([1.0] * 500, 0.9) is None  # nothing strictly beyond
    assert harness.tail_percentile([], 0.9) is None


def test_percentile_interpolates():
    assert harness.percentile([3.0, 1.0, 2.0], 0.5) == 2.0
    assert harness.percentile([1.0, 2.0], 0.25) == 1.25


def _span(i, name, start, end, parent=None):
    return Span(i, name, start, end, parent, "r")


def test_self_time_subtracts_children_once():
    spans = [
        _span(1, "op", 0.0, 10.0),
        _span(2, "a", 1.0, 4.0, 1),
        _span(3, "b", 3.0, 6.0, 1),  # overlaps a on [3, 4]
        _span(4, "c", 2.0, 3.0, 2),
        _span(5, "a", 8.0, 12.0, 1),  # runs past its parent: clipped to [8, 10]
    ]
    st = harness.self_times(spans)
    assert st["op"] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st["a"] == pytest.approx((3.0 - 1.0) + 4.0)
    assert st["b"] == pytest.approx(3.0)
    assert st["c"] == pytest.approx(1.0)


def test_self_times_of_sequential_spans_sum_to_wall():
    tracer = Tracer()
    with tracer.span("op", "r"):
        with tracer.span("operators.build", "r"):
            with tracer.span("inner", "r"):
                pass
        with tracer.span("exec.action", "r"):
            pass
    root = next(s for s in tracer.spans if s.parent is None)
    assert sum(harness.self_times(tracer.spans).values()) == pytest.approx(root.end - root.start)


class _NullProbe:
    def before(self, run_id):
        pass

    def after(self, run_id, op, df, wall_s):
        return {}


def test_failed_operation_is_counted_not_raised():
    def boom():
        raise RuntimeError("no")

    rec = harness.run_op(Op("x", boom, "SELECT 1"), "p0.0.x", Tracer(), _NullProbe())
    assert rec.error == "RuntimeError: no"
    s = harness.summarize([rec, OpRecord(rec.op, "p0.1.x", 1.0, ["a"], [(1,)])])
    assert (s["attempted"], s["failed"], s["error_rate"]) == (2, 1, 0.5)


def test_passes_run_whole_until_seconds_measured(monkeypatch):
    import itertools

    # a clock that advances one second per reading makes every wall time exact
    monkeypatch.setattr(harness.time, "perf_counter", itertools.count().__next__)

    class Df:
        columns = ["a"]

        def collect(self):
            return [(1,)]

    passes = []

    def plan(p):
        return [Op(f"op{i}", Df, "SELECT 1 AS a") for i in range(3)]

    one = harness.run_passes(plan, 1, Tracer(), _NullProbe(), before_pass=lambda: passes.append(1))
    per_op = one[0].wall_s
    assert len(passes) == 1 and len(one) == 3
    two = harness.run_passes(plan, 3 * per_op + 1, Tracer(), _NullProbe())
    assert len(two) == 6  # the second pass runs to its end although the budget ran out inside it
    assert [r.run_id for r in two[2:4]] == ["p0.2.op2", "p1.0.op0"]
    assert all(r.error is None and r.rows == [(1,)] for r in two)


def test_end_to_end_metrics_match_benchmark_json():
    summary = {"queries_per_s": 2.0}
    payload = harness.metrics_payload(run.end_to_end(1.5, summary, 900.0), SPEC["end_to_end"])
    assert list(payload) == [m["name"] for m in SPEC["end_to_end"]]
    assert [p["unit"] for p in payload.values()] == [m["unit"] for m in SPEC["end_to_end"]]


def test_per_layer_metrics_match_benchmark_json():
    tracer = Tracer()
    with tracer.span("op", "p0.0.q"):
        with tracer.span("operators.build", "p0.0.q"):
            pass
        with tracer.span("exec.action", "p0.0.q"):
            pass

    class Probe:
        cost_s = 0.25

    op = Op("q", lambda: None, "", info={"rows_in_files": 10, "stream": True,
                                        "rowgroups": lambda: (1, 4)})
    probe = {"jobs": 1, "stages": 2, "tasks": 3, "shuffle_bytes": 4, "spill_bytes": 0,
             "input_bytes": 5, "gc_ms": 6, "phases_ms": {"analysis": 1, "planning": 2},
             "scan": {"rows_surfaced": 5, "files_read": 1},
             "stream_events": [{"batch": 0, "rows": 7, "ms": {"triggerExecution": 100}}]}
    rec = OpRecord(op, "p0.0.q", 1.0, ["a"], [(1,)], probe=probe,
                   written={"files": 1, "rows": 10, "bytes": 99})
    values = run.layer_metrics([rec], tracer, Probe(), 1, 3.0, {"heap_used_mb": 100})
    payload = harness.metrics_payload(values, SPEC["per_layer"])
    assert list(payload) == [m["name"] for m in SPEC["per_layer"]]
    assert payload["orc_io.rows_surfaced_ratio"]["value"] == 0.5
    assert payload["stream.outside_trigger_s"]["value"] == pytest.approx(0.9)
    assert payload["pyds.rowgroups_kept"]["value"] == 1


def test_metric_payload_never_drops_a_metric():
    with pytest.raises(ValueError):
        harness.metrics_payload({}, SPEC["end_to_end"])


def test_contract_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
               for m in SPEC["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    from perfbench.workloads import OPERATIONS

    assert [w["name"] for w in SPEC["workloads"]] == list(OPERATIONS)


def test_pinned_operations_exist_in_the_engine():
    from orc_release_hdp_2_6_5_99_1_tag_spark import catalog
    from perfbench.workloads import operation_names

    registered = {**catalog.queries(), **catalog.extra_queries()}
    oracles = {**catalog.oracle_sql(), **catalog.extra_oracle_sql()}
    helpers = {"orc_copy_sorted", "stage_shared_topics", "orc_encode_orders"}
    for name in operation_names("operator_mix"):
        assert name in helpers or (name in registered and name in oracles), name
