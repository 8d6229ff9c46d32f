"""Spark-free checks of the benchmark's arithmetic.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics

import pytest

from perfbench import report, stats
from perfbench.stats import Span
from perfbench.tracing import execute_kind, hang_spark_records

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


# --- percentiles --------------------------------------------------------

def test_p90_needs_100_samples():
    # p90 of 100 samples leaves 10 above it; of 99 only 9
    assert stats.samples_beyond(100, 0.9) == 10
    assert stats.samples_beyond(99, 0.9) == 9
    assert stats.highest_supported_percentile(100) == 0.9
    assert stats.highest_supported_percentile(99) == 0.75
    assert stats.highest_supported_percentile(1000) == 0.99
    assert stats.highest_supported_percentile(20) == 0.5
    assert stats.highest_supported_percentile(19) is None


def test_beta_cdf():
    # I_0.3(2, 3) = P(Binomial(4, 0.3) >= 2)
    assert stats.beta_cdf(0.3, 2, 3) == pytest.approx(
        1 - 0.7 ** 4 - 4 * 0.3 * 0.7 ** 3)
    assert stats.beta_cdf(0.5, 6, 6) == pytest.approx(0.5)
    assert stats.beta_cdf(0.0, 2, 3) == 0.0
    assert stats.beta_cdf(1.0, 2, 3) == 1.0


def test_harrell_davis():
    assert stats.harrell_davis([3.0], 0.5) == pytest.approx(3.0)
    assert stats.harrell_davis([2.0] * 7, 0.9) == pytest.approx(2.0)
    # symmetric samples: the median estimate is their centre
    assert stats.harrell_davis([1.0, 2.0, 4.0, 6.0, 7.0], 0.5) == \
        pytest.approx(4.0)
    values = [float(v) for v in range(1, 12)]
    assert stats.harrell_davis(values, 0.5) == pytest.approx(6.0)
    assert 9.0 < stats.harrell_davis(values, 0.9) < 11.0
    # swapping two samples' ranks moves it a little, not by the gap
    a = [0.3, 0.9, 1.0, 1.3, 1.4, 1.50, 1.70, 1.8, 1.8, 2.0, 2.8]
    b = [0.3, 0.9, 1.0, 1.3, 1.4, 1.69, 1.71, 1.8, 1.8, 2.0, 2.8]
    assert statistics.median(a) == 1.5
    assert statistics.median(b) == 1.69
    assert abs(stats.harrell_davis(b, 0.5)
               - stats.harrell_davis(a, 0.5)) < 0.05
    with pytest.raises(ValueError):
        stats.harrell_davis([], 0.5)
    with pytest.raises(ValueError):
        stats.harrell_davis([1.0], 1.0)


# --- stage path and gap -------------------------------------------------

def test_union_of_overlapping_stages():
    stages = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (5.2, 5.5)]
    assert stats.merge_intervals(stages) == [(0.0, 3.0), (5.0, 6.0)]
    assert stats.union_length(stages) == pytest.approx(4.0)
    # the gap of an op from 0 to 10 s is its wall minus the stage path
    assert 10.0 - stats.union_length(stages) == pytest.approx(6.0)


def test_union_ignores_empty_and_touching():
    assert stats.union_length([(1.0, 1.0), (2.0, 1.0)]) == 0.0
    assert stats.merge_intervals([(0.0, 1.0), (1.0, 2.0)]) == [(0.0, 2.0)]


def test_subtract():
    assert stats.subtract((0.0, 10.0), [(2.0, 3.0), (5.0, 12.0)]) == [
        (0.0, 2.0), (3.0, 5.0)]
    assert stats.subtract((0.0, 1.0), []) == [(0.0, 1.0)]
    assert stats.subtract((0.0, 1.0), [(-1.0, 2.0)]) == []


# --- span self time -----------------------------------------------------

def _span(i, parent, layer, start, end, name=None):
    return Span(i, parent, layer, name or layer, start, end, 0)


def test_self_time_subtracts_children():
    spans = [
        _span(0, None, "driver", 0.0, 10.0),
        _span(1, 0, "engine", 1.0, 5.0),
        _span(2, 1, "sqltrans", 2.0, 3.0),
        _span(3, 0, "exec", 6.0, 9.0),
    ]
    own = stats.self_times(spans)
    assert own == pytest.approx({0: 3.0, 1: 3.0, 2: 1.0, 3: 3.0})
    by_layer = stats.layer_self_times(spans)
    assert sum(by_layer.values()) == pytest.approx(10.0)


def test_self_time_clips_children_to_parent():
    spans = [_span(0, None, "driver", 0.0, 4.0),
             _span(1, 0, "exec", 3.0, 6.0)]
    assert stats.self_times(spans) == pytest.approx({0: 3.0, 1: 3.0})


def test_spark_records_hang_without_double_counting():
    root = _span(0, None, "driver", 0.0, 10.0)
    build = _span(1, 0, "plans", 0.5, 2.0)
    action = _span(2, 0, "driver", 2.0, 9.5)
    phases = [("analysis", 1.0, 1.5), ("optimization", 2.1, 2.6),
              ("planning", 2.6, 3.0)]
    # two stages side by side, one overlapping physical planning
    stages = [{"start": 2.9, "end": 6.0}, {"start": 4.0, "end": 8.0}]
    py = [root, build, action]
    hung = hang_spark_records(py, root, phases, stages)
    layers = stats.layer_self_times(py + hung)
    assert sum(layers.values()) == pytest.approx(10.0)
    assert layers["planning"] == pytest.approx(0.5 + 0.5 + 0.4)
    assert layers["exec"] == pytest.approx(5.0)  # 3.0..8.0
    assert layers["plans"] == pytest.approx(1.5 - 0.5)
    assert {s.parent for s in hung if s.layer == "exec"} == {2}


def test_layer_metrics_account_for_op_wall():
    root = _span(0, None, "driver", 0.0, 2.0)
    dml = _span(1, 0, "dml", 0.5, 1.5, "dml.rewrite")
    op = report.TracedOp(
        kind="update", spans=[root, dml], phases=[],
        stages=[{"start": 0.6, "end": 1.0, "tasks": 4, "run_s": 1.2,
                 "cpu_s": 1.0, "gc_s": 0.0, "input_bytes": 10,
                 "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                 "spill_bytes": 0}],
        py_cpu_s=0.1, jvm_cpu_s=1.5, jvm_gc_s=0.0,
        facts={"rewrite_rows_changed": 5, "bytes_written": 100})
    op.spans += hang_spark_records(op.spans, root, op.phases, op.stages)
    meta = {1: {"rows_rewritten": 50}}
    m = report.layer_metrics([op], op.spans, meta, cores=4,
                             overhead_ops_per_s=-0.1)
    assert set(m) == {name for name, _, _ in report.PER_LAYER}
    assert m["exec.stage_path_s"] == pytest.approx(0.4)
    assert m["exec.gap_s"] == pytest.approx(1.6)
    assert m["dml.self_s"] == pytest.approx(0.6)
    assert m["exec.core_util"] == pytest.approx(1.2 / (2.0 * 4))
    assert m["dml.useful_row_ratio"] == pytest.approx(0.1)
    selfs = sum(m[f"{layer}.self_s"] for layer in report.LAYERS)
    assert selfs == pytest.approx(m["trace.op_wall_s"])


# --- amplification ------------------------------------------------------

def test_write_amp():
    # 3 rows changed at 20 B/row; a 6 kB rewrite is 100x
    assert stats.write_amp(6000, 3, 20.0) == pytest.approx(100.0)
    with pytest.raises(ValueError):
        stats.write_amp(10, 0, 20.0)


def test_space_amp():
    assert stats.space_amp(3000, 100, 20.0) == pytest.approx(1.5)
    with pytest.raises(ValueError):
        stats.space_amp(10, 0, 20.0)


# --- statement kinds and the benchmark definition -----------------------

def test_execute_kind():
    assert execute_kind("INSERT INTO t (a) VALUES (1)") == "insert"
    assert execute_kind("insert into t select a from t") == "insert_select"
    assert execute_kind("INSERT INTO t (a, b) SELECT a, b FROM u") == (
        "insert_select")
    assert execute_kind(" UPDATE t SET a = 1") == "update"
    assert execute_kind("DELETE FROM t WHERE a = 1") == "delete"
    assert execute_kind("BEGIN") == "other"


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(
        report.END_TO_END)
    assert [(m["name"], m["unit"], m["better"])
            for m in bench["per_layer"]] == list(report.PER_LAYER)
    assert [w["name"] for w in bench["workloads"]] == list(
        report.WORKLOADS)
