"""Metric names and the per-layer arithmetic over traced ops.

End-to-end metrics come from untraced runs (``--trace 0``); per-layer
metrics from traced runs (``--trace 1``), over a traced window of a
fixed number of ops, so same-seed counts repeat. Conventions:

- ``*.self_s``, ``exec.*``, ``planning.*``, ``sqltrans.repairs``,
  ``dml.rows_rewritten``, ``dml.bytes_written``, ``driver.*`` and
  ``trace.op_wall_s``: mean per traced op.
- Call timings (``engine.sql_s``, ``engine.execute.<kind>_s``,
  ``engine.txn.<verb>_s``, ``sqltrans.translate_s``,
  ``sqltrans.repair_s``, ``statements.parse_s``, ``dml.rewrite_s``,
  ``ingest.read_evolved_s``, ``maintenance.compact_s``): mean inclusive
  seconds per call in the traced window; 0 when the layer had no call.
- ``maintenance.bytes_rewritten``/``files_before``/``files_after``: mean
  per compaction.
- Set-up side (``session.start_s``, ``engine.init_s``,
  ``plans.build_s``, ``plans.memo_hit_ratio``, ``catalog.schema_reads``,
  ``catalog.load_table_s``): totals over set-up plus the traced window.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from perfbench.stats import Span, layer_self_times

#: workload names, in BENCHMARK.json order
WORKLOADS = ("olap_bench_rows", "dml_txn")

END_TO_END = (
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("latency_p50_s", "s"),
    ("success_ratio", "ratio"),
    ("peak_rss_mb", "MB"),
    ("write_amp", "ratio"),
    ("space_amp", "ratio"),
)

#: Layers named after the package's modules, plus Spark's planner
#: (``planning``), its executors (``exec``) and the driver processes
#: (``driver``: time in an op outside every other layer).
LAYERS = ("driver", "engine", "sqltrans", "statements", "plans", "catalog",
          "planning", "exec", "dml", "ingest", "maintenance")

_STAGE_SUMS = (("exec.tasks", "tasks", "count"), ("exec.run_s", "run_s", "s"),
               ("exec.cpu_s", "cpu_s", "s"), ("exec.gc_s", "gc_s", "s"),
               ("exec.input_bytes", "input_bytes", "B"),
               ("exec.shuffle_read_bytes", "shuffle_read_bytes", "B"),
               ("exec.shuffle_write_bytes", "shuffle_write_bytes", "B"),
               ("exec.spill_bytes", "spill_bytes", "B"))

#: QueryPlanningTracker phase → metric stem
PHASES = {"analysis": "analysis", "optimization": "optimization",
          "planning": "physical"}

#: (metric, span name) for per-call means
_CALLS = (("engine.sql_s", "engine.sql"),
          ("sqltrans.translate_s", "sqltrans.translate"),
          ("sqltrans.repair_s", "sqltrans.repair"),
          ("statements.parse_s", "statements.parse"),
          ("engine.execute.insert_s", "engine.execute.insert"),
          ("engine.execute.update_s", "engine.execute.update"),
          ("engine.execute.delete_s", "engine.execute.delete"),
          ("engine.execute.insert_select_s", "engine.execute.insert_select"),
          ("engine.txn.begin_s", "engine.txn.begin"),
          ("engine.txn.commit_s", "engine.txn.commit"),
          ("engine.txn.rollback_s", "engine.txn.rollback"),
          ("dml.rewrite_s", "dml.rewrite"),
          ("ingest.read_evolved_s", "ingest.read_evolved"),
          ("maintenance.compact_s", "maintenance.compact"))

#: (metric, unit, better) of every per-layer metric, in output order
PER_LAYER = (
    (("exec.stages", "count", "lower"),)
    + tuple((m, u, "lower") for m, _, u in _STAGE_SUMS)
    + (("exec.stage_path_s", "s", "lower"), ("exec.gap_s", "s", "lower"),
       ("exec.core_util", "ratio", "higher"),
       ("planning.analysis_s", "s", "lower"),
       ("planning.optimization_s", "s", "lower"),
       ("planning.physical_s", "s", "lower"),
       ("sqltrans.repairs", "count", "lower"))
    + tuple((m, "s", "lower") for m, _ in _CALLS)
    + (("plans.build_s", "s", "lower"), ("plans.memo_hit_ratio", "ratio",
                                          "higher"),
       ("catalog.schema_reads", "count", "lower"),
       ("catalog.load_table_s", "s", "lower"),
       ("session.start_s", "s", "lower"), ("engine.init_s", "s", "lower"),
       ("dml.rows_rewritten", "count", "lower"),
       ("dml.useful_row_ratio", "ratio", "higher"),
       ("dml.bytes_written", "B", "lower"),
       ("maintenance.bytes_rewritten", "B", "lower"),
       ("maintenance.files_before", "count", "lower"),
       ("maintenance.files_after", "count", "lower"),
       ("driver.py_cpu_s", "s", "lower"), ("driver.jvm_cpu_s", "s", "lower"),
       ("driver.jvm_gc_s", "s", "lower"))
    + tuple((f"{layer}.self_s", "s", "lower") for layer in LAYERS)
    + (("trace.op_wall_s", "s", "lower"), ("trace.ops", "count", "higher"),
       ("trace.overhead_ops_per_s", "1/s", "higher"))
)


@dataclass
class TracedOp:
    """One op of the traced window. ``spans`` holds the op's Python
    spans (its root first) and the Spark records hung among them."""

    kind: str
    spans: list[Span]
    phases: list[tuple[str, float, float]]
    stages: list[dict]
    py_cpu_s: float
    jvm_cpu_s: float
    jvm_gc_s: float
    index: int = -1
    facts: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.spans[0].duration


def _mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0


def layer_metrics(ops: list[TracedOp], all_spans: list[Span],
                  meta: dict[int, dict], cores: int,
                  overhead_ops_per_s: float) -> dict[str, float]:
    """Every PER_LAYER metric from the traced window ``ops`` and from
    all spans of the run (set-up included)."""
    k = len(ops)
    if k == 0:
        raise ValueError("no traced ops")
    out: dict[str, float] = {}
    wall = sum(op.wall for op in ops)
    selfs = {layer: 0.0 for layer in LAYERS}
    for op in ops:
        for layer, t in layer_self_times(op.spans).items():
            if layer not in selfs:
                raise ValueError(f"span of unknown layer {layer!r}")
            selfs[layer] += t
    if abs(sum(selfs.values()) - wall) > 1e-6 * max(wall, 1.0):
        raise RuntimeError(
            f"layer self times {sum(selfs.values())} do not add up to "
            f"the traced op wall {wall}")
    stages = [st for op in ops for st in op.stages]
    out["exec.stages"] = len(stages) / k
    for metric, key, _ in _STAGE_SUMS:
        out[metric] = sum(st[key] for st in stages) / k
    out["exec.stage_path_s"] = selfs["exec"] / k
    out["exec.gap_s"] = (wall - selfs["exec"]) / k
    out["exec.core_util"] = out["exec.run_s"] * k / (wall * cores)
    for phase, name in PHASES.items():
        out[f"planning.{name}_s"] = sum(
            end - start for op in ops for p, start, end in op.phases
            if p == phase) / k
    window = [s for op in ops for s in op.spans]
    by_name: dict[str, list[Span]] = {}
    for s in window:
        by_name.setdefault(s.name, []).append(s)
    out["sqltrans.repairs"] = len(by_name.get("sqltrans.repair", [])) / k
    for metric, name in _CALLS:
        out[metric] = _mean([s.duration for s in by_name.get(name, [])])
    everywhere: dict[str, list[Span]] = {}
    for s in all_spans:
        everywhere.setdefault(s.name, []).append(s)
    builds = everywhere.get("plans.build", [])
    out["plans.build_s"] = sum(s.duration for s in builds)
    out["plans.memo_hit_ratio"] = _mean(
        [float(meta.get(s.id, {}).get("memo_hit", False)) for s in builds])
    out["catalog.schema_reads"] = float(len(everywhere.get(
        "catalog.schema_read", [])))
    out["catalog.load_table_s"] = sum(
        s.duration for s in everywhere.get("catalog.load_table", []))
    out["session.start_s"] = sum(
        s.duration for s in everywhere.get("session.start", []))
    out["engine.init_s"] = sum(
        s.duration for s in everywhere.get("engine.init", []))
    rewritten = sum(meta.get(s.id, {}).get("rows_rewritten", 0)
                    for s in by_name.get("dml.rewrite", []))
    changed = sum(op.facts.get("rewrite_rows_changed", 0) for op in ops)
    out["dml.rows_rewritten"] = rewritten / k
    out["dml.useful_row_ratio"] = changed / rewritten if rewritten else 0.0
    out["dml.bytes_written"] = sum(
        op.facts.get("bytes_written", 0) for op in ops
        if op.kind != "compact") / k
    compactions = [meta.get(s.id, {})
                   for s in by_name.get("maintenance.compact", [])]
    out["maintenance.bytes_rewritten"] = _mean(
        [c.get("bytes_before", 0) for c in compactions])
    out["maintenance.files_before"] = _mean(
        [c.get("files_before", 0) for c in compactions])
    out["maintenance.files_after"] = _mean(
        [c.get("files_after", 0) for c in compactions])
    out["driver.py_cpu_s"] = sum(op.py_cpu_s for op in ops) / k
    out["driver.jvm_cpu_s"] = sum(op.jvm_cpu_s for op in ops) / k
    out["driver.jvm_gc_s"] = sum(op.jvm_gc_s for op in ops) / k
    for layer in LAYERS:
        out[f"{layer}.self_s"] = selfs[layer] / k
    out["trace.op_wall_s"] = wall / k
    out["trace.ops"] = float(k)
    out["trace.overhead_ops_per_s"] = overhead_ops_per_s
    return {m: float(out[m]) for m, _, _ in PER_LAYER}
