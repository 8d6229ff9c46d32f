#!/usr/bin/env python3
"""Closed-loop benchmark of the engine package: one Python process, one
client, ``local[<cores>]``.

    python3 perfbench/run.py --workload olap_bench_rows --seed 1 \
        --seconds 5 --trace 0

Workloads: ``olap_bench_rows`` and ``dml_txn`` (see their modules and
BENCHMARK.json). ``--trace 0`` measures and prints the end-to-end
metrics; ``--trace 1`` traces a fixed window of ops through every layer
and prints the per-layer metrics (perfbench/report.py). Every run checks
the program's results against DuckDB.
The last line of standard output is one JSON object; diagnostics go to
standard error. Exit status: 0 when every result was correct, 1 on any
mismatch or failed op, 2 when the package or fixtures are missing.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))



def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _since_process_start() -> float:
    """Seconds since this process started (stat(5) starttime)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _workload(name: str):
    if name == "olap_bench_rows":
        from perfbench.olap_bench_rows import OlapBenchRows
        return OlapBenchRows
    from perfbench.dml_txn import DmlTxn
    return DmlTxn


class Loop:
    """Runs ops closed-loop and keeps what the metrics need."""

    def __init__(self, workload, tracer, env):
        self.workload = workload
        self.tracer = tracer
        self.env = env
        self.latencies: list[float] = []
        self.kinds: list[str] = []
        self.failed_ops: list[bool] = []
        self.problems: list[str] = []
        self.check_s = 0.0  # untimed correctness checks inside the loop

    def _check(self, op, result) -> list[str]:
        enabled, self.tracer.enabled = self.tracer.enabled, False
        t0 = time.perf_counter()
        try:
            return op.check(result)
        except Exception:  # noqa: BLE001 — a broken check is a failure
            return [f"check raised: {traceback.format_exc()}"]
        finally:
            self.check_s += time.perf_counter() - t0
            self.tracer.enabled = enabled

    def one(self, probe=None):
        """Run, time and check one op; with ``probe`` (a SparkProbe)
        also trace it and return its TracedOp."""
        from perfbench.report import TracedOp

        op = self.workload.next_op()
        i = len(self.latencies)
        if probe is not None:
            probe.start_op(i)
            cpu0 = (time.process_time(), self.env.jvm_cpu_s(),
                    self.env.jvm_gc_s())
            self.tracer.op = i
        result, problems = None, []
        self.workload.facts = {}
        t0 = time.perf_counter()
        try:
            with self.tracer.span("driver", "op"):
                result = op.run()
        except Exception:  # noqa: BLE001 — counted, reported, run goes on
            problems.append(f"op raised: {traceback.format_exc()}")
        self.latencies.append(time.perf_counter() - t0)
        self.kinds.append(op.kind)
        trace = None
        if probe is not None:
            self.tracer.op = None
            cpu1 = (time.process_time(), self.env.jvm_cpu_s(),
                    self.env.jvm_gc_s())
            phases, stages = probe.finish_op()
            trace = TracedOp(op.kind, [], phases, stages,
                             *(b - a for a, b in zip(cpu0, cpu1)), index=i)
        if not problems:
            problems = self._check(op, result)
        if trace is not None:
            trace.facts = dict(self.workload.facts)
        self.failed_ops.append(bool(problems))
        self.problems += [f"op {i} ({op.kind}): {p}" for p in problems]
        return trace

    def failed(self, failed_kinds: set[str]) -> int:
        """Ops that failed, counting every op of a kind a final check
        found wrong; at least one when a final check found anything."""
        n = sum(f or k in failed_kinds
                for f, k in zip(self.failed_ops, self.kinds))
        return max(n, 1) if failed_kinds else n

    def rounds(self, deadline: float) -> None:
        """Whole rounds of ops, at least one, until ``deadline``."""
        while True:
            for _ in range(self.workload.round_ops):
                self.one()
            if time.perf_counter() >= deadline:
                return


def _e2e(loop: Loop, failed: int, wall: float, setup_s: float,
         peak_rss_mb: float, workload) -> dict:
    from perfbench.stats import harrell_davis, highest_supported_percentile

    n = len(loop.latencies)
    by_kind: dict[str, list[float]] = {}
    for kind, t in zip(loop.kinds, loop.latencies):
        by_kind.setdefault(kind, []).append(t)
    for kind, ts in sorted(by_kind.items()):
        _log(f"# {kind}: " + " ".join(f"{t:.3f}" for t in ts))
    supported = highest_supported_percentile(n)
    _log(f"# {n} ops; highest percentile with >=10 samples beyond: "
         f"{supported if supported is not None else 'none'}")
    write_amp, space_amp = workload.amplification()
    return {
        "setup_s": setup_s,
        "ops_per_s": (n - failed) / wall,
        "latency_p50_s": harrell_davis(loop.latencies, 0.50),
        "success_ratio": (n - failed) / n,
        "peak_rss_mb": peak_rss_mb,
        "write_amp": write_amp,
        "space_amp": space_amp,
    }


def _environment(env, args) -> dict:
    import duckdb
    import pyspark

    jvm = env.spark._jvm.java.lang.System
    return {
        "seed": args.seed, "workload": args.workload,
        "seconds": args.seconds, "trace": args.trace,
        "cores": env.spark.sparkContext.defaultParallelism,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "jdk": jvm.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "spark_conf": env.resolved_conf(),
    }


def _traced_rounds(loop: Loop, spark, deadline: float):
    """The traced first round, then untraced rounds (at least one)
    until ``deadline``: (traced ops, traced minus untraced ops/s)."""
    from perfbench.tracing import SparkProbe

    t0, checks0 = time.perf_counter(), loop.check_s
    probe = SparkProbe(spark)
    traced = [loop.one(probe) for _ in range(loop.workload.round_ops)]
    probe.close()
    loop.tracer.enabled = False
    t1, checks1 = time.perf_counter(), loop.check_s
    loop.rounds(deadline)
    t2, checks2 = time.perf_counter(), loop.check_s
    traced_rate = len(traced) / (t1 - t0 - (checks1 - checks0))
    untraced_rate = (len(loop.latencies) - len(traced)) / (
        t2 - t1 - (checks2 - checks1))
    return traced, traced_rate - untraced_rate


def measure(args) -> tuple[dict, list[str], int, int, dict]:
    """One run: (metrics, problems, attempted, failed, environment)."""
    from perfbench.report import END_TO_END, PER_LAYER, layer_metrics
    from perfbench.spark_env import SparkEnv, cores
    from perfbench.tracing import Tracer, hang_spark_records, \
        install_layer_wraps

    tracer = Tracer(enabled=bool(args.trace))
    if args.trace:
        install_layer_wraps(tracer)
    env = SparkEnv(ROOT)
    try:
        spark = env.start()
        workload = _workload(args.workload)(
            spark, args.seed, tracer, env.tmp)
        workload.setup()
        environment = _environment(env, args)
        loop = Loop(workload, tracer, env)
        setup_s = _since_process_start()
        t0 = time.perf_counter()
        if args.trace:
            traced, overhead = _traced_rounds(loop, spark, t0 + args.seconds)
        else:
            loop.rounds(t0 + args.seconds)
            wall = time.perf_counter() - t0 - loop.check_s
            peak_rss_mb = env.peak_rss_mb()
        t_final = time.perf_counter()
        final = workload.finish()
        _log(f"# set-up {setup_s:.1f} s, loop {t_final - t0:.1f} s "
             f"(checks {loop.check_s:.1f} s), final check "
             f"{time.perf_counter() - t_final:.1f} s")
        problems = loop.problems + [
            f"final check ({kind}): {p}" for kind, p in final]
        failed = loop.failed({kind for kind, _ in final})
        if not args.trace:
            metrics = _e2e(loop, failed, wall, setup_s, peak_rss_mb,
                           workload)
            units = dict(END_TO_END)
        else:
            for op in traced:
                spans = [s for s in tracer.spans if s.op == op.index]
                spans.sort(key=lambda s: (s.parent is not None, s.start))
                op.spans = spans + hang_spark_records(
                    spans, spans[0], op.phases, op.stages)
                _log(f"# traced {op.kind}: {op.wall:.3f} s, "
                     f"{len(op.stages)} stages, "
                     f"{sum(st['tasks'] for st in op.stages)} tasks")
            metrics = layer_metrics(traced, tracer.spans, tracer.meta,
                                    cores(), overhead)
            units = {m: u for m, u, _ in PER_LAYER}
        return ({m: {"value": v, "unit": units[m]} for m, v in metrics.items()},
                problems, len(loop.latencies), failed, environment)
    finally:
        tracer.restore()
        env.close()


def main(argv=None) -> int:
    from perfbench.report import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import mariadb_columnstore_engine_spark  # noqa: F401
    except ImportError as e:
        _log(f"perfbench: cannot import the engine package from {ROOT}: {e}")
        return 2
    from perfbench.spark_env import data_dir

    try:
        data_dir("0.1")
    except FileNotFoundError as e:
        _log(f"perfbench: {e}")
        return 2
    metrics, problems, attempted, failed, environment = measure(args)
    for p in problems:
        _log(f"MISMATCH {p}")
    print(json.dumps({"environment": environment}))
    for name, m in metrics.items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    correct = not problems
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    # import from the checkout root, not from perfbench/, whose module
    # names must not shadow standard ones
    sys.path[0] = ROOT
    raise SystemExit(main())
