"""Tracing for ``--trace 1`` runs.

Spans are recorded from the benchmark's own files: ``Tracer.wrap``
replaces a public function of the package with a timing wrapper for the
duration of the run, and ``restore`` puts the original back. Spark's
own records are read after each op: the ``QueryPlanningTracker`` phases
of every ``QueryExecution`` the op ran (through a
``QueryExecutionListener``) and the ``AppStatusStore`` stage data of the
op's jobs (through a job group per op). Both are hung into the op's
span tree as ``planning`` and ``exec`` spans, so every instant of an op
belongs to exactly one layer.
"""

from __future__ import annotations

import functools
import itertools
import re
import threading
import time
from contextlib import contextmanager, nullcontext

from perfbench.report import PHASES
from perfbench.stats import Span, innermost_containing, subtract


class Tracer:
    """Spans kept in memory. ``enabled`` False makes every span and
    wrapper a pass-through."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        #: extra facts a wrapper recorded, by span id
        self.meta: dict[int, dict] = {}
        self.op: int | None = None  # None while setting up
        self._local = threading.local()  # per-thread stack of open spans
        self._ids = itertools.count()
        self._patches: list[tuple[object, str, object]] = []

    def span(self, layer: str, name: str):
        if not self.enabled:
            return nullcontext()
        return self._span(layer, name)

    @contextmanager
    def _span(self, layer: str, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1].id if stack else None
        s = Span(next(self._ids), parent, layer, name, time.time(), 0.0,
                 self.op)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self.spans.append(s)

    def note(self, span: Span | None, **facts) -> None:
        """Attach facts to a span (a no-op when tracing is off)."""
        if span is not None:
            self.meta.setdefault(span.id, {}).update(facts)

    def wrap(self, owner, attr: str, layer: str, name, facts=None):
        """Time every call of ``owner.attr`` as a span of ``layer``.
        ``name`` is a string or a function of the call's arguments;
        ``facts`` maps the call's result to a dict kept in ``meta``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            label = name(args, kwargs) if callable(name) else name
            with tracer._span(layer, label) as s:
                result = orig(*args, **kwargs)
            if facts is not None:
                tracer.note(s, **facts(result))
            return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


_DML_KIND = re.compile(r"\s*(insert|update|delete|replace)\b", re.I)
_INSERT_SELECT = re.compile(r"^\s*insert\s+into\s+\S+\s*(\([^)]*\)\s*)?select\b",
                            re.I)


def execute_kind(stmt: str) -> str:
    """Statement kind for ``engine.execute.<kind>`` spans."""
    if _INSERT_SELECT.match(stmt):
        return "insert_select"
    m = _DML_KIND.match(stmt)
    return m.group(1).lower() if m else "other"


def install_layer_wraps(tracer: Tracer) -> None:
    """Wrap the calls into each layer named after the package's
    modules."""
    from mariadb_columnstore_engine_spark import catalog, session, statements
    from mariadb_columnstore_engine_spark.engine import Engine
    from mariadb_columnstore_engine_spark.functions import sqltrans
    from mariadb_columnstore_engine_spark.sources import dml, ingest, maintenance

    tracer.wrap(session, "get_session", "session", "session.start")
    tracer.wrap(Engine, "__init__", "engine", "engine.init")
    tracer.wrap(Engine, "sql", "engine", "engine.sql")
    tracer.wrap(Engine, "execute", "engine", lambda a, kw: (
        f"engine.execute.{execute_kind(kw.get('stmt') or a[1])}"))
    for verb in ("begin", "commit", "rollback"):
        tracer.wrap(Engine, verb, "engine", f"engine.txn.{verb}")
    tracer.wrap(sqltrans, "translate_statement", "sqltrans",
                "sqltrans.translate")
    tracer.wrap(sqltrans, "analysis_repair", "sqltrans", "sqltrans.repair")
    tracer.wrap(statements, "parse", "statements", "statements.parse")
    tracer.wrap(catalog, "load_table", "catalog", "catalog.load_table")
    # load_table's cache-miss path: one parquet footer (schema) read
    tracer.wrap(catalog, "_read_table", "catalog", "catalog.schema_read")
    for fn in ("delete_where", "update_where", "replace_into", "upsert_into"):
        tracer.wrap(dml, fn, "dml", "dml.rewrite",
                    lambda n: {"rows_rewritten": int(n)})
    tracer.wrap(ingest, "read_table_evolved", "ingest", "ingest.read_evolved")
    # compact_table returns {files_before, files_after, bytes_before}
    tracer.wrap(maintenance, "compact_table", "maintenance",
                "maintenance.compact", dict)


class _PlanningListener:
    """py4j implementation of Spark's ``QueryExecutionListener``: keeps
    the planning phases of every finished ``QueryExecution``."""

    def __init__(self):
        self.lock = threading.Lock()
        self.phases: list[tuple[str, float, float]] = []

    def _record(self, qe) -> None:
        it = qe.tracker().phases().iterator()
        got = []
        while it.hasNext():
            kv = it.next()
            got.append((kv._1(), kv._2().startTimeMs() / 1000.0,
                        kv._2().endTimeMs() / 1000.0))
        with self.lock:
            self.phases += got

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        self._record(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self._record(qe)

    def take(self) -> list[tuple[str, float, float]]:
        with self.lock:
            out, self.phases = self.phases, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class StageEvictedError(RuntimeError):
    """An op's job or stage left the status store before it was read."""


class SparkProbe:
    """Reads Spark's planner and executor records for one op at a
    time."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._dag = jsc.dagScheduler()
        self._no_quantiles = self.sc._gateway.new_array(
            self.sc._gateway.jvm.double, 0)
        self._no_status = self.sc._gateway.jvm.java.util.ArrayList()
        ensure_callback_server_started(self.sc._gateway)
        self.listener = _PlanningListener()
        spark._jsparkSession.listenerManager().register(self.listener)
        self._first_job = 0
        self._group = None

    def start_op(self, op: int) -> None:
        self._bus.waitUntilEmpty()
        self.listener.take()
        self._group = f"perfbench-op-{op}"
        self.sc.setJobGroup(self._group, self._group, False)
        self._first_job = self._dag.numTotalJobs()

    def finish_op(self) -> tuple[list[tuple[str, float, float]], list[dict]]:
        """(planning phases, stage records) of the op just run."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self._bus.waitUntilEmpty()
        stages: dict[int, dict] = {}
        for job_id in range(self._first_job, self._dag.numTotalJobs()):
            try:
                job = self._store.job(job_id)
            except Exception as e:  # noqa: BLE001 — py4j NoSuchElement
                raise StageEvictedError(
                    f"job {job_id} of {self._group} is no longer in the "
                    "status store; read would undercount") from e
            group = job.jobGroup()
            if group.isEmpty() or group.get() != self._group:
                raise StageEvictedError(
                    f"job {job_id} ran outside {self._group}")
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid not in stages:
                    stages[sid] = self._stage(sid)
        return self.listener.take(), [s for s in stages.values() if s]

    def _stage(self, sid: int) -> dict | None:
        try:
            attempts = self._store.stageData(
                sid, False, self._no_status, False, self._no_quantiles)
        except Exception as e:  # noqa: BLE001 — py4j NoSuchElement
            raise StageEvictedError(
                f"stage {sid} of {self._group} was evicted from the status "
                "store (spark.ui.retainedStages); read would undercount"
            ) from e
        rec = None
        for i in range(attempts.size()):
            s = attempts.apply(i)
            status = s.status().toString()
            if status == "SKIPPED":
                continue
            if status not in ("COMPLETE", "FAILED"):
                raise RuntimeError(f"stage {sid} still {status} after op")
            start = s.submissionTime().get().getTime() / 1000.0
            end = s.completionTime().get().getTime() / 1000.0
            a = {
                "start": start, "end": end, "tasks": s.numTasks(),
                "run_s": s.executorRunTime() / 1000.0,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1000.0,
                "input_bytes": s.inputBytes(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            }
            if rec is None:
                rec = a
            else:  # a retried stage: both attempts ran
                rec["start"] = min(rec["start"], start)
                rec["end"] = max(rec["end"], end)
                for k in a:
                    if k not in ("start", "end"):
                        rec[k] += a[k]
        return rec

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self.listener)


def hang_spark_records(
    op_spans: list[Span], root: Span, phases, stages
) -> list[Span]:
    """``planning`` and ``exec`` spans for one op. Each record hangs
    under the innermost Python span that contains its start, cut to
    that span and to the time its siblings do not already cover, so no
    instant is counted twice. Stages that overlap merge into one
    ``exec`` interval."""
    out: list[Span] = []
    next_id = max(s.id for s in op_spans) + 1
    covered: dict[int, list[tuple[float, float]]] = {}
    for s in op_spans:
        if s.parent is not None:
            covered.setdefault(s.parent, []).append((s.start, s.end))
    records = [("planning", f"planning.{PHASES.get(p, p)}",
                start, end) for p, start, end in phases]
    records += [("exec", "exec.stage", st["start"], st["end"])
                for st in stages]
    for layer, name, start, end in records:
        parent = innermost_containing(op_spans, start, root)
        lo, hi = max(start, parent.start), min(end, parent.end)
        if hi <= lo:
            continue
        siblings = covered.setdefault(parent.id, [])
        for piece in subtract((lo, hi), siblings):
            out.append(Span(next_id, parent.id, layer, name, piece[0],
                            piece[1], root.op))
            next_id += 1
            siblings.append(piece)
    return out
