"""``olap_bench_rows``: the registry's ``bench=True`` rows at sf0.1,
built through ``QuerySpec.fn`` and run with each spec's declared sink.

Every pass runs all rows in a seeded shuffled order. Set-up runs two
untimed passes, which fill the built-plan memo and warm the JVM, so
timed ops are execution-bound. Each row's result is checked against the
row's DuckDB oracle once per run: a collect-sink row's first timed
result, and a noop-sink row's first set-up result, which set-up fetches
as Arrow instead of discarding it. Those large results are compared
inside DuckDB.
"""

from __future__ import annotations

import random

from perfbench.common import Op, compare_rows, compare_tables
from perfbench.spark_env import cores, data_dir

SF = "0.1"


class OlapBenchRows:
    name = "olap_bench_rows"

    def __init__(self, spark, seed: int, tracer, workdir: str):
        from mariadb_columnstore_engine_spark.plans import load_all

        self.spark = spark
        self.tracer = tracer
        self.sf_dir = data_dir(SF)
        self.specs = {s.name: s for s in load_all().values() if s.bench}
        #: ops per round: one pass over every row
        self.round_ops = len(self.specs)
        self._rng = random.Random(seed)
        self._pass: list[str] = []
        self._first: dict[str, tuple] = {}
        self._large: dict[str, tuple] = {}

    def _build(self, spec):
        memo = getattr(self.spark, "_mcs_query_plan_cache", {})
        hit = (spec.name, self.sf_dir.rstrip("/")) in memo
        with self.tracer.span("plans", "plans.build") as s:
            df = spec.fn(self.spark, self.sf_dir)
        self.tracer.note(s, memo_hit=hit)
        return df

    def _sink(self, spec, df):
        if spec.sink == "noop":
            with self.tracer.span("driver", "action.noop"):
                df.write.format("noop").mode("overwrite").save()
            return df, None
        with self.tracer.span("driver", "action.collect"):
            return df, df.collect()

    def _warm(self, spec, df) -> None:
        if spec.sink == "noop":
            self._large[spec.name] = (df, df.toArrow())
        else:
            self._sink(spec, df)

    def setup(self) -> None:
        """Two untimed passes. The first builds every plan into the
        memo, one by one, then runs the plans side by side on one thread
        per core, which pays the first code generation and JIT compiles
        in less time. The second runs them one at a time, as the timed
        ops do: right after the first, rows still ran 20-40% slower, and
        by how much varied from run to run."""
        from concurrent.futures import ThreadPoolExecutor

        built = [(spec, self._build(spec))
                 for _, spec in sorted(self.specs.items())]
        with ThreadPoolExecutor(max_workers=cores()) as pool:
            futures = [pool.submit(self._warm, spec, df)
                       for spec, df in built]
            for future in futures:
                future.result()
        for spec, _ in built:
            self._sink(spec, self._build(spec))

    def next_op(self) -> Op:
        if not self._pass:
            self._pass = sorted(self.specs)
            self._rng.shuffle(self._pass)
        spec = self.specs[self._pass.pop()]

        def check(result) -> list[str]:
            df, rows = result
            if rows is not None and spec.name not in self._first:
                self._first[spec.name] = (df, rows)
            return []

        return Op(spec.name,
                  lambda: self._sink(spec, self._build(spec)), check)

    def finish(self) -> list[tuple[str, str]]:
        """Oracle comparison, once per row: (row name, problem) pairs."""
        from mariadb_columnstore_engine_spark.oracle import (
            duckdb_connect,
            type_problems,
        )

        problems = []
        con = duckdb_connect(self.sf_dir)
        try:
            for name in sorted(self.specs):
                spec = self.specs[name]
                if spec.oracle is None:
                    continue
                otable = con.execute(spec.oracle).arrow()
                if name in self._first:
                    df, rows = self._first[name]
                    found = compare_rows(
                        rows, df.columns,
                        list(zip(*[c.to_pylist() for c in otable.columns])),
                        otable.column_names,
                    )
                else:
                    df, table = self._large[name]
                    found = compare_tables(con, table, otable)
                found = type_problems(df.schema, otable.schema) + found
                problems += [(name, p) for p in found]
        finally:
            con.close()
        return problems

    def amplification(self) -> tuple[float, float]:
        """A read-only workload writes nothing and stores only its
        inputs: both ratios are 1 by definition."""
        return 1.0, 1.0
