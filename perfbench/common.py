"""Pieces the workloads share."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from typing import Any


@dataclass
class Op:
    """One closed-loop operation: ``run`` is timed, ``check`` (given
    what ``run`` returned) is not and returns problem strings."""

    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], list[str]]


def compare_rows(srows, scols, orows, ocols) -> list[str]:
    """Order-insensitive comparison of Spark rows with oracle rows, by
    column name, with the oracle module's cell normalization."""
    from mariadb_columnstore_engine_spark.oracle import normalize

    if sorted(scols) != sorted(ocols):
        return [f"columns spark={sorted(scols)} oracle={sorted(ocols)}"]
    if len(srows) != len(orows):
        return [f"rowcount spark={len(srows)} oracle={len(orows)}"]
    a = normalize([tuple(r) for r in srows], list(scols))
    b = normalize([tuple(r) for r in orows], list(ocols))
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
        return [f"values differ, first diffs: {diffs}"]
    return []


def compare_tables(con, spark_table, oracle_table) -> list[str]:
    """The same comparison for large Arrow results, done inside DuckDB:
    the two multisets of rows, columns matched by name, must be
    equal."""
    scols, ocols = spark_table.column_names, oracle_table.column_names
    if sorted(scols) != sorted(ocols):
        return [f"columns spark={sorted(scols)} oracle={sorted(ocols)}"]
    if spark_table.num_rows != oracle_table.num_rows:
        return [f"rowcount spark={spark_table.num_rows} "
                f"oracle={oracle_table.num_rows}"]
    cols = ", ".join(f'"{c}"' for c in sorted(scols))
    con.register("perfbench_spark", spark_table)
    con.register("perfbench_oracle", oracle_table)
    try:
        missing, extra = (con.execute(
            f"SELECT COUNT(*) FROM (SELECT {cols} FROM {a} "
            f"EXCEPT ALL SELECT {cols} FROM {b})").fetchone()[0]
            for a, b in (("perfbench_oracle", "perfbench_spark"),
                         ("perfbench_spark", "perfbench_oracle")))
    finally:
        con.unregister("perfbench_spark")
        con.unregister("perfbench_oracle")
    if missing or extra:
        return [f"{missing} oracle rows missing, {extra} rows extra"]
    return []
