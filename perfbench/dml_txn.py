"""``dml_txn``: writes beside reads on a user table that set-up seeds
from sf0.1 ``orders`` (150k rows) in the run's temp warehouse.

A round is a seeded shuffle of 14 ops (5 point/range reads, 3 ``INSERT …
VALUES``, 2 ``UPDATE … WHERE``, 1 ``DELETE … WHERE``, 1 ``INSERT …
SELECT``, one transaction that commits and one that rolls back) and then
one ``compact_table``: compaction runs every 9 writes. With 15 ops a
round's median latency falls inside the cluster of the four inserts
rather than on the edge between two kinds of op. Each statement
touches a fixed number of rows, so bytes written per user byte do not
hinge on the seed. Every statement is applied to a DuckDB mirror too:
reads are compared row for row, and count/sum checksums after every
transaction, every compaction and at the end.
"""

from __future__ import annotations

import os
import random
import shutil

from perfbench.common import Op, compare_rows
from perfbench.spark_env import data_dir

SF = "0.1"
TABLE = "orders_w"
COLUMNS = ("o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
           "o_orderdate, o_orderpriority")
ROUND = (["point_read"] * 3 + ["range_read"] * 2 + ["insert"] * 3
         + ["update"] * 2 + ["delete", "insert_select", "txn_commit",
                             "txn_rollback"])
#: rows each statement inserts, updates or deletes
INSERT_ROWS, UPDATE_ROWS, DELETE_ROWS, COPY_ROWS = 3, 10, 5, 10
#: statements inside each transaction
TXN_WRITES = {"txn_commit": ("update", "insert"),
              "txn_rollback": ("delete", "update")}
CHECKSUM = (f"SELECT COUNT(*) AS n, SUM(o_orderkey) AS sk, SUM(o_custkey) AS "
            "sc, SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents, "
            f"SUM(LENGTH(o_orderpriority)) AS lp FROM {TABLE}")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _stored_bytes(root: str) -> int:
    """Bytes of every file under ``root``."""
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


class DmlTxn:
    name = "dml_txn"
    #: ops per round: the shuffled ops and the compaction
    round_ops = len(ROUND) + 1

    def __init__(self, spark, seed: int, tracer, workdir: str):
        self.spark = spark
        self.tracer = tracer
        self.sf_dir = data_dir(SF)
        self.warehouse = os.path.join(workdir, "warehouse")
        self.path = os.path.join(self.warehouse, TABLE)
        self._rng = random.Random(seed)
        self._round: list[str] = []
        self.engine = None
        self.duck = None
        self._seed_rows = 0
        self._next_key = 0
        self._written_mark = 0
        self.bytes_per_row = 0.0
        #: since set-up: bytes written, rows inserted/changed/deleted
        self.bytes_written = 0
        self.rows_touched = 0
        self.live_rows = 0
        #: the last op's facts, read by the runner
        self.facts: dict[str, int] = {}

    # --- set-up --------------------------------------------------------

    def setup(self) -> None:
        import duckdb

        from mariadb_columnstore_engine_spark.engine import Engine

        src = os.path.join(self.sf_dir, "orders.parquet")
        os.makedirs(self.path)
        shutil.copyfile(src, os.path.join(self.path, "part-00000.parquet"))
        self.engine = Engine(self.spark, self.sf_dir,
                             warehouse=self.warehouse)
        self.engine.attach_table(TABLE, self.path, keys=["o_orderkey"])
        self.duck = duckdb.connect()
        self.duck.execute(
            f"CREATE TABLE {TABLE} AS SELECT {COLUMNS} FROM '{src}'")
        n, top = self.duck.execute(
            f"SELECT COUNT(*), MAX(o_orderkey) FROM {TABLE}").fetchone()
        self._seed_rows, self._next_key = n, top + 1
        self.bytes_per_row = os.path.getsize(src) / n
        # warm-up: one op of each kind, mirrored, compaction last as in
        # a round; a kind's first op ran up to twice as slow as the rest
        for kind in sorted(set(ROUND)) + ["compact"]:
            op = self._op(kind)
            op.check(op.run())
        self._written_mark = self._hadoop_bytes_written()
        self.bytes_written = self.rows_touched = 0

    # --- statements ----------------------------------------------------

    def _range(self, rows: int) -> tuple[int, int]:
        """A key range of ``rows`` keys among the seed rows (deletes
        rarely thin it: a round deletes 5 of 150k)."""
        a = self._rng.randrange(self._seed_rows - rows)
        return a, a + rows - 1

    def _insert(self) -> str:
        rows = []
        for _ in range(INSERT_ROWS):
            k = self._next_key
            self._next_key += 1
            cents = self._rng.randrange(100_000, 50_000_000)
            day = self._rng.randrange(1, 29)
            rows.append(
                f"({k}, {self._rng.randrange(15_000)}, "
                f"'{self._rng.choice('FOP')}', {cents // 100}.{cents % 100:02d}, "
                f"'1998-{self._rng.randrange(1, 13):02d}-{day:02d} 00:00:00', "
                f"'{self._rng.choice(PRIORITIES)}')")
        return f"INSERT INTO {TABLE} ({COLUMNS}) VALUES " + ", ".join(rows)

    def _update(self) -> str:
        a, b = self._range(UPDATE_ROWS)
        return (f"UPDATE {TABLE} SET o_totalprice = o_totalprice + "
                f"{self._rng.randint(1, 100)}, o_orderpriority = "
                f"'{self._rng.choice(PRIORITIES)}' WHERE o_orderkey BETWEEN "
                f"{a} AND {b}")

    def _delete(self) -> str:
        a, b = self._range(DELETE_ROWS)
        return f"DELETE FROM {TABLE} WHERE o_orderkey BETWEEN {a} AND {b}"

    def _insert_select(self) -> str:
        a, b = self._range(COPY_ROWS)
        shift = self._next_key - a
        self._next_key += COPY_ROWS
        return (f"INSERT INTO {TABLE} SELECT o_orderkey + {shift}, o_custkey, "
                "o_orderstatus, o_totalprice, o_orderdate, o_orderpriority "
                f"FROM {TABLE} WHERE o_orderkey BETWEEN {a} AND {b}")

    def _read(self, kind: str) -> str:
        if kind == "point_read":
            return (f"SELECT {COLUMNS} FROM {TABLE} WHERE o_orderkey = "
                    f"{self._rng.randrange(self._next_key)}")
        a, b = self._range(self._rng.randrange(100, 5000))
        return (f"SELECT COUNT(*) AS n, SUM(o_custkey) AS sc, "
                "SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents "
                f"FROM {TABLE} WHERE o_orderkey BETWEEN {a} AND {b}")

    def _statement(self, kind: str) -> str:
        return {"insert": self._insert, "update": self._update,
                "delete": self._delete,
                "insert_select": self._insert_select}[kind]()

    # --- ops -----------------------------------------------------------

    def _collect(self, sql: str):
        df = self.engine.sql(sql)
        with self.tracer.span("driver", "action.collect"):
            return df, df.collect()

    def _mirror(self, sql: str) -> int:
        """Apply one write to DuckDB; rows it inserted/changed/deleted."""
        return int(self.duck.execute(sql).fetchone()[0])

    def _checksum(self) -> list[str]:
        df, rows = self._collect(CHECKSUM)
        cur = self.duck.execute(CHECKSUM)
        return compare_rows(rows, df.columns, cur.fetchall(),
                            [d[0] for d in cur.description])

    def _hadoop_bytes_written(self) -> int:
        """Bytes the JVM has written through Hadoop's local file system:
        every table file, checksum and marker Spark writes, which in
        this workload all land under the warehouse. Counts files a
        later rewrite or ROLLBACK removed, unlike a directory walk."""
        fs = self.spark._jvm.org.apache.hadoop.fs.FileSystem
        return sum(s.getBytesWritten() for s in fs.getAllStatistics()
                   if s.getScheme() == "file")

    def _account(self, rows: int, rewritten_rows: int = 0) -> None:
        """Record the op's user rows (``rewritten_rows`` of them by a
        copy-on-write UPDATE/DELETE) and the bytes it wrote."""
        mark = self._hadoop_bytes_written()
        new, self._written_mark = mark - self._written_mark, mark
        self.bytes_written += new
        self.rows_touched += rows
        self.facts = {"bytes_written": new,
                      "rewrite_rows_changed": rewritten_rows}

    def _op(self, kind: str) -> Op:
        if kind in ("point_read", "range_read"):
            sql = self._read(kind)

            def check_read(result):
                df, rows = result
                self.facts = {}
                cur = self.duck.execute(sql)
                return compare_rows(rows, df.columns, cur.fetchall(),
                                    [d[0] for d in cur.description])

            return Op(kind, lambda: self._collect(sql), check_read)
        if kind == "compact":
            from mariadb_columnstore_engine_spark.sources import maintenance

            def compact():
                out = maintenance.compact_table(self.spark, self.path)
                # re-register the view over the rewritten files
                self.engine.attach_table(TABLE, self.path,
                                         keys=["o_orderkey"])
                return out

            def check_compact(_):
                self._account(0)
                return self._checksum()

            return Op(kind, compact, check_compact)
        if kind in TXN_WRITES:
            stmts = [(k, self._statement(k)) for k in TXN_WRITES[kind]]
            end = (self.engine.commit if kind == "txn_commit"
                   else self.engine.rollback)

            def txn():
                self.engine.begin()
                try:
                    for _, s in stmts:
                        self.engine.execute(s)
                except Exception:
                    self.engine.rollback()
                    raise
                end()

            def check_txn(_):
                self.duck.execute("BEGIN")
                changed = [(k, self._mirror(s)) for k, s in stmts]
                if kind == "txn_commit":
                    self.duck.execute("COMMIT")
                    self._account(sum(n for _, n in changed), sum(
                        n for k, n in changed if k in ("update", "delete")))
                else:
                    self.duck.execute("ROLLBACK")
                    self._account(0)
                return self._checksum()

            return Op(kind, txn, check_txn)
        sql = self._statement(kind)

        def check_write(_):
            rows = self._mirror(sql)
            self._account(rows, rows if kind in ("update", "delete") else 0)
            return []

        return Op(kind, lambda: self.engine.execute(sql), check_write)

    def next_op(self) -> Op:
        if not self._round:
            self._round = ["compact"] + self._rng.sample(ROUND, len(ROUND))
        return self._op(self._round.pop())

    def finish(self) -> list[tuple[str, str]]:
        problems = [("checksum", p) for p in self._checksum()]
        self.live_rows = self.duck.execute(
            f"SELECT COUNT(*) FROM {TABLE}").fetchone()[0]
        self.duck.close()
        return problems

    def amplification(self) -> tuple[float, float]:
        from perfbench.stats import space_amp, write_amp

        return (write_amp(self.bytes_written, self.rows_touched,
                          self.bytes_per_row),
                space_amp(_stored_bytes(self.warehouse), self.live_rows,
                          self.bytes_per_row))
