"""DML statements run no Spark job that reads no row data.

ColumnStore's DML reads a table's schema from the cached system catalog
and its row count from the extent map; here the schema comes from the
session's schema memo (``ingest._read_parquet_memo``) and the count from
parquet footers (``ingest.table_row_count``). These tests pin the job
count per statement and check both helpers against Spark's own answers.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid

import pytest

from mariadb_columnstore_engine_spark.sources import ingest, maintenance


@contextlib.contextmanager
def _count_jobs(spark):
    """Yield a list that receives the number of Spark jobs the block
    ran (job group + status tracker)."""
    sc = spark.sparkContext
    group = f"dml-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count", False)
    got: list[int] = []
    try:
        yield got
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        # job-start events reach the status store through the listener
        # bus; drain it before reading
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        got.append(len(sc.statusTracker().getJobIdsForGroup(group)))


@pytest.fixture()
def eng(spark, sf_dir, tmp_path):
    from mariadb_columnstore_engine_spark.engine import Engine

    os.makedirs(str(tmp_path / "wh"), exist_ok=True)
    eng = Engine(spark, sf_dir, warehouse=str(tmp_path / "wh"))
    eng.execute("CREATE TABLE jt (id BIGINT, amount INT, tag VARCHAR(10))")
    eng.execute(
        "INSERT INTO jt (id, amount, tag) VALUES "
        "(1, 10, 'a'), (2, 20, 'b'), (3, 30, 'a'), (4, 40, 'c')"
    )
    eng.execute("INSERT INTO jt (id, amount, tag) VALUES (5, 50, 'b')")
    return eng


def _path(eng) -> str:
    return eng._user_tables["jt"]["path"]


@pytest.mark.parametrize(
    "stmt, ret",
    [
        ("INSERT INTO jt (id, amount, tag) VALUES (6, 60, 'c'), "
         "(7, 70, 'a')", 7),
        ("UPDATE jt SET amount = amount + 1 WHERE tag = 'a'", 5),
        ("DELETE FROM jt WHERE id >= 4", 3),
    ],
)
def test_dml_statement_runs_at_most_two_jobs(spark, eng, stmt, ret):
    """The write and the post-write view refresh; no schema inference
    of the unchanged table and no count job."""
    with _count_jobs(spark) as jobs:
        n = eng.execute(stmt)
    assert n == ret
    assert jobs[0] <= 2, f"{stmt!r} ran {jobs[0]} Spark jobs"


def test_repeated_evolved_read_runs_no_job(spark, eng):
    path = _path(eng)
    ingest.read_table_evolved(spark, path)
    with _count_jobs(spark) as jobs:
        df = ingest.read_table_evolved(spark, path)
    assert jobs[0] == 0
    assert df.columns == ["id", "amount", "tag"]


def test_memo_misses_when_a_file_changes(spark, eng):
    """A new file under the table (here a hidden one, which Spark does
    not even read) keys a new entry: the superset key only costs a
    miss, never a stale schema."""
    path = _path(eng)
    ingest.read_table_evolved(spark, path)
    memo = spark._mcs_table_schema_memo
    entries = len(memo)
    with open(os.path.join(path, ".touched"), "w") as f:
        f.write("x")
    with _count_jobs(spark) as jobs:
        ingest.read_table_evolved(spark, path)
    assert jobs[0] >= 1
    # the miss replaced the path's entry: one entry per table path
    assert len(memo) == entries


# --- table_row_count == spark.read.parquet(p).count() ---------------


def _spark_count(spark, path) -> int:
    return spark.read.parquet(path).count()


def test_row_count_plain_table(spark, eng):
    path = _path(eng)
    assert ingest.table_row_count(path) == _spark_count(spark, path) == 5


def test_row_count_hive_partitioned(spark, eng):
    path = _path(eng)
    maintenance.compact_table(spark, path, partition_by=["tag"])
    assert any(d.startswith("tag=") for d in os.listdir(path))
    assert ingest.table_row_count(path) == _spark_count(spark, path) == 5


def test_row_count_skips_writer_leftovers(spark, eng):
    path = _path(eng)
    data = [f for f in os.listdir(path) if f.endswith(".parquet")
            and not f.startswith((".", "_"))]
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert any(f.endswith(".crc") for f in os.listdir(path))
    # an abandoned task attempt and an in-flight copy: real parquet
    # files Spark's file index must not list
    tmp = os.path.join(path, "_temporary", "0", "task_0")
    os.makedirs(tmp)
    shutil.copy(os.path.join(path, data[0]), os.path.join(tmp, data[0]))
    shutil.copy(os.path.join(path, data[0]),
                os.path.join(path, data[0] + "._COPYING_"))
    assert ingest.table_row_count(path) == _spark_count(spark, path) == 5


def test_row_count_with_disabled_partitions(spark, eng):
    import pyarrow.parquet as pq

    path = _path(eng)
    f = next(f for f in ingest._live_data_files(path, set())
             if pq.read_metadata(f).num_rows > 0)
    maintenance.disable_partitions(path, [os.path.basename(f)])
    eng._refresh("jt")
    # disabled files are hidden from queries but still on disk, and a
    # raw read counts them — so does the footer sum
    assert eng.execute("SELECT id FROM jt").count() < 5
    assert ingest.table_row_count(path) == _spark_count(spark, path) == 5


# --- memo-hit schema == fresh mergeSchema inference -----------------


def _assert_hit_matches_inference(spark, path):
    ingest.read_table_evolved(spark, path)  # fills the memo
    with _count_jobs(spark) as jobs:
        raw = ingest._read_parquet_memo(spark, path)
        evolved = ingest.read_table_evolved(spark, path)
    assert jobs[0] == 0, "expected a memo hit"
    fresh = spark.read.option("mergeSchema", "true").parquet(path)
    assert raw.schema == fresh.schema
    assert raw.schema.json() == fresh.schema.json()
    spark._mcs_table_schema_memo.pop(path)
    assert evolved.schema == ingest.read_table_evolved(spark, path).schema


def test_memo_hit_schema_equals_inference_through_ddl_and_dml(spark, eng):
    path = _path(eng)
    _assert_hit_matches_inference(spark, path)
    eng.execute("ALTER TABLE jt ADD COLUMN extra INT DEFAULT 7")
    # INSERT with the ADD still pending: new files carry `extra`, old
    # ones do not — the merged schema changes under the same sidecar
    eng.execute(
        "INSERT INTO jt (id, amount, tag, extra) VALUES (6, 60, 'c', 1)"
    )
    _assert_hit_matches_inference(spark, path)
    eng.execute("ALTER TABLE jt RENAME COLUMN amount TO amt")
    _assert_hit_matches_inference(spark, path)
    eng.execute("ALTER TABLE jt MODIFY amt BIGINT")
    _assert_hit_matches_inference(spark, path)
    eng.execute("UPDATE jt SET amt = amt * 2 WHERE id <= 2")
    _assert_hit_matches_inference(spark, path)
    eng.execute("DELETE FROM jt WHERE id = 3")
    _assert_hit_matches_inference(spark, path)
    maintenance.compact_table(spark, path, partition_by=["tag"])
    eng._refresh("jt")
    _assert_hit_matches_inference(spark, path)
    eng.begin()
    eng.execute("DELETE FROM jt WHERE id = 1")
    eng.execute("INSERT INTO jt (id, amt, tag) VALUES (9, 90, 'z')")
    eng.rollback()
    _assert_hit_matches_inference(spark, path)
    rows = {(r.id, r.amt, r.tag, r.extra)
            for r in eng.execute("SELECT * FROM jt").collect()}
    assert rows == {(1, 20, "a", 7), (2, 40, "b", 7), (4, 40, "c", 7),
                    (5, 50, "b", 7), (6, 60, "c", 1)}
