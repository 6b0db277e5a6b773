"""Table schemas are remembered per table version: a warm single-row
INSERT runs one Spark job (the write), INSERT ... SELECT evaluates its
source once, and the remembered schema is always the one parquet
inference returns — across other engines' writes, rewrites, ALTERs and a
dynamic table dropped and re-created under the same name."""

from __future__ import annotations

import itertools
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from otterbrix_spark.engine import Engine
from otterbrix_spark.sources.dynamic import DynamicTable

_groups = itertools.count()


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, #jobs it ran)."""
    sc = spark.sparkContext
    group = f"schema-memo-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def eng(spark, tmp_path):
    e = Engine(spark, table_dir=str(tmp_path / "db"))
    e.execute_sql(
        "CREATE TABLE kv AS SELECT id AS k, CAST(id AS DOUBLE) AS v, "
        "'a' AS s FROM range(50)"
    )
    return e


def _inferred(spark, eng, name="kv"):
    return spark.read.parquet(eng.catalog.tables[name].path).schema


def test_single_row_insert_runs_one_job(spark, eng):
    eng.execute_sql("INSERT INTO kv VALUES (100, 1.5, 'x')").fetchall()
    cur, jobs = _jobs(
        spark, lambda: eng.execute_sql("INSERT INTO kv VALUES (101, 2.5, 'y')")
    )
    assert jobs == 1
    assert cur.fetchall() == [(1,)]
    assert eng.execute_sql("SELECT k, v, s FROM kv WHERE k = 101").fetchall() == [
        (101, 2.5, "y")
    ]
    assert eng.catalog.tables["kv"].schema == _inferred(spark, eng)


def test_insert_select_evaluates_source_once(spark, eng):
    seen = spark.sparkContext.accumulator(0)

    def keep(_):
        seen.add(1)
        return True

    # a filter: a separate count() would have to evaluate it too
    spark.udf.register("memo_keep", F.udf(keep, BooleanType()).asNondeterministic())
    cur = eng.execute_sql(
        "INSERT INTO kv SELECT id + 1000, 0.5, 'z' FROM range(7) "
        "WHERE memo_keep(id)"
    )
    assert cur.fetchall() == [(7,)]
    assert seen.value == 7
    assert eng.execute_sql(
        "SELECT count(*) FROM kv WHERE k >= 1000"
    ).fetchall() == [(7,)]

    empty = eng.execute_sql("INSERT INTO kv SELECT k, v, s FROM kv WHERE k < 0")
    assert empty.fetchall() == [(0,)]

    ret = eng.execute_sql(
        "INSERT INTO kv SELECT id + 2000, 1.0, 'r' FROM range(3) "
        "RETURNING k, v * 2 AS v2"
    )
    assert sorted(ret.fetchall()) == [(2000, 2.0), (2001, 2.0), (2002, 2.0)]


def test_other_engine_insert_and_alter_are_seen(spark, eng, tmp_path):
    eng.execute_sql("INSERT INTO kv VALUES (100, 1.5, 'x')")
    other = Engine(spark, table_dir=str(tmp_path / "db"))
    other.execute_sql("INSERT INTO kv VALUES (200, 2.5, 'o')")
    other.execute_sql("ALTER TABLE kv ADD COLUMN z int")
    # the first engine's own table object reads the new version: its next
    # INSERT targets the grown schema
    eng.execute_sql("INSERT INTO kv (k, z) VALUES (300, 7)")
    table = eng.catalog.tables["kv"]
    assert table.schema.names == ["k", "v", "s", "z"]
    assert table.schema == _inferred(spark, eng)
    got = eng.execute_sql(
        "SELECT k, z FROM kv WHERE k >= 100 ORDER BY k"
    ).fetchall()
    assert got == [(100, None), (200, None), (300, 7)]


_ATTRS = (
    "SELECT a.attname, a.atttypid, a.attnum, a.attnotnull FROM pg_attribute a "
    "JOIN pg_class c ON c.oid = a.attrelid WHERE c.relname = 'kv' "
    "ORDER BY a.attnum"
)
_COLUMNS = (
    "SELECT column_name, ordinal_position, is_nullable, data_type "
    "FROM information_schema.columns WHERE table_name = 'kv' "
    "ORDER BY ordinal_position"
)


def _catalog_rows(e):
    return (
        e.execute_sql(_ATTRS).fetchall(), e.execute_sql(_COLUMNS).fetchall()
    )


def test_catalog_rows_match_inference_across_dml(spark, eng, tmp_path):
    before = _catalog_rows(eng)
    eng.execute_sql("INSERT INTO kv VALUES (100, 1.5, 'x')")
    assert _catalog_rows(eng) == before
    eng.execute_sql("UPDATE kv SET v = 9.5 WHERE k = 100")
    assert _catalog_rows(eng) == before
    assert eng.catalog.tables["kv"].schema == _inferred(spark, eng)
    eng.execute_sql("ALTER TABLE kv ADD COLUMN z bigint")
    after = _catalog_rows(eng)
    assert [r[0] for r in after[0]] == ["k", "v", "s", "z"]
    # a fresh engine has no memo: it infers from the parquet footers
    fresh = Engine(spark, table_dir=str(tmp_path / "db"))
    assert _catalog_rows(fresh) == after
    assert eng.catalog.tables["kv"].schema == _inferred(spark, eng)


def test_partitioned_insert_casts_to_declared_schema(eng):
    eng.execute_sql(
        "CREATE TABLE p (a bigint, b string, d int) PARTITION BY LIST (d)"
    )
    eng.execute_sql("INSERT INTO p VALUES (1, 5, 3)")
    assert eng.execute_sql("SELECT a, b, d FROM p").fetchall() == [(1, "5", 3)]


def test_dynamic_table_recreated_reads_new_schema(spark, eng, tmp_path):
    eng.execute_sql("CREATE TABLE docs ()")
    eng.execute_sql("INSERT INTO docs SELECT 1 AS a, 'x' AS b")
    assert eng.execute_sql("SELECT * FROM docs").df.columns == ["a", "b"]
    eng.execute_sql("DROP TABLE docs")
    eng.execute_sql("CREATE TABLE docs ()")
    eng.execute_sql("INSERT INTO docs SELECT 'y' AS c")
    assert eng.execute_sql("SELECT * FROM docs").fetchall() == [("y",)]

    # a table object that outlives a drop + re-create of its directory
    # (a second engine's, say) must not serve the old batch schema
    path = str(tmp_path / "dyn")
    held = DynamicTable(spark, path)
    held.insert(spark.range(2).select(F.col("id").alias("old")))
    assert held.schema().names == ["old"]
    shutil.rmtree(path)
    os.makedirs(path)
    DynamicTable(spark, path).insert(spark.range(3).select(F.lit("n").alias("new")))
    assert held.schema().names == ["new"]
    assert held.df().collect() == [("n",)] * 3
