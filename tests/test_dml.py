"""Row-level DML (engine.delete_rows / update_rows) — file-pruned
predicate DELETE/UPDATE on the plain-parquet path (Delta DELETE/UPDATE
parity; reference has no row-level DML — Athena can't — so this is
[EXT] lakehouse surface, same family as merge_upsert/time travel).

The scale contract under test: only files containing >=1 matching row
are rewritten, together with small files of the partitions those
files sit in while each partition's rewrite stays within the 128 MB
target, so a touched partition that fits the target ends as one file.
Files of untouched partitions, and files beyond that budget (those at
or above the target size among them), survive byte-identical (same
inode), and time travel across a DELETE still reads the pre-DML rows
from the files the DELETE retired.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import uuid
from datetime import datetime
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from cbts_datalake_synnex_spark.engine import LakeEngine

_FIXED_NOW = datetime(2024, 3, 15, 12, 0, 0)


@pytest.fixture()
def eng(spark):
    root = tempfile.mkdtemp(prefix="dml_lake_")
    db = f"dml_{uuid.uuid4().hex[:8]}"
    engine = LakeEngine(spark, root, database=db, clock=lambda: _FIXED_NOW)
    yield engine
    spark.catalog.setCurrentDatabase("default")
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    shutil.rmtree(root, ignore_errors=True)


def _seed(spark, eng, table="nat"):
    df = (
        spark.createDataFrame(
            [(i, f"n{i}", i % 5) for i in range(25)],
            "n_nationkey int, n_name string, n_regionkey int",
        )
        .withColumn("processed_year", F.lit("2024"))
        .withColumn("processed_month", F.format_string("%02d", (F.col("n_regionkey") % 2) + 1))
    )
    eng.write_curated(table, df, mode="overwrite")
    return eng.qualified(table)


def _inodes(eng, qtable):
    loc = urlparse(eng._table_location(qtable)).path
    return {p: os.stat(p).st_ino for p in glob.glob(loc + "/**/*.parquet", recursive=True)}


def test_delete_prunes_files_and_preserves_untouched(spark, eng):
    qt = _seed(spark, eng)
    before = _inodes(eng, qt)
    assert eng.delete_rows("nat", "n_regionkey = 2") == 5
    assert spark.table(qt).count() == 20
    assert spark.table(qt).filter("n_regionkey = 2").count() == 0
    after = _inodes(eng, qt)
    survivors = [p for p in before if p in after]
    # files without a matching row are not rewritten: same path, same inode
    assert survivors and all(after[p] == before[p] for p in survivors)


def test_delete_null_predicate_keeps_row(spark, eng):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "k int, v string"
    )
    eng.write_curated("t", df, mode="overwrite", partition_cols=[])
    # SQL DELETE: NULL predicate result keeps the row
    assert eng.delete_rows("t", "v = 'a'") == 1
    assert spark.table(eng.qualified("t")).count() == 2


def test_time_travel_across_delete(spark, eng):
    qt = _seed(spark, eng)
    v0 = eng.snapshot_history("nat")[-1]["version"]
    eng.delete_rows("nat", "n_regionkey = 2")
    old = eng.read_snapshot("nat", v0)
    assert old.count() == 25
    assert old.filter("n_regionkey = 2").count() == 5


def test_update_expression_sees_pre_update_row(spark, eng):
    qt = _seed(spark, eng)
    assert eng.update_rows("nat", "n_regionkey = 1", {"n_name": "concat(n_name, '!')"}) == 5
    assert spark.table(qt).filter("n_name like '%!'").count() == 5
    assert spark.table(qt).count() == 25  # no rows lost


def test_update_can_move_partition_value(spark, eng):
    qt = _seed(spark, eng)
    assert eng.update_rows("nat", "n_nationkey = 4", {"processed_month": "'03'"}) == 1
    # the moved row must be visible (new partition registered via MSCK)
    assert spark.table(qt).filter("processed_month = '03'").count() == 1
    assert spark.table(qt).count() == 25


def test_no_match_touches_nothing(spark, eng):
    qt = _seed(spark, eng)
    before = _inodes(eng, qt)
    assert eng.delete_rows("nat", "n_regionkey = 99") == 0
    assert _inodes(eng, qt) == before


def test_delete_across_evolved_schema(spark, eng):
    """Files written before ADD COLUMNS lack the new column; DML over
    them must align to the table schema, not the file schema."""
    qt = _seed(spark, eng)
    newrows = (
        spark.createDataFrame([(100, "x", 9)], "n_nationkey int, n_name string, n_regionkey int")
        .withColumn("processed_year", F.lit("2024"))
        .withColumn("processed_month", F.lit("01"))
        .withColumn("note", F.lit("fresh"))
    )
    eng.write_curated("nat", newrows, mode="append")
    assert "note" in spark.table(qt).columns
    assert eng.delete_rows("nat", "n_regionkey = 3") == 5
    assert spark.table(qt).filter("note = 'fresh'").count() == 1
    assert spark.table(qt).count() == 21


def test_partition_value_preserved_exactly(spark, eng):
    """Regression: partition type inference would read month '01' back
    as int 1 and the rewrite would emit an unregistered month=1 dir."""
    qt = _seed(spark, eng)
    eng.delete_rows("nat", "n_regionkey = 2")
    months = {r[0] for r in spark.table(qt).select("processed_month").distinct().collect()}
    assert months == {"01", "02"}
    loc = urlparse(eng._table_location(qt)).path
    dirs = {os.path.basename(d) for d in glob.glob(loc + "/processed_year=2024/*")}
    assert dirs == {"processed_month=01", "processed_month=02"}


def test_sql_delete_and_update_dispatch(spark, eng):
    """engine.sql keeps the Delta SQL DML surface working on plain
    parquet: DELETE/UPDATE statements dispatch to the file-pruned
    rewrite and return a one-row affected_rows metrics frame; other
    statements pass through to Spark SQL untouched."""
    qt = _seed(spark, eng)
    out = eng.sql("DELETE FROM nat WHERE n_regionkey = 2")
    assert out.collect()[0]["affected_rows"] == 5
    assert spark.table(qt).count() == 20

    out = eng.sql(
        "UPDATE nat SET n_name = concat(n_name, ',', 'x'), n_regionkey = n_regionkey + 1 "
        "WHERE n_nationkey IN (1, 6);"
    )
    assert out.collect()[0]["affected_rows"] == 2
    rows = {r["n_nationkey"]: r for r in spark.table(qt).filter("n_nationkey IN (1, 6)").collect()}
    assert rows[1]["n_name"] == "n1,x" and rows[1]["n_regionkey"] == 2

    # no WHERE → whole table
    assert eng.sql("DELETE FROM nat").collect()[0]["affected_rows"] == 20
    assert spark.table(qt).count() == 0

    # SELECT still passes through
    assert eng.sql("SELECT 1 AS one").collect()[0]["one"] == 1


def test_update_casts_set_value_to_column_type(spark, eng):
    """A SET value takes its column's type, as a MERGE SET does: an
    `int` column set to a decimal expression stays `int`, and the table
    reads back afterwards (a decimal file under an `int` column fails
    every later read)."""
    qt = _seed(spark, eng)
    assert eng.update_rows("nat", "n_nationkey = 4", {"n_regionkey": "n_regionkey * 1.5"}) == 1
    assert dict(spark.table(qt).dtypes)["n_regionkey"] == "int"
    assert spark.table(qt).filter("n_nationkey = 4").collect()[0]["n_regionkey"] == 6
    assert spark.table(qt).count() == 25


def _fragmented(spark, eng):
    """Partition p=0 in three small files, p=1 in one."""
    rows = spark.createDataFrame([(k, f"v{k}", k % 2) for k in range(10)], "k int, v string, p int")
    eng.write_curated("frag", rows.coalesce(1), mode="overwrite", partition_cols=["p"])
    for ks in ((10, 12), (14, 16)):
        more = spark.createDataFrame([(k, f"v{k}", 0) for k in ks], "k int, v string, p int")
        eng.write_curated("frag", more.coalesce(1), mode="append", partition_cols=["p"])
    return eng.qualified("frag")


def _by_partition(eng, qtable):
    out: dict[str, dict[str, int]] = {}
    for path, ino in _inodes(eng, qtable).items():
        out.setdefault(os.path.basename(os.path.dirname(path)), {})[path] = ino
    return out


def _merge_k0(spark, eng):
    src = spark.createDataFrame([(0, "u0", 0)], "k int, v string, p int")
    return eng.merge_rows("frag", src, ["k"], when_not_matched_insert=False)


# op on key 0 -> (run, its return value, key 0's value afterwards)
_DML_ON_K0 = {
    "merge_rows": (_merge_k0, {"updated": 1, "deleted": 0, "inserted": 0}, "u0"),
    "update_rows": (lambda spark, eng: eng.update_rows("frag", "k = 0", {"v": "'u0'"}), 1, "u0"),
    "delete_rows": (lambda spark, eng: eng.delete_rows("frag", "k = 0"), 1, None),
}


@pytest.mark.parametrize("op", list(_DML_ON_K0))
def test_dml_leaves_touched_partition_compact(spark, eng, op):
    """A DML that matches one of a partition's several small files
    rewrites them all into one file, returns the same counts, and
    leaves the other partition's file alone."""
    run, counts, v0 = _DML_ON_K0[op]
    qt = _fragmented(spark, eng)
    before = _by_partition(eng, qt)
    assert len(before["p=0"]) == 3
    assert run(spark, eng) == counts
    after = _by_partition(eng, qt)
    assert len(after["p=0"]) == 1 and not set(after["p=0"]) & set(before["p=0"])
    assert after["p=1"] == before["p=1"]
    want = {k: f"v{k}" for k in (*range(10), 10, 12, 14, 16)}
    want[0] = v0
    got = {r["k"]: r["v"] for r in spark.table(qt).collect()}
    assert got == {k: v for k, v in want.items() if v is not None}
