"""Row-level MERGE (engine.merge_rows / apply_changes) — Delta
``MERGE INTO`` / DLT ``APPLY CHANGES INTO`` parity on the plain-parquet
path ([EXT]; reference has no MERGE — Athena can't — same family as
delete_rows/update_rows, built on the same file-pruned rewrite).

Scale contract under test: the source's distinct key set semi-joins the
target to find files holding matched keys; ONLY those files rewrite,
inserts land as new files, untouched files keep their inodes.
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
    root = tempfile.mkdtemp(prefix="merge_lake_")
    db = f"merge_{uuid.uuid4().hex[:8]}"
    engine = LakeEngine(spark, root, database=db, clock=lambda: _FIXED_NOW)
    yield engine
    spark.catalog.setCurrentDatabase("default")
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    shutil.rmtree(root, ignore_errors=True)


def _seed(spark, eng, table="t"):
    df = (
        spark.createDataFrame(
            [(i, f"n{i}", i % 5) for i in range(25)],
            "k int, name string, g int",
        )
        .withColumn("processed_year", F.lit("2024"))
        .withColumn("processed_month", F.format_string("%02d", (F.col("g") % 2) + 1))
    )
    eng.write_curated(table, df, mode="overwrite")
    return eng.qualified(table)


def _inodes(eng, qtable):
    loc = urlparse(eng._table_location(qtable)).path
    return {p: os.stat(p).st_ino for p in glob.glob(loc + "/**/*.parquet", recursive=True)}


def _batch(spark, rows, schema="k int, name string, g int"):
    return (
        spark.createDataFrame(rows, schema)
        .withColumn("processed_year", F.lit("2024"))
        .withColumn("processed_month", F.lit("02"))
    )


def test_upsert_updates_matched_inserts_unmatched(spark, eng):
    qt = _seed(spark, eng)
    res = eng.merge_rows("t", _batch(spark, [(4, "UPD", 9), (100, "NEW", 1)]), keys=["k"])
    assert res == {"updated": 1, "deleted": 0, "inserted": 1}
    out = spark.table(qt)
    assert out.count() == 26
    row = out.filter("k = 4").collect()[0]
    assert (row["name"], row["g"]) == ("UPD", 9)
    assert out.filter("k = 100 AND name = 'NEW'").count() == 1


def test_only_matched_files_rewritten(spark, eng):
    qt = _seed(spark, eng)
    before = _inodes(eng, qt)
    eng.merge_rows("t", _batch(spark, [(4, "UPD", 9)]), keys=["k"],
                   when_not_matched_insert=False)
    after = _inodes(eng, qt)
    survivors = [p for p in before if p in after]
    assert survivors and all(after[p] == before[p] for p in survivors)


def test_matched_delete_clause(spark, eng):
    qt = _seed(spark, eng)
    changes = _batch(
        spark,
        [(3, None, None, "D"), (4, "UPD", 9, "U"), (100, "NEW", 1, "I")],
        "k int, name string, g int, op string",
    )
    res = eng.merge_rows(
        "t",
        changes,
        keys=["k"],
        when_matched_delete="s.op = 'D'",
        when_not_matched_insert="op <> 'D'",
        exclude_cols=["op"],
    )
    assert res == {"updated": 1, "deleted": 1, "inserted": 1}
    out = spark.table(qt)
    assert out.count() == 25
    assert out.filter("k = 3").count() == 0
    assert "op" not in out.columns


def test_duplicate_source_keys_raise_without_sequence(spark, eng):
    _seed(spark, eng)
    dup = _batch(spark, [(4, "A", 1), (4, "B", 2)])
    with pytest.raises(ValueError, match="duplicate merge keys"):
        eng.merge_rows("t", dup, keys=["k"])


def test_sequence_col_latest_change_wins(spark, eng):
    qt = _seed(spark, eng)
    changes = _batch(
        spark,
        [(4, "OLD", 1, 1), (4, "NEW", 2, 2)],
        "k int, name string, g int, seq int",
    )
    res = eng.merge_rows("t", changes, keys=["k"], sequence_col="seq",
                         exclude_cols=["seq"])
    assert res == {"updated": 1, "deleted": 0, "inserted": 0}
    assert spark.table(qt).filter("k = 4").collect()[0]["name"] == "NEW"


def test_dict_update_sees_both_sides(spark, eng):
    qt = _seed(spark, eng)
    src = spark.createDataFrame([(5, 10)], "k int, bump int")
    res = eng.merge_rows(
        "t", src, keys=["k"],
        when_matched_update={"g": "t.g + s.bump"},
        when_not_matched_insert=False,
        exclude_cols=["bump"],
    )
    assert res == {"updated": 1, "deleted": 0, "inserted": 0}
    assert spark.table(qt).filter("k = 5").collect()[0]["g"] == 0 + 10  # 5 % 5 = 0
    assert "bump" not in spark.table(qt).columns


def test_pure_insert_when_nothing_matches(spark, eng):
    qt = _seed(spark, eng)
    before = _inodes(eng, qt)
    res = eng.merge_rows("t", _batch(spark, [(500, "x", 1)]), keys=["k"])
    assert res == {"updated": 0, "deleted": 0, "inserted": 1}
    after = _inodes(eng, qt)
    # pure append: every pre-existing file untouched
    assert all(after[p] == before[p] for p in before)
    assert spark.table(qt).count() == 26


def test_noop_merge_touches_nothing(spark, eng):
    qt = _seed(spark, eng)
    before = _inodes(eng, qt)
    res = eng.merge_rows("t", _batch(spark, [(500, "x", 1)]), keys=["k"],
                         when_not_matched_insert=False)
    assert res == {"updated": 0, "deleted": 0, "inserted": 0}
    assert _inodes(eng, qt) == before


def test_apply_changes_cdc_batch(spark, eng):
    qt = _seed(spark, eng)
    changes = _batch(
        spark,
        [(3, None, None, "D", 1), (4, "OLD", 99, "U", 1), (4, "NEW", 0, "U", 2),
         (100, "fresh", 7, "I", 1)],
        "k int, name string, g int, op string, seq int",
    )
    res = eng.apply_changes("t", changes, keys=["k"], op_col="op", sequence_col="seq")
    assert res == {"updated": 1, "deleted": 1, "inserted": 1}
    out = spark.table(qt)
    assert out.count() == 25
    assert out.filter("k = 3").count() == 0
    row = out.filter("k = 4").collect()[0]
    assert (row["name"], row["g"], row["processed_month"]) == ("NEW", 0, "02")
    assert out.filter("k = 100 AND name = 'fresh'").count() == 1
    assert "op" not in out.columns and "seq" not in out.columns


def test_time_travel_across_merge(spark, eng):
    qt = _seed(spark, eng)
    v0 = eng.snapshot_history("t")[-1]["version"]
    eng.merge_rows("t", _batch(spark, [(4, "UPD", 9)]), keys=["k"])
    old = eng.read_snapshot("t", v0)
    assert old.filter("k = 4").collect()[0]["name"] == "n4"


def test_sql_merge_into_dispatch(spark, eng):
    """engine.sql('MERGE INTO ...') — the Delta MERGE SQL form routed
    to merge_rows: subquery source, matched-delete with condition,
    UPDATE SET *, NOT MATCHED INSERT * with condition."""
    qt = _seed(spark, eng)
    src = _batch(
        spark,
        [(3, None, None, "D"), (4, "UPD", 9, "U"), (100, "NEW", 1, "I")],
        "k int, name string, g int, op string",
    )
    src.createOrReplaceTempView("changes_v")
    out = eng.sql(
        "MERGE INTO t USING (SELECT * FROM changes_v) s ON t.k = s.k "
        "WHEN MATCHED AND s.op = 'D' THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT *"
    ).collect()[0]
    assert (out["updated"], out["deleted"], out["inserted"]) == (1, 1, 1)
    t = spark.table(qt)
    assert t.count() == 25
    assert t.filter("k = 3").count() == 0
    assert t.filter("k = 4").collect()[0]["name"] == "UPD"
    assert t.filter("k = 100").count() == 1
    assert "op" not in t.columns  # UPDATE SET * must not widen the table


def test_sql_merge_update_assignments(spark, eng):
    qt = _seed(spark, eng)
    spark.createDataFrame([(5, 10)], "k int, bump int").createOrReplaceTempView("bumps_v")
    out = eng.sql(
        "MERGE INTO t USING (SELECT * FROM bumps_v) s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET g = t.g + s.bump"
    ).collect()[0]
    assert (out["updated"], out["deleted"], out["inserted"]) == (1, 0, 0)
    assert spark.table(qt).filter("k = 5").collect()[0]["g"] == 10
    assert "bump" not in spark.table(qt).columns


def test_merge_across_evolved_schema_files(spark, eng):
    """Files written before ADD COLUMNS lack the new column; a merge
    touching them must align to the table schema, not the file schema."""
    qt = _seed(spark, eng)
    newrow = _batch(spark, [(200, "x", 9)]).withColumn("note", F.lit("fresh"))
    eng.write_curated("t", newrow, mode="append")  # K8 widens table
    assert "note" in spark.table(qt).columns
    # update a key that lives in a PRE-evolution file
    res = eng.merge_rows(
        "t", spark.createDataFrame([(4, "evolved")], "k int, name string"), keys=["k"]
    )
    assert res == {"updated": 1, "deleted": 0, "inserted": 0}
    row = spark.table(qt).filter("k = 4").collect()[0]
    assert row["name"] == "evolved" and row["note"] is None
    assert spark.table(qt).count() == 26


def test_merge_null_source_key_inserts_like_sql(spark, eng):
    """SQL MERGE: a NULL source key matches nothing → INSERT path."""
    qt = _seed(spark, eng)
    src = _batch(spark, [(None, "ghost", 1)])
    res = eng.merge_rows("t", src, keys=["k"])
    assert res == {"updated": 0, "deleted": 0, "inserted": 1}
    assert spark.table(qt).filter("k IS NULL").count() == 1
    assert spark.table(qt).count() == 26


def test_duplicate_key_merge_changes_nothing(spark, eng):
    """The duplicate-key probe shares the matched-file collect and
    raises before anything is staged: files, snapshot history and
    schema stay as they were, even when the batch brings a new column."""
    qt = _seed(spark, eng)
    before = _inodes(eng, qt)
    history = eng.snapshot_history("t")
    cols = spark.table(qt).columns
    dup = _batch(spark, [(4, "A", 1, "x"), (4, "B", 2, "y")],
                 "k int, name string, g int, extra string")
    with pytest.raises(ValueError, match="duplicate merge keys"):
        eng.merge_rows("t", dup, keys=["k"])
    assert _inodes(eng, qt) == before
    assert eng.snapshot_history("t") == history
    assert spark.table(qt).columns == cols
    assert not eng._scratch_leftovers()


def test_merge_inserts_exact_from_matched_files(spark, eng):
    """Inserts anti-join the source against the matched files only.
    That is exact: a key held in two files updates in both and is not
    inserted; a NULL source key matches nothing (a NULL-keyed table
    row in a matched file included) and inserts; a string insert
    condition filters what is left."""
    qt = _seed(spark, eng)
    eng.write_curated("t", _batch(spark, [(4, "again", 1), (None, "n0", 1)]), mode="append")
    files_with_4 = {r["f"] for r in spark.table(qt).filter("k = 4")
                    .select(F.col("_metadata.file_path").alias("f")).collect()}
    assert len(files_with_4) == 2
    src = _batch(spark, [(4, "UPD", 9), (None, "ghost", 1), (300, "NEW", 1), (301, "skip", 1)])
    res = eng.merge_rows("t", src, keys=["k"], when_not_matched_insert="name <> 'skip'")
    assert res == {"updated": 2, "deleted": 0, "inserted": 2}
    out = spark.table(qt)
    assert [r["name"] for r in out.filter("k = 4").collect()] == ["UPD", "UPD"]
    assert sorted(r["name"] for r in out.filter("k IS NULL").collect()) == ["ghost", "n0"]
    assert out.filter("k = 300").count() == 1 and out.filter("k = 301").count() == 0
    assert out.count() == 27 + 2


def test_merge_inserts_when_no_file_matched(spark, eng):
    """No file holds a source key: no join at all on the insert side;
    the insert condition still applies."""
    qt = _seed(spark, eng)
    src = _batch(spark, [(400, "a", 1), (401, "skip", 1), (None, "b", 1)])
    res = eng.merge_rows("t", src, keys=["k"], when_not_matched_insert="name <> 'skip'")
    assert res == {"updated": 0, "deleted": 0, "inserted": 2}
    assert spark.table(qt).count() == 27
    assert spark.table(qt).filter("k = 401").count() == 0


def test_apply_changes_job_count(spark, eng, spark_jobs):
    """A CDC batch built from pandas (a local relation Catalyst can size)
    against a small table: the probe collect and the commit write, with
    no whole-table key scan for the inserts and no schema-inference job
    for the matched files — at most 8 Spark jobs."""
    import pandas as pd

    _seed(spark, eng)
    changes = spark.createDataFrame(pd.DataFrame(
        {"k": [3, 4, 100], "name": [None, "NEW", "fresh"], "op": ["D", "U", "I"]}
    ))
    res, jobs = spark_jobs(lambda: eng.apply_changes("t", changes, keys=["k"]))
    assert res == {"updated": 1, "deleted": 1, "inserted": 1}
    assert jobs <= 8


def test_apply_changes_bootstrap_counts(spark, eng):
    """A missing table bootstraps from the batch: the inserted count is
    the rows the commit wrote — the sequence survivors minus deletes."""
    changes = spark.createDataFrame(
        [(1, "a", "I", 1), (1, "b", "U", 2), (2, "c", "I", 1), (3, "d", "I", 1),
         (3, None, "D", 2), (4, None, "D", 1)],
        "k int, name string, op string, seq int",
    )
    res = eng.apply_changes("boot", changes, keys=["k"], sequence_col="seq")
    assert res == {"updated": 0, "deleted": 0, "inserted": 2}
    out = spark.table(eng.qualified("boot"))
    assert sorted(tuple(r) for r in out.collect()) == [(1, "b"), (2, "c")]
    assert eng.snapshot_history("boot")[-1]["rows_written"] == 2
