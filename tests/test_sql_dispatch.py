"""`LakeEngine.sql` reads DELETE, UPDATE, MERGE and time travel from
Spark's parsed plan: conditions and SET values are the statement's own
text spans, so literals, nested calls and ``CASE`` run exactly as
written, and text inside a literal is never syntax."""

from __future__ import annotations

import shutil
import tempfile
import uuid
from datetime import datetime

import pytest

from cbts_datalake_synnex_spark.engine import LakeEngine

_FIXED_NOW = datetime(2024, 3, 15, 12, 0, 0)


@pytest.fixture()
def eng(spark):
    root = tempfile.mkdtemp(prefix="sqld_lake_")
    db = f"sqld_{uuid.uuid4().hex[:8]}"
    engine = LakeEngine(spark, root, database=db, clock=lambda: _FIXED_NOW)
    yield engine
    spark.catalog.setCurrentDatabase("default")
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    shutil.rmtree(root, ignore_errors=True)


def _seed(spark, eng):
    df = spark.createDataFrame(
        [(i, f"n{i}", i % 3) for i in range(1, 6)], "k int, note string, g int"
    )
    eng.write_curated("t", df, mode="overwrite", partition_cols=[])
    return eng.qualified("t")


def _rows(spark, qt):
    return {r["k"]: (r["note"], r["g"]) for r in spark.table(qt).collect()}


def _source(spark, rows):
    spark.createDataFrame(rows, "k int, note string, g int").createOrReplaceTempView("src_v")


# ------------------------------------------------------------ DELETE/UPDATE
def test_update_where_inside_literal(spark, eng):
    qt = _seed(spark, eng)
    out = eng.sql("UPDATE t SET note = 'x WHERE y' WHERE k = 1").collect()[0]
    assert out["affected_rows"] == 1
    assert _rows(spark, qt)[1] == ("x WHERE y", 1)
    assert _rows(spark, qt)[2] == ("n2", 2)


def test_delete_backticked_table(spark, eng):
    qt = _seed(spark, eng)
    assert eng.sql("DELETE FROM `t` WHERE k = 2").collect()[0]["affected_rows"] == 1
    assert set(_rows(spark, qt)) == {1, 3, 4, 5}


def test_update_commas_inside_calls_and_strings(spark, eng):
    qt = _seed(spark, eng)
    eng.sql(
        "UPDATE t SET note = concat(note, ',', 'x, = y'), g = coalesce(g, 0) + 1 "
        "WHERE k = 1"
    )
    assert _rows(spark, qt)[1] == ("n1,x, = y", 2)


def test_update_escaped_quote(spark, eng):
    qt = _seed(spark, eng)
    eng.sql("UPDATE t SET note = 'it''s, fine', g = 2 WHERE k = 1")
    assert _rows(spark, qt)[1] == ("it's, fine", 2)


def test_update_case_when_equals(spark, eng):
    qt = _seed(spark, eng)
    eng.sql("UPDATE t SET g = CASE WHEN k = g THEN 10 ELSE 20 END")
    # g = k % 3, so k = g holds for k = 1 and k = 2 only
    assert {k: v[1] for k, v in _rows(spark, qt).items()} == {1: 10, 2: 10, 3: 20, 4: 20, 5: 20}


def test_update_backticked_names_and_map_subscript(spark, eng):
    qt = _seed(spark, eng)
    eng.sql("UPDATE `t` SET `note` = map('k,1', 'v,2')['k,1'], `g` = 7 WHERE `k` = 3")
    assert _rows(spark, qt)[3] == ("v,2", 7)


def test_predicates_and_boolean_literals_keep_their_text(spark, eng):
    """A predicate's own node spans only ``IN (...)`` or ``BETWEEN ...``;
    the text is the union of the spans below it. TRUE is one shared
    literal with a stale span; the string 'true' is not it."""
    qt = _seed(spark, eng)
    out = eng.sql("UPDATE t SET note = 'true' WHERE k BETWEEN 2 AND 3").collect()[0]
    assert out["affected_rows"] == 2 and _rows(spark, qt)[2] == ("true", 2)
    out = eng.sql("DELETE FROM t WHERE k NOT IN (1, 2, 3) AND true").collect()[0]
    assert out["affected_rows"] == 2 and set(_rows(spark, qt)) == {1, 2, 3}


# ------------------------------------------------------------------ MERGE
def test_merge_nested_subquery_source(spark, eng):
    qt = _seed(spark, eng)
    _source(spark, [(1, "upd", 9), (10, "new", 1)])
    out = eng.sql(
        "MERGE INTO t USING (SELECT * FROM (SELECT * FROM (SELECT * FROM src_v) a) b) s "
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    ).collect()[0]
    assert (out["updated"], out["deleted"], out["inserted"]) == (1, 0, 1)
    assert _rows(spark, qt)[1] == ("upd", 9) and _rows(spark, qt)[10] == ("new", 1)


def test_merge_parenthesized_on(spark, eng):
    qt = _seed(spark, eng)
    _source(spark, [(2, "upd", 9)])
    out = eng.sql(
        "MERGE INTO t USING (SELECT * FROM src_v) s ON (t.k = s.k) AND (s.g = t.g) "
        "WHEN MATCHED THEN UPDATE SET note = s.note"
    ).collect()[0]
    assert out["updated"] == 0  # g differs: the key conjunction covers both columns
    # a bare source name resolves as in a query: the temp view first
    out = eng.sql(
        "MERGE INTO t USING src_v s ON (t.k = s.k) WHEN MATCHED THEN UPDATE SET note = s.note"
    ).collect()[0]
    assert out["updated"] == 1 and _rows(spark, qt)[2] == ("upd", 2)


def test_merge_not_matched_by_source_refused(spark, eng):
    qt = _seed(spark, eng)
    _source(spark, [(1, "upd", 9)])
    before = eng.snapshot_history("t")
    with pytest.raises(ValueError, match="NOT MATCHED BY SOURCE"):
        eng.sql(
            "MERGE INTO t USING (SELECT * FROM src_v) s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED BY SOURCE THEN DELETE"
        )
    assert eng.snapshot_history("t") == before and len(_rows(spark, qt)) == 5


def test_merge_insert_condition_keeps_literal(spark, eng):
    qt = _seed(spark, eng)
    _source(spark, [(20, "a s.x", 1), (21, "other", 1)])
    out = eng.sql(
        "MERGE INTO t USING (SELECT * FROM src_v) s ON t.k = s.k "
        "WHEN NOT MATCHED AND s.note = 'a s.x' THEN INSERT *"
    ).collect()[0]
    assert out["inserted"] == 1
    assert _rows(spark, qt)[20] == ("a s.x", 1) and 21 not in _rows(spark, qt)


def test_merge_refusals(spark, eng):
    _seed(spark, eng)
    _source(spark, [(1, "upd", 9)])
    for stmt, msg in [
        ("MERGE INTO t USING src_v s ON t.k = s.g WHEN MATCHED THEN DELETE", "equi-key"),
        ("MERGE INTO t USING src_v s ON t.k > s.k WHEN MATCHED THEN DELETE", "equi-key"),
        ("MERGE INTO t AS x USING src_v s ON x.k = s.k WHEN MATCHED THEN DELETE", "alias"),
        (
            "MERGE INTO t USING src_v s ON t.k = s.k WHEN MATCHED AND s.g > 1 "
            "THEN UPDATE SET * WHEN MATCHED THEN DELETE",
            "WHEN MATCHED",
        ),
        (
            "MERGE INTO t USING src_v s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k)",
            "INSERT",
        ),
    ]:
        with pytest.raises(ValueError, match=msg):
            eng.sql(stmt)


# ------------------------------------------------------------ time travel
def test_version_as_of_inside_literal_next_to_real_one(spark, eng):
    qt = _seed(spark, eng)
    eng.sql("DELETE FROM t WHERE k > 2")
    got = eng.sql(
        "SELECT count(*) AS n, max('FROM t VERSION AS OF 99') AS lit "
        "FROM t VERSION AS OF 1 WHERE note != 't VERSION AS OF 1'"
    ).collect()[0]
    assert (got["n"], got["lit"]) == (5, "FROM t VERSION AS OF 99")
    assert spark.table(qt).count() == 2


def test_time_travel_in_cte_subquery_and_merge_source(spark, eng):
    qt = _seed(spark, eng)
    eng.sql("DELETE FROM t WHERE k > 2")
    got = eng.sql(
        "WITH old AS (SELECT k FROM t VERSION AS OF 1) "
        "SELECT count(*) AS n FROM old WHERE k NOT IN (SELECT k FROM t VERSION AS OF 2)"
    ).collect()[0]
    assert got["n"] == 3
    out = eng.sql(
        "MERGE INTO t USING (SELECT * FROM t VERSION AS OF 1) s ON t.k = s.k "
        "WHEN NOT MATCHED THEN INSERT *"
    ).collect()[0]
    assert out["inserted"] == 3 and set(_rows(spark, qt)) == {1, 2, 3, 4, 5}


# ------------------------------------------------------------ parse gate
def test_plain_select_never_parsed(spark, eng, monkeypatch):
    _seed(spark, eng)

    def _refuse(self, q):
        raise AssertionError(f"parsed: {q}")

    monkeypatch.setattr(LakeEngine, "_parse_sql", _refuse)
    assert eng.sql("SELECT count(*) AS n FROM t WHERE note <> 'DELETE'").collect()[0]["n"] == 5
    assert eng.sql("DESCRIBE HISTORY t").count() == 1
