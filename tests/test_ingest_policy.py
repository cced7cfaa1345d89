"""Ingest-policy chain tests (SURVEY §5.2-2 goldens + §5.2-3
hypothesis properties): P4 flatten, P8 NA-drop, P5 stringify, P6
sanitize, P7 dedup-columns."""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cbts_datalake_synnex_spark.functions.ingest_policy import (
    MAX_STRING_LEN,
    apply_ingest_policy,
    drop_duplicate_columns,
    flatten_structs,
    sanitize_column_names,
    sanitize_types_for_catalog,
    stringify_columns,
)


def _df_from_records(spark, records):
    lines = [json.dumps(r, default=str) for r in records]
    return spark.read.json(spark.sparkContext.parallelize(lines, 1))


def test_flatten_nested_structs(spark):
    df = _df_from_records(spark, [{"a": {"b": {"c": 1}, "d": "x"}, "e": 2}])
    out = flatten_structs(df)
    assert sorted(out.columns) == ["a_b_c", "a_d", "e"]


def test_flatten_leaves_arrays_unexploded(spark):
    # json_normalize keeps lists as object values (SURVEY §7); the
    # stringify step then JSON-encodes them.
    df = _df_from_records(spark, [{"tags": ["x", "y"], "n": 1}])
    out = stringify_columns(flatten_structs(df))
    row = out.collect()[0]
    assert row["tags"] == '["x","y"]'


def test_stringify_scrubs_and_truncates(spark):
    df = _df_from_records(spark, [{"s": "nan", "t": None, "long": "a" * 20000}])
    out = stringify_columns(df)
    row = out.collect()[0]
    assert row["s"] == ""
    assert row["t"] == ""
    assert len(row["long"]) == MAX_STRING_LEN


def test_all_na_column_dropped(spark):
    df = _df_from_records(spark, [{"keep": 1, "gone": None}, {"keep": 2, "gone": None}])
    out = apply_ingest_policy(df)
    assert "gone" not in out.columns and "keep" in out.columns


def test_sanitize_and_dedup_columns(spark):
    df = _df_from_records(spark, [{"PO Number": 1, "po-number": 2, "9lives": 3}])
    out = drop_duplicate_columns(sanitize_column_names(df))
    assert out.columns.count("po_number") == 1
    assert "_9lives" in out.columns


def test_type_whitelist_degrades_to_string(spark):
    df = spark.createDataFrame([([1, 2], {"k": "v"}, 1)], "arr array<int>, m map<string,string>, n int")
    out = sanitize_types_for_catalog(df)
    types = dict(out.dtypes)
    assert types["arr"] == "string" and types["m"] == "string" and types["n"] == "int"


# ----------------------------------------------------------------------
# Property-based (SURVEY §5.2-3): random nested records → invariants.
_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**31), max_value=2**31),
    st.text(max_size=30),
)
_keys = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd"), whitelist_characters=" -_."),
    min_size=1,
    max_size=12,
)
_records = st.lists(
    st.dictionaries(
        _keys,
        st.one_of(_scalars, st.dictionaries(_keys, _scalars, max_size=3)),
        min_size=1,
        max_size=5,
    ),
    min_size=1,
    max_size=6,
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(records=_records)
def test_ingest_policy_invariants(spark, records):
    df = _df_from_records(spark, records)
    if not df.columns:  # all-empty dicts infer a zero-column frame
        return
    out = apply_ingest_policy(df)
    # row count preserved
    assert out.count() == len(records)
    # names sanitized & unique
    assert len(set(out.columns)) == len(out.columns)
    for c in out.columns:
        assert c == c.lower() and all(ch.isalnum() or ch == "_" for ch in c)
    # all values strings ≤ cap, never literal 'nan'/'None'
    for row in out.collect():
        for v in row:
            assert v is not None and isinstance(v, str)
            assert len(v) <= MAX_STRING_LEN
            assert v not in ("nan", "None", "NaN")


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(records=_records)
def test_flatten_matches_pandas_json_normalize(spark, records):
    """SURVEY §7 'json_normalize fidelity': our flatten must produce the
    same (sanitized) column set pandas json_normalize would, with
    nested dicts dot-flattened and nothing exploded."""
    import pandas as pd

    from cbts_datalake_synnex_spark.functions.ingest_policy import _sanitize_name

    df = _df_from_records(spark, records)
    if not df.columns:
        return
    ours = set(apply_ingest_policy(df).columns)
    # pandas side: json_normalize w/ sep '_', then the same sanitize +
    # drop of all-NA columns the reference applies (utils.py:49,58-62)
    pdf = pd.json_normalize(records, sep="_")
    pdf = pdf.dropna(axis=1, how="all")
    theirs = []
    for c in pdf.columns:
        name = _sanitize_name(str(c))
        if name not in theirs:
            theirs.append(name)
    assert ours == set(theirs)


def test_id_generation_unique(spark, sf_dir):
    """The registry entry now emits the invariant REPORT (round 5:
    derived deterministic oracle) — every uniqueness/format flag must
    come back true with a nonzero row anchor."""
    from cbts_datalake_synnex_spark.workload import REGISTRY

    row = REGISTRY["f_id_generation"].fn(spark, sf_dir).collect()[0]
    assert row.n_rows > 0
    assert row.uuids_unique and row.uuids_v4_format
    assert row.mids_unique and row.hashes_unique


def test_reingest_idempotent_under_dedup_key(spark, tmp_path):
    """SURVEY §5.2-3: the _incremental convention appends duplicates;
    content-hash dedup downstream restores exactly-once semantics."""
    from datetime import datetime, timezone

    from cbts_datalake_synnex_spark.engine import LakeEngine
    from cbts_datalake_synnex_spark.operators.dedup import exact_dedup

    db = f"t_{abs(hash(str(tmp_path))) % 10**9}"
    eng = LakeEngine(
        spark, str(tmp_path / "lake"), database=db,
        clock=lambda: datetime(2024, 5, 17, 12, 0, 0, tzinfo=timezone.utc),
    )
    try:
        batch = [{"po_number": "PO1", "qty": 1}, {"po_number": "PO2", "qty": 2}]
        eng.save_to_staging("po", batch, incremental=False)
        eng.save_to_staging("po", batch, incremental=False)  # re-delivery
        eng.curate("po")
        tbl = spark.table(eng.qualified("po"))
        assert tbl.count() == 4  # appends preserved (reference behavior)
        deduped = exact_dedup(tbl, content_cols=["po_number", "qty"], id_col="po_number")
        assert deduped.count() == 2  # dedup key restores exactly-once
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_ingest_policy_idempotent(spark):
    df = _df_from_records(spark, [{"A B": {"c": 1}, "x": None, "y": "ok"}])
    once = apply_ingest_policy(df)
    twice = apply_ingest_policy(once)
    assert once.columns == twice.columns
    assert [tuple(r) for r in once.collect()] == [tuple(r) for r in twice.collect()]


def test_case_duplicate_column_names(spark):
    """Regression: JSON keys differing only by case ({'A':…,'a':…}) are
    distinct pandas columns but AMBIGUOUS under Spark's
    case-insensitive resolver — the chain must process them
    positionally and keep-first after lowercasing (P6+P7)."""
    from cbts_datalake_synnex_spark.functions.ingest_policy import apply_ingest_policy

    df = spark.createDataFrame([("x", "y", 1)], "A string, a string, n bigint")
    out = apply_ingest_policy(df)
    assert out.columns == ["a", "n"]
    row = out.collect()[0]
    assert row["a"] == "x"  # keep-first: 'A' wins
    assert row["n"] == "1"

    # all-NA case duplicates (the hypothesis counterexample) drop cleanly
    df2 = spark.createDataFrame([(None, None)], "A string, a string")
    assert apply_ingest_policy(df2).columns == []


def test_case_duplicate_fields_inside_struct(spark):
    """Regression: case-duplicate fields INSIDE a nested object flatten
    positionally (star expansion), not via ambiguous getField."""
    from cbts_datalake_synnex_spark.functions.ingest_policy import apply_ingest_policy

    df = spark.createDataFrame(
        [(("x", "y"),)], "s struct<A string, a string>"
    )
    out = apply_ingest_policy(df)
    assert out.columns == ["s_a"]  # both lower to s_a; keep-first wins
    assert out.collect()[0]["s_a"] == "x"


def test_na_drop_any_matches_reference_literal(spark):
    """SURVEY §0.1-7: na_drop='any' reproduces the reference's
    df.isna().any() drop (utils.py:57-62) — one null kills the column;
    the engine default 'all' keeps it."""
    from cbts_datalake_synnex_spark.functions.ingest_policy import drop_all_null_columns

    df = _df_from_records(
        spark,
        [
            {"full": 1, "holey": 10, "empty": None},
            {"full": 2, "holey": None, "empty": None},
        ],
    )
    assert set(drop_all_null_columns(df, na_drop="all").columns) == {"full", "holey"}
    assert set(drop_all_null_columns(df, na_drop="any").columns) == {"full"}
    import pytest

    with pytest.raises(ValueError, match="na_drop"):
        drop_all_null_columns(df, na_drop="some")


def test_policy_runs_one_job(spark, spark_jobs):
    """The policy's one action is the NA-drop's non-null count: a single
    Spark job (an Observation on a noop write), however wide or nested
    the batch; the rest is one projection built from the schema."""
    df = spark.createDataFrame(
        [(("x", None), None, [1]), (("y", None), None, [])],
        "s struct<b string, c string>, gone string, arr array<int>",
    )
    out, jobs = spark_jobs(lambda: apply_ingest_policy(df))
    assert jobs == 1
    assert out.columns == ["s_b", "arr"]
    assert [tuple(r) for r in out.collect()] == [("x", "[1]"), ("y", "[]")]


def test_case_duplicates_two_levels_deep_and_in_arrays(spark):
    """Case-duplicate field names two struct levels down flatten by
    position; an array of such structs stays whole and stringifies by
    ``to_json`` with both keys. All-null leaves drop before keep-first,
    so ``s.A.B`` (all null) yields ``s_a_b`` to ``s.A.b``."""
    df = spark.createDataFrame(
        [(((None, "y"), ("z",)), [("p", "q")]), (((None, "w"), (None,)), [])],
        "s struct<A struct<B string, b string>, a struct<C string>>, "
        "arr array<struct<A string, a string>>",
    )
    out = apply_ingest_policy(df)
    assert out.columns == ["s_a_b", "s_a_c", "arr"]
    assert [tuple(r) for r in out.collect()] == [
        ("y", "z", '[{"A":"p","a":"q"}]'),
        ("w", "", "[]"),
    ]
    typed = apply_ingest_policy(df, stringify=False)
    assert typed.dtypes[:2] == [("s_a_b", "string"), ("s_a_c", "string")]
    assert typed.collect()[0]["arr"][0].asDict() == {"A": "p", "a": "q"}


def test_nested_names_with_dots_spaces_and_backticks(spark):
    """Field names are never parsed: dots, spaces and backticks at any
    level pass through the walk, and the flat names sanitize."""
    df = spark.createDataFrame(
        [(("x", ("y",)), [("v",)])],
        "`a.b` struct<`c d`: string, `e.f`: struct<`g``h`: string>>, "
        "`t s` array<struct<`k.l m`: string>>",
    )
    out = apply_ingest_policy(df)
    assert out.columns == ["a_b_c_d", "a_b_e_f_g_h", "t_s"]
    assert tuple(out.collect()[0]) == ("x", "y", '[{"k.l m":"v"}]')
    assert flatten_structs(df).columns == ["a.b_c d", "a.b_e.f_g`h", "t s"]
