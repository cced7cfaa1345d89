"""Regression tests for the five ADVICE r10 findings.

1. asof_nearest: value and matched_ts must come from the SAME right
   row even when right-side values contain NULLs (joins.py).
2. update_ann_index: duplicate ids WITHIN one incoming batch must not
   insert duplicate postings (engine.py).
3. preference_pairs: NULL-score candidates carry no signal and must
   never be chosen (packing.py struct-ordering NULL-first gotcha).
4. ks_test_report: NULL values excluded from both CDFs (dq.py).
5. compact_*_index swap: rename-aside order — no point in the swap
   drops the only complete copy; stale `_old` twins are cleaned up.
"""

import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from cbts_datalake_synnex_spark.engine import LakeEngine


# Certification tier (round 14): excluded from the default driver-budget
# run via pytest.ini; run with `pytest -m slow` (see pytest.ini).
pytestmark = pytest.mark.slow


@pytest.fixture()
def eng(spark):
    root = tempfile.mkdtemp(prefix="advice10_")
    db = f"advice10_{uuid.uuid4().hex[:8]}"
    engine = LakeEngine(spark, root, database=db)
    try:
        yield engine
    finally:
        spark.catalog.setCurrentDatabase("default")
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        shutil.rmtree(root, ignore_errors=True)


def test_asof_nearest_null_value_row_keeps_ts_and_value_paired(spark):
    from cbts_datalake_synnex_spark.operators.joins import asof_nearest

    left = spark.createDataFrame(
        [(1, 100, 1000)], "lid bigint, k bigint, t bigint"
    ).select("lid", "k", "t")
    # nearest right row (ts=990) has a NULL value; a farther one
    # (ts=900) has a real value. The match is the NEAREST ROW —
    # value NULL, matched_ts 990 — never value-from-900 + ts-from-990.
    right = spark.createDataFrame(
        [(10, 100, 900, 5.0), (11, 100, 990, None)],
        "rid bigint, k bigint, rt bigint, v double",
    )
    row = asof_nearest(
        left, right, on="k", left_ts="t", right_ts="rt",
        value_col="v", tiebreak="rid",
    ).first()
    assert row["matched_ts"] == 990 and row["matched_dir"] == "b"
    assert row["v"] is None


def test_asof_nearest_null_value_forward_side_paired(spark):
    from cbts_datalake_synnex_spark.operators.joins import asof_nearest

    left = spark.createDataFrame([(1, 7, 1000)], "lid bigint, k bigint, t bigint")
    right = spark.createDataFrame(
        [(20, 7, 1005, None), (21, 7, 1500, 9.0)],
        "rid bigint, k bigint, rt bigint, v double",
    )
    row = asof_nearest(
        left, right, on="k", left_ts="t", right_ts="rt",
        value_col="v", tiebreak="rid",
    ).first()
    assert row["matched_ts"] == 1005 and row["matched_dir"] == "f"
    assert row["v"] is None


def test_preference_pairs_null_scores_never_chosen(spark):
    from cbts_datalake_synnex_spark.operators.packing import preference_pairs

    df = spark.createDataFrame(
        [
            (1, 10, 0.9), (1, 11, 0.2), (1, 12, None),  # NULL must lose
            (2, 20, None), (2, 21, None),               # all-NULL: dropped
            (3, 30, None), (3, 31, 0.5),                # one scored: degenerate
        ],
        "p bigint, i bigint, score double",
    )
    out = {r["p"]: r for r in preference_pairs(df, "p", "i", "score").collect()}
    assert set(out) == {1}
    assert (out[1]["chosen_id"], out[1]["rejected_id"]) == (10, 11)
    assert out[1]["chosen_score"] == 0.9 and out[1]["n_candidates"] == 2


def test_ks_test_nulls_excluded_from_both_cdfs(spark):
    from cbts_datalake_synnex_spark.operators.dq import ks_test_report

    vals = [(float(i % 10),) for i in range(50)]
    a = spark.createDataFrame(vals, "value double")
    b = spark.createDataFrame(vals + [(None,)] * 25, "value double")
    row = ks_test_report(a, b, "value").first()
    # identical non-NULL distributions: NULLs must not show up in the
    # counts nor perturb the statistic
    assert (row["n_a"], row["n_b"]) == (50, 50)
    assert row["ks_stat"] == 0.0 and not row["drifted"]


def _vecs(spark, ids, dim=6):
    return spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(dim)]) for i in ids],
        "vec_id bigint, embedding array<double>",
    )


def test_update_ann_index_intra_batch_duplicates_collapse(spark, eng):
    base = _vecs(spark, range(0, 40))
    eng.build_ann_index("d", base, "vec_id", "embedding", n_cells=4, n_assign=1)
    batch = _vecs(spark, [50, 50, 50, 51, 51, 52])
    eng.update_ann_index("d", batch, "vec_id", "embedding")
    posted = (
        spark.table(eng.qualified("d_postings"))
        .filter(F.col("cand_id") >= 50)
        .groupBy("cand_id")
        .count()
        .collect()
    )
    # n_assign=1 → exactly ONE posting per new id, duplicates or not
    assert {r["cand_id"]: r["count"] for r in posted} == {50: 1, 51: 1, 52: 1}


def _ann_index(spark, eng):
    eng.build_ann_index("c", _vecs(spark, range(0, 40)), "vec_id", "embedding", n_cells=4, n_assign=1)
    eng.update_ann_index("c", _vecs(spark, range(40, 60)), "vec_id", "embedding")
    return eng.compact_ann_index, {"c_postings": None}


def _dedup_index(spark, eng):
    def docs(ids):
        return spark.createDataFrame(
            [(i, f"words {i % 7} about {i % 5} the lake {i}") for i in ids], "doc_id bigint, text string"
        )

    eng.build_dedup_index("c", docs(range(0, 20)), "doc_id", "text", n_buckets=4)
    batch = docs(range(20, 40))
    decisions = eng.admit_against_dedup_index("c", batch, "doc_id", "text")
    eng.update_dedup_index("c", batch, decisions, "doc_id", "text")
    # _df compacts to one row per shingle: compare its sums per shingle
    return eng.compact_dedup_index, {"c_entries": None, "c_df": "sh"}


@pytest.mark.parametrize("index", [_ann_index, _dedup_index], ids=["ann", "dedup"])
def test_compact_swap_leaves_only_live_table_and_clears_stale_old(spark, eng, index):
    compact, tables = index(spark, eng)

    def contents(table, sum_by):
        df = spark.table(eng.qualified(table))
        if sum_by:
            df = df.groupBy(sum_by).agg(F.sum("df"))
        return sorted(map(tuple, df.collect()))

    # a stale `_old` twin from a previously crashed swap must not
    # block the rename-aside
    for t in tables:
        spark.createDataFrame([(0,)], "junk bigint").write.saveAsTable(eng.qualified(f"{t}_old"))
    before = {t: contents(t, by) for t, by in tables.items()}
    compact("c")
    assert {t: contents(t, by) for t, by in tables.items()} == before
    names = {t.name for t in spark.catalog.listTables(eng.database)}
    for t in tables:
        assert t in names
        assert f"{t}_old" not in names and f"{t}_compact" not in names
