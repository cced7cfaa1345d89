"""Round-13 additions: KMV/theta distinct sketch (set-operation
cardinalities over independently built sketches) and the two-sided
CUSUM changepoint recurrence.

KMV invariants tested: (a) the sketch of a partitioned input equals
the sketch of the whole (merge-correctness — the property that makes
per-shard sketches unionable); (b) the exact-count short-circuit when
a group has < k distinct items; (c) the union estimate comes from a
valid sketch of A ∪ B (equals a direct build over the union); (d) the
theta intersection degrades to the EXACT intersection when both sides
are exact; (e) estimator relative error within the published
~1/sqrt(k−2) band at a cardinality ≫ k.

CUSUM invariants: the recurrence against a hand-stepped golden
(including reset-after-alarm), and entity isolation (state never
leaks across users).
"""

import math

import pytest
from pyspark.sql import functions as F

from cbts_datalake_synnex_spark.operators import sketches
from cbts_datalake_synnex_spark.operators.timeseries import cusum


def _items(spark, vals):
    return spark.createDataFrame([(str(v),) for v in vals], "item string")


def _hashes(df):
    return sorted(r["h"] for r in df.collect())


def test_kmv_partitioned_build_equals_whole(spark):
    vals = [f"v{i}" for i in range(500)]
    whole = _items(spark, vals)
    sk_whole = _hashes(sketches.kmv_build(whole, "item", k=64))
    # same rows arriving split across many partitions: identical sketch
    sk_split = _hashes(sketches.kmv_build(whole.repartition(13), "item", k=64))
    assert sk_whole == sk_split
    assert len(sk_whole) == 64


def test_kmv_exact_shortcircuit_below_k(spark):
    vals = [f"v{i % 10}" for i in range(100)]  # 10 distinct << k
    sk = sketches.kmv_build(_items(spark, vals), "item", k=64)
    est = sketches.kmv_estimate(sk, k=64).collect()[0]
    assert est["n_kept"] == 10
    assert est["kmv_est"] == 10.0


def test_kmv_union_sketch_equals_direct_build(spark):
    a_vals = [f"a{i}" for i in range(300)]
    b_vals = [f"b{i}" for i in range(300)] + a_vals[:100]
    a = _items(spark, a_vals)
    b = _items(spark, b_vals)
    sk_a = sketches.kmv_build(a, "item", k=64)
    sk_b = sketches.kmv_build(b, "item", k=64)
    merged = _hashes(sketches.kmv_merge(sk_a, sk_b, k=64))
    direct = _hashes(sketches.kmv_build(a.unionAll(b), "item", k=64))
    assert merged == direct


def test_kmv_intersect_exact_when_both_exact(spark):
    a = _items(spark, [f"v{i}" for i in range(30)])
    b = _items(spark, [f"v{i}" for i in range(20, 50)])  # overlap = 10
    sk_a = sketches.kmv_build(a, "item", k=64)
    sk_b = sketches.kmv_build(b, "item", k=64)
    row = sketches.kmv_intersect_estimate(sk_a, sk_b, k=64).collect()[0]
    assert row["n_common"] == 10
    assert row["kmv_est"] == 10.0


def test_kmv_estimator_error_band(spark):
    n, k = 5000, 128
    sk = sketches.kmv_build(_items(spark, range(n)), "item", k=k)
    est = sketches.kmv_estimate(sk, k=k).collect()[0]["kmv_est"]
    # CV ~ 1/sqrt(k-2); 5 sigma is a deterministic-fixture-safe band
    assert abs(est - n) / n < 5.0 / math.sqrt(k - 2)


def test_cusum_golden_with_reset(spark):
    # target 10, slack 5 -> C_hi 15, C_lo 5; threshold 20
    xs = [30.0, 18.0, 1.0, 2.0, 1.0, 1.0, 40.0]
    rows = [(i, 1, float(i), x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts double, value double"
    )
    out = cusum(
        df, "user_id", "ts", "value", order_cols=["event_id"],
        target=10.0, slack=5.0, threshold=20.0,
    ).orderBy("event_id").collect()
    # hand-stepped: s_hi: 15, 18, 4, 0, 0, 0, 25(alarm->reset)
    assert [r["cusum_hi"] for r in out] == [15.0, 18.0, 4.0, 0.0, 0.0, 0.0, 25.0]
    assert [r["alarm_hi"] for r in out] == [False, False, False, False, False, False, True]
    # s_lo: 0, 0, 4, 7, 11, 15, 0
    assert [r["cusum_lo"] for r in out] == [0.0, 0.0, 4.0, 7.0, 11.0, 15.0, 0.0]
    assert not any(r["alarm_lo"] for r in out)


def test_cusum_state_isolated_per_entity(spark):
    # two users interleaved; user 2's big first value must not leak
    rows = [
        (0, 1, 0.0, 100.0),
        (1, 2, 0.0, 100.0),
        (2, 1, 1.0, 100.0),
        (3, 2, 1.0, 0.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts double, value double"
    )
    out = {
        (r["user_id"], r["event_id"]): r
        for r in cusum(
            df, "user_id", "ts", "value", order_cols=["event_id"],
            target=10.0, slack=5.0, threshold=1000.0,
        ).collect()
    }
    assert out[(1, 0)]["cusum_hi"] == 85.0
    assert out[(1, 2)]["cusum_hi"] == 170.0
    assert out[(2, 1)]["cusum_hi"] == 85.0
    assert out[(2, 3)]["cusum_hi"] == 70.0


def test_kmv_intersect_zero_overlap_total_row(spark):
    a = sketches.kmv_build(_items(spark, [f"a{i}" for i in range(40)]), "item", k=32)
    b = sketches.kmv_build(_items(spark, [f"b{i}" for i in range(40)]), "item", k=32)
    row = sketches.kmv_intersect_estimate(a, b, k=32).collect()
    assert len(row) == 1
    assert row[0]["n_common"] == 0
    assert row[0]["kmv_est"] == 0.0


def test_engine_kmv_overlap_roundtrip(spark, tmp_path):
    import uuid

    from cbts_datalake_synnex_spark.engine import LakeEngine

    db = f"t_kmv_{uuid.uuid4().hex[:8]}"
    eng = LakeEngine(spark, str(tmp_path), database=db)
    try:
        a = _items(spark, [f"k{i}" for i in range(400)]).withColumnRenamed(
            "item", "key"
        )
        b = _items(spark, [f"k{i}" for i in range(200, 600)]).withColumnRenamed(
            "item", "key"
        )
        a.write.saveAsTable(eng.qualified("ta"))
        b.write.saveAsTable(eng.qualified("tb"))
        eng.analyze_join_column("ta", "key", depth=2, width=32)
        eng.analyze_join_column("tb", "key", depth=2, width=32)
        row = eng.estimate_key_overlap_kmv("ta", "key", "tb", "key").first()
        # k=256 < 400 distinct: estimator path; truth a=400 b=400 u=600 i=200
        assert abs(row["est_keys_a"] - 400) <= 0.25 * 400
        assert abs(row["est_keys_union"] - 600) <= 0.25 * 600
        assert abs(row["est_keys_overlap"] - 200) <= 0.35 * 200
        assert row["n_kept_a"] == 256
        # missing sketch raises with the analyze hint
        import pytest as _pytest

        with _pytest.raises(ValueError, match="analyze_join_column"):
            eng.estimate_key_overlap_kmv("ta", "key", "missing_t", "key")
    finally:
        spark.catalog.setCurrentDatabase("default")
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


@pytest.mark.parametrize("writer", ["saveAsTable", "write_curated"])
def test_fold_column_stats_ladder_and_staleness(spark, tmp_path, writer):
    """The fold's full / incremental / noop ladder on a table the
    engine never journaled (``saveAsTable``: its live files are a
    listing) and on an engine table (``write_curated``: its snapshot
    manifest)."""
    import uuid

    from cbts_datalake_synnex_spark.engine import LakeEngine
    from cbts_datalake_synnex_spark.operators import sketches

    db = f"t_fold_{uuid.uuid4().hex[:8]}"
    eng = LakeEngine(spark, str(tmp_path), database=db)

    def write(df, mode):
        if writer == "saveAsTable":
            df.write.mode(mode).saveAsTable(eng.qualified("ft"))
        else:
            eng.write_curated("ft", df, mode=mode)

    def sketch_tables():
        tables = {k: spark.table(eng.qualified(f"ft_{k}_item")) for k in ("cms", "hll", "kmv")}
        return {k: (t.schema, sorted(tuple(r) for r in t.collect())) for k, t in tables.items()}

    try:
        a = _items(spark, [f"k{i}" for i in range(100)])
        b = _items(spark, [f"k{i}" for i in range(80, 180)])
        write(a, "overwrite")
        assert eng.fold_join_column_stats("ft", "item", depth=2, width=32) == "full"
        write(b, "append")
        assert (
            eng.fold_join_column_stats("ft", "item", depth=2, width=32)
            == "incremental"
        )
        assert eng.fold_join_column_stats("ft", "item", depth=2, width=32) == "noop"
        # a DIRECT analyze advances the fold ledger: the next fold must
        # be noop, NOT a double-counting incremental
        eng.analyze_join_column("ft", "item", depth=2, width=32)
        assert eng.fold_join_column_stats("ft", "item", depth=2, width=32) == "noop"
        # total CMS mass must equal the row count exactly (no double fold)
        cms = spark.table(eng.qualified("ft_cms_item"))
        mass = cms.groupBy("d").sum("cnt").collect()
        assert all(r["sum(cnt)"] == 200 for r in mass)
        analyzed = sketch_tables()
        assert [(f.name, f.dataType.simpleString()) for f in analyzed["cms"][0]] == [
            ("d", "int"), ("bucket", "bigint"), ("cnt", "bigint"),
            ("depth", "int"), ("width", "int"), ("salt", "string"),
        ]
        assert [f.name for f in analyzed["hll"][0]] == ["hll"]
        assert [f.name for f in analyzed["kmv"][0]] == ["rank", "h", "k", "salt"]
        # spec change voids mergeability -> full rebuild
        assert eng.fold_join_column_stats("ft", "item", depth=3, width=32) == "full"
        # ... and a full fold writes what the analyze wrote, schema included
        assert eng.fold_join_column_stats("ft", "item", depth=2, width=32) == "full"
        assert sketch_tables() == analyzed
        # OVERWRITE removes files -> mergeability voided -> full (same
        # spec as the ledger, so only the removed files can force it)
        write(a, "overwrite")
        assert eng.fold_join_column_stats("ft", "item", depth=2, width=32) == "full"
        sk = spark.table(eng.qualified("ft_kmv_item")).select("rank", "h")
        fresh = sketches.kmv_build(
            a.withColumnRenamed("item", "__item"), "__item", k=256
        )
        assert {(r["rank"], r["h"]) for r in sk.collect()} == {
            (r["rank"], r["h"]) for r in fresh.collect()
        }
        # a compaction after an append retires folded files -> full
        write(b, "append")
        eng.compact_table("ft")
        assert eng.fold_join_column_stats("ft", "item", depth=2, width=32) == "full"
        mass = spark.table(eng.qualified("ft_cms_item")).groupBy("d").sum("cnt").collect()
        assert all(r["sum(cnt)"] == 200 for r in mass)
    finally:
        spark.catalog.setCurrentDatabase("default")
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_kmv_pairwise_overlap_total_and_exact(spark):
    # three groups: a∩b = 20 exact-path items, a∩c = 0 (must still
    # report a total zero row), b∩c = 10
    rows = (
        [("a", f"x{i}") for i in range(40)]
        + [("b", f"x{i}") for i in range(20, 60)]
        + [("c", f"x{i}") for i in range(50, 60)]
        + [("c", f"y{i}") for i in range(30)]
    )
    df = spark.createDataFrame(rows, "grp string, item string")
    sk = sketches.kmv_build(df, "item", ["grp"], k=64)
    out = {
        (r["group_a"], r["group_b"]): (r["n_common"], r["kmv_est"])
        for r in sketches.kmv_pairwise_overlap(sk, "grp", k=64).collect()
    }
    # all below k: exact path, estimates are exact counts
    assert out[("a", "b")] == (20, 20.0)
    assert out[("a", "c")] == (0, 0.0)
    assert out[("b", "c")] == (10, 10.0)
    assert len(out) == 3
