"""UNIQUE constraint enforcement (round 12): the Bloom fast path
(all-negative batch skips the table scan), filter maintenance across
appends, NULL-key exemption, multi-column path, and existing-dup
refusal at ADD time."""

import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from cbts_datalake_synnex_spark.engine import ConstraintViolation, LakeEngine


@pytest.fixture()
def eng(spark):
    root = tempfile.mkdtemp(prefix="uc_")
    db = f"uc_{uuid.uuid4().hex[:8]}"
    e = LakeEngine(spark, root, database=db)
    yield e
    spark.catalog.setCurrentDatabase("default")
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    shutil.rmtree(root, ignore_errors=True)


def _df(spark, rows, schema="k int, v string"):
    return spark.createDataFrame(rows, schema)


def test_bloom_fast_path_skips_table_scan(spark, eng):
    eng.write_curated(
        "t", _df(spark, [(i, "a") for i in range(1, 200)]),
        mode="overwrite", partition_cols=[],
    )
    eng.add_unique_constraint("t", "pk", ["k"])
    eng.analyze_membership("t", "k", n_bits=1 << 16, k=3)
    # fresh keys: screened, zero positives, table never scanned
    eng.write_curated(
        "t", _df(spark, [(i, "b") for i in range(1000, 1050)]),
        mode="append", partition_cols=[],
    )
    st = eng._last_unique_stats["pk"]
    assert st["bloom_screened"] and st["bloom_positives"] == 0
    assert not st["table_scanned"]
    # maintenance: a key from THAT append now collides (and the probe
    # catches it — positives > 0 -> exact check -> reject)
    with pytest.raises(ConstraintViolation, match="collide"):
        eng.write_curated(
            "t", _df(spark, [(1000, "c")]), mode="append", partition_cols=[]
        )
    st = eng._last_unique_stats["pk"]
    assert st["bloom_screened"] and st["bloom_positives"] >= 1
    assert st["table_scanned"]


def test_batch_internal_dup_and_null_exemption(spark, eng):
    eng.write_curated(
        "t", _df(spark, [(1, "a")]), mode="overwrite", partition_cols=[]
    )
    eng.add_unique_constraint("t", "pk", ["k"])
    with pytest.raises(ConstraintViolation, match="WITHIN the batch"):
        eng.write_curated(
            "t", _df(spark, [(7, "x"), (7, "y")]),
            mode="append", partition_cols=[],
        )
    # NULL keys compare distinct: two NULLs pass (SQL UNIQUE semantics)
    eng.write_curated(
        "t", _df(spark, [(None, "x"), (None, "y")]),
        mode="append", partition_cols=[],
    )
    assert spark.table(eng.qualified("t")).count() == 3


def test_multi_column_unique_no_bloom(spark, eng):
    eng.write_curated(
        "t", _df(spark, [(1, "a"), (1, "b")]), mode="overwrite", partition_cols=[]
    )
    eng.add_unique_constraint("t", "pk2", ["k", "v"])
    with pytest.raises(ConstraintViolation, match="collide"):
        eng.write_curated(
            "t", _df(spark, [(1, "a")]), mode="append", partition_cols=[]
        )
    st = eng._last_unique_stats["pk2"]
    assert not st["bloom_screened"] and st["table_scanned"]
    eng.write_curated(
        "t", _df(spark, [(1, "c")]), mode="append", partition_cols=[]
    )


def test_add_refuses_existing_duplicates_and_overwrite_mode(spark, eng):
    eng.write_curated(
        "t", _df(spark, [(1, "a"), (1, "b")]), mode="overwrite", partition_cols=[]
    )
    with pytest.raises(ConstraintViolation, match="existing"):
        eng.add_unique_constraint("t", "pk", ["k"])
    eng.write_curated(
        "t", _df(spark, [(1, "a"), (2, "b")]), mode="overwrite", partition_cols=[]
    )
    eng.add_unique_constraint("t", "pk", ["k"])
    # overwrite replaces the table: only batch-internal uniqueness applies
    eng.write_curated(
        "t", _df(spark, [(1, "z")]), mode="overwrite", partition_cols=[]
    )
    assert spark.table(eng.qualified("t")).count() == 1
    # and the constraint survived the overwrite (preserved property)
    assert "pk" in eng.unique_constraints("t")


def test_sync_to_snapshot_idempotent_and_pure_delete(spark, eng):
    t0 = _df(spark, [(1, "a"), (2, "b"), (3, "c")])
    eng.write_curated("s", t0, mode="overwrite", partition_cols=[])
    snap = _df(spark, [(1, "a"), (2, "B"), (4, "d")])  # 3 gone, 2 changed, 4 new
    counts = eng.sync_to_snapshot("s", snap, keys=["k"])
    assert counts == {"inserted": 1, "changed": 1, "deleted": 1}
    got = {(r["k"], r["v"]) for r in spark.table(eng.qualified("s")).collect()}
    assert got == {(1, "a"), (2, "B"), (4, "d")}
    # idempotent: syncing to the same snapshot is a no-op
    assert eng.sync_to_snapshot("s", snap, keys=["k"]) == {
        "inserted": 0, "changed": 0, "deleted": 0,
    }
    # pure delete: empty snapshot empties the table through the merge path
    empty = _df(spark, [], "k int, v string")
    assert eng.sync_to_snapshot("s", empty, keys=["k"])["deleted"] == 3
    assert spark.table(eng.qualified("s")).count() == 0


def test_sync_to_snapshot_commits_once(spark, eng, spark_jobs):
    """Upserts and deletes of one sync land in one version: no reader
    sees the upserts without the deletes. The diff runs once: the
    counts, the merge's file probe and the commit read it pinned."""
    eng.write_curated("s", _df(spark, [(1, "a"), (2, "b"), (3, "c")]),
                      mode="overwrite", partition_cols=[])
    before = len(eng.snapshot_history("s"))
    snap = _df(spark, [(1, "a"), (2, "B"), (4, "d")])
    counts, jobs = spark_jobs(lambda: eng.sync_to_snapshot("s", snap, keys=["k"]))
    assert counts == {"inserted": 1, "changed": 1, "deleted": 1}
    # 17 jobs on local[4]; 26 when each of the three re-ran the diff
    assert jobs <= 18
    history = eng.snapshot_history("s")
    assert len(history) == before + 1 and history[-1]["operation"] == "merge"
    got = {(r["k"], r["v"]) for r in spark.table(eng.qualified("s")).collect()}
    assert got == {(1, "a"), (2, "B"), (4, "d")}


def test_sync_to_snapshot_without_changes_runs_only_the_diff(spark, eng, spark_jobs):
    """A sync that changes nothing pins the key-sized diff, reads its
    counts from that one checkpoint and stops: no merge source, no
    commit."""
    rows = [(i, f"v{i}") for i in range(2000)]
    eng.write_curated("s", _df(spark, rows), mode="overwrite", partition_cols=[])
    before = len(eng.snapshot_history("s"))
    counts, jobs = spark_jobs(lambda: eng.sync_to_snapshot("s", _df(spark, rows), keys=["k"]))
    assert counts == {"inserted": 0, "changed": 0, "deleted": 0}
    # 3 jobs at local[2] and local[4]; 6 when the merge source was
    # joined in and checkpointed before the counts
    assert jobs < 6
    assert len(eng.snapshot_history("s")) == before


def test_stale_bloom_disabled_after_overwrite(spark, eng):
    """ADVICE r12 (high): a non-append mutation used to leave the
    persisted filter with FALSE NEGATIVES — the bloom said non-member,
    the scan was skipped, and a duplicate was silently admitted. The
    version stamp now voids the fast path after any mutation the
    filter was not folded for."""
    eng.write_curated(
        "t", _df(spark, [(i, "a") for i in range(1, 100)]),
        mode="overwrite", partition_cols=[],
    )
    eng.add_unique_constraint("t", "pk", ["k"])
    eng.analyze_membership("t", "k", n_bits=1 << 16, k=3)
    # overwrite with keys the filter has NEVER seen
    eng.write_curated(
        "t", _df(spark, [(500, "x"), (501, "x")]),
        mode="overwrite", partition_cols=[],
    )
    # re-appending key 500 MUST be rejected (pre-fix: bloom negative
    # -> scan skipped -> duplicate admitted)
    with pytest.raises(ConstraintViolation, match="collide"):
        eng.write_curated(
            "t", _df(spark, [(500, "y")]), mode="append", partition_cols=[]
        )
    st = eng._last_unique_stats["pk"]
    assert st["bloom_stale"] and not st["bloom_screened"] and st["table_scanned"]
    # rebuilding the filter restores the fast path
    eng.analyze_membership("t", "k", n_bits=1 << 16, k=3)
    eng.write_curated(
        "t", _df(spark, [(900, "z")]), mode="append", partition_cols=[]
    )
    st = eng._last_unique_stats["pk"]
    assert st["bloom_screened"] and not st["bloom_stale"]


def test_stale_bloom_after_delete_then_reinsert(spark, eng):
    """DELETE journals a snapshot too: the filter goes stale (safe —
    deleted keys are bloom false-POSITIVES, but the stamp discipline
    is one rule for every mutation) and re-inserting a deleted key is
    correctly ADMITTED by the exact scan."""
    eng.write_curated(
        "t", _df(spark, [(i, "a") for i in range(1, 50)]),
        mode="overwrite", partition_cols=[],
    )
    eng.add_unique_constraint("t", "pk", ["k"])
    eng.analyze_membership("t", "k", n_bits=1 << 16, k=3)
    eng.delete_rows("t", F.col("k") == 7)
    eng.write_curated(
        "t", _df(spark, [(7, "back")]), mode="append", partition_cols=[]
    )
    st = eng._last_unique_stats["pk"]
    assert st["bloom_stale"] and st["table_scanned"]
    assert eng.spark.table(eng.qualified("t")).filter("k = 7").count() == 1


def test_analyze_membership_default_k_valid(spark, eng):
    """ADVICE r12 (medium): the default k=5 violated the md5 4-slice
    cap — the public API raised on default arguments."""
    eng.write_curated(
        "t", _df(spark, [(1, "a"), (2, "b")]), mode="overwrite", partition_cols=[]
    )
    eng.analyze_membership("t", "k")  # must not raise
    with pytest.raises(ValueError, match="at most 4"):
        eng.analyze_membership("t", "k", k=5)


def test_concurrent_appends_keep_each_bloom_stamp(spark, eng):
    """The Bloom freshness stamps of all tables share one JSON sidecar:
    concurrent curates to different tables (`run_concurrent`) must
    neither read a partial file nor drop each other's stamps."""
    from cbts_datalake_synnex_spark.engine import _COLUMN_STATS

    tables = ("t0", "t1")
    for t in tables:
        eng.write_curated(
            t, _df(spark, [(i, "a") for i in range(1, 50)]),
            mode="overwrite", partition_cols=[],
        )
        eng.add_unique_constraint(t, "pk", ["k"])
        eng.analyze_membership(t, "k", n_bits=1 << 16, k=3)

    def appends(t):
        def run():
            for n in range(3):
                eng.write_curated(
                    t, _df(spark, [(1000 + n, "b")]),
                    mode="append", partition_cols=[],
                )
        return run

    results = eng.run_concurrent({t: appends(t) for t in tables})
    assert all(r is None for r in results.values()), results
    stamps = eng._sidecar(_COLUMN_STATS)
    for t in tables:
        assert stamps[f"{t}_bloom_k"] == eng._current_snapshot_version(t)
