"""Goldens for parquet snapshot time travel + restore (the Delta
transaction-log/RESTORE stand-in — SURVEY §8.1). The append/invalidate
contracts live in test_engine_lifecycle; this file pins RESTORE."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest

from cbts_datalake_synnex_spark.engine import LakeEngine

CLOCK = lambda: datetime(2024, 5, 17, 12, 0, 0, tzinfo=timezone.utc)  # noqa: E731


@pytest.fixture()
def engine(spark, tmp_path):
    db = f"tt_{abs(hash(str(tmp_path))) % 10**9}"
    eng = LakeEngine(spark, str(tmp_path / "lake"), database=db, clock=CLOCK)
    yield eng
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_restore_snapshot_rolls_back_and_journals_forward(engine, spark):
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    df2 = spark.createDataFrame([(3, "c")], "id int, v string")
    engine.write_curated("t", df1, mode="append", partition_cols=[])
    v1 = engine.snapshot_history("t")[-1]["version"]
    engine.write_curated("t", df2, mode="append", partition_cols=[])
    assert spark.table(engine.qualified("t")).count() == 3

    new_v = engine.restore_snapshot("t", v1)
    # current content is v1 again...
    got = {(r["id"], r["v"]) for r in spark.table(engine.qualified("t")).collect()}
    assert got == {(1, "a"), (2, "b")}
    # ...and the restore is a NEW version, not a rewrite of history
    hist = engine.snapshot_history("t")
    assert hist[-1]["version"] == new_v and new_v > v1 + 1
    assert engine.read_snapshot("t", new_v).count() == 2


def test_restore_unknown_version_raises(engine, spark):
    engine.write_curated(
        "t", spark.createDataFrame([(1, "a")], "id int, v string"), mode="append", partition_cols=[]
    )
    with pytest.raises(ValueError, match="no snapshot version 42"):
        engine.restore_snapshot("t", 42)


def test_snapshot_changes_between_versions(engine, spark):
    """Change feed between snapshots (readChangeFeed analogue): insert
    + update classified; unchanged rows absent from the delta."""
    v1_df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    engine.write_curated("t", v1_df, mode="append", partition_cols=[])
    v1 = engine.snapshot_history("t")[-1]["version"]
    # v2 = v1 plus a new row; an "update" on parquet append-history means
    # id 2 appears again with a new value (both rows present at v2), so
    # classify against a merged table instead: use merge_upsert
    engine.merge_upsert(
        "t",
        spark.createDataFrame([(2, "B"), (3, "c")], "id int, v string"),
        keys=["id"],
    )
    v2 = engine.snapshot_history("t")[-1]["version"]
    assert v2 > v1
    delta = {
        r["id"]: r["change_type"]
        for r in engine.snapshot_changes("t", v1, v2, keys=["id"]).collect()
    }
    assert delta == {2: "changed", 3: "inserted"}


def test_clone_table_zero_copy_and_divergence(engine, spark):
    """SHALLOW CLONE: same rows, shared inodes (no bytes copied),
    custom partition layout preserved, and divergence in either
    direction leaves the other table intact."""
    import os

    df = spark.createDataFrame(
        [(1, "x", "a"), (2, "y", "a"), (3, "z", "b")], "id int, v string, p string"
    )
    engine.write_curated("src", df, mode="append", partition_cols=["p"])
    loc = engine.clone_table("src", "dst")

    qsrc, qdst = engine.qualified("src"), engine.qualified("dst")
    src_rows = {(r["id"], r["v"], r["p"]) for r in spark.table(qsrc).collect()}
    dst_rows = {(r["id"], r["v"], r["p"]) for r in spark.table(qdst).collect()}
    assert dst_rows == src_rows
    # partition layout preserved → pruning works on the clone
    assert "p=a" in " ".join(
        os.path.join(dp, f) for dp, _, fs in os.walk(loc) for f in fs
    )
    # zero-copy: every clone file shares an inode with a source-side file
    src_loc = engine._table_location(qsrc).removeprefix("file:")
    src_inodes = {
        os.stat(os.path.join(dp, f)).st_ino
        for dp, _, fs in os.walk(src_loc)
        for f in fs
        if f.endswith(".parquet")
    }
    clone_files = [
        os.path.join(dp, f) for dp, _, fs in os.walk(loc) for f in fs if f.endswith(".parquet")
    ]
    assert clone_files and all(os.stat(f).st_ino in src_inodes for f in clone_files)

    # diverge the clone: append + overwrite; src must not move
    engine.write_curated(
        "dst",
        spark.createDataFrame([(4, "w", "b")], "id int, v string, p string"),
        mode="append",
        partition_cols=["p"],
    )
    assert spark.table(qdst).count() == 4
    assert {(r["id"]) for r in spark.table(qsrc).collect()} == {1, 2, 3}

    engine.write_curated(
        "dst",
        spark.createDataFrame([(9, "q", "c")], "id int, v string, p string"),
        mode="overwrite",
        partition_cols=["p"],
    )
    assert spark.table(qdst).count() == 1
    # source survives the clone's overwrite (its own links still exist)
    assert {(r["id"], r["v"], r["p"]) for r in spark.table(qsrc).collect()} == src_rows


def test_clone_table_at_older_version(engine, spark):
    """Cloning a historical snapshot branches from THAT version."""
    engine.write_curated(
        "s2", spark.createDataFrame([(1, "a")], "id int, v string"), mode="append", partition_cols=[]
    )
    v1 = engine.snapshot_history("s2")[-1]["version"]
    engine.write_curated(
        "s2", spark.createDataFrame([(2, "b")], "id int, v string"), mode="append", partition_cols=[]
    )
    engine.clone_table("s2", "s2_branch", version=v1)
    got = {r["id"] for r in spark.table(engine.qualified("s2_branch")).collect()}
    assert got == {1}


def test_clone_into_nonempty_destination_raises(engine, spark):
    engine.write_curated(
        "s3", spark.createDataFrame([(1, "a")], "id int, v string"), mode="append", partition_cols=[]
    )
    engine.clone_table("s3", "s3c")
    with pytest.raises(ValueError, match="not empty"):
        engine.clone_table("s3", "s3c")


def test_timestamp_as_of_resolves_to_newest_eligible_version(spark, tmp_path):
    """Delta TIMESTAMP AS OF parity: a ticking clock journals distinct
    commit times; reads resolve to the newest snapshot at-or-before
    the asked time, and a pre-history time raises."""
    times = [datetime(2024, 5, 17, 12, 0, 0, tzinfo=timezone.utc)]
    db = f"tt_{abs(hash(str(tmp_path))) % 10**9}_ts"
    eng = LakeEngine(spark, str(tmp_path / "lake_ts"), database=db, clock=lambda: times[0])
    try:
        eng.write_curated(
            "tt", spark.createDataFrame([(1, "a")], "id int, v string"),
            mode="append", partition_cols=[],
        )
        times[0] = datetime(2024, 5, 17, 13, 0, 0, tzinfo=timezone.utc)
        eng.write_curated(
            "tt", spark.createDataFrame([(2, "b")], "id int, v string"),
            mode="append", partition_cols=[],
        )
        # exact commit time, and a time between commits → version 1
        for ts in ("2024-05-17 12:00:00", "2024-05-17 12:30:00"):
            assert eng.version_at("tt", ts) == 1, ts
            assert {r["id"] for r in eng.read_snapshot_at("tt", ts).collect()} == {1}
        # after the second commit (datetime accepted too) → version 2
        at2 = datetime(2024, 5, 17, 14, 0, 0)
        assert eng.version_at("tt", at2) == 2
        assert {r["id"] for r in eng.read_snapshot_at("tt", at2).collect()} == {1, 2}
        with pytest.raises(ValueError, match="at or before"):
            eng.version_at("tt", "2024-05-17 11:59:59")
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_sql_version_and_timestamp_as_of(spark, tmp_path):
    """Delta time-travel SQL: VERSION AS OF and TIMESTAMP AS OF inside
    SELECTs (including a self-join of two versions) dispatch through
    the snapshot journal."""
    times = [datetime(2024, 5, 17, 12, 0, 0, tzinfo=timezone.utc)]
    db = f"tt_{abs(hash(str(tmp_path))) % 10**9}_sql"
    eng = LakeEngine(spark, str(tmp_path / "lake_sql"), database=db, clock=lambda: times[0])
    try:
        eng.write_curated(
            "tv", spark.createDataFrame([(1, "a")], "id int, v string"),
            mode="append", partition_cols=[],
        )
        times[0] = datetime(2024, 5, 17, 13, 0, 0, tzinfo=timezone.utc)
        eng.write_curated(
            "tv", spark.createDataFrame([(2, "b")], "id int, v string"),
            mode="append", partition_cols=[],
        )
        got = eng.sql("SELECT id FROM tv VERSION AS OF 1").collect()
        assert {r["id"] for r in got} == {1}
        got = eng.sql("SELECT id FROM tv TIMESTAMP AS OF '2024-05-17 12:30:00'").collect()
        assert {r["id"] for r in got} == {1}
        # two versions of the same table in one query
        got = eng.sql(
            "SELECT count(*) AS n FROM tv VERSION AS OF 2 a "
            "LEFT ANTI JOIN tv VERSION AS OF 1 b ON a.id = b.id"
        ).collect()[0]
        assert got["n"] == 1  # only the row added in v2
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_sql_restore_and_shallow_clone(spark, tmp_path):
    """RESTORE TABLE ... TO VERSION AS OF and CREATE TABLE ... SHALLOW
    CLONE [VERSION AS OF] dispatch through the snapshot journal."""
    db = f"tt_{abs(hash(str(tmp_path))) % 10**9}_rs"
    eng = LakeEngine(spark, str(tmp_path / "lake_rs"), database=db, clock=CLOCK)
    try:
        eng.write_curated(
            "rt", spark.createDataFrame([(1, "a")], "id int, v string"),
            mode="append", partition_cols=[],
        )
        eng.write_curated(
            "rt", spark.createDataFrame([(2, "b")], "id int, v string"),
            mode="append", partition_cols=[],
        )
        out = eng.sql("CREATE TABLE rt_branch SHALLOW CLONE rt VERSION AS OF 1").collect()[0]
        assert out["cloned_rows"] == 1
        assert {r["id"] for r in spark.table(eng.qualified("rt_branch")).collect()} == {1}

        out = eng.sql("RESTORE TABLE rt TO VERSION AS OF 1").collect()[0]
        assert out["new_version"] == 3  # restore journals forward
        assert {r["id"] for r in spark.table(eng.qualified("rt")).collect()} == {1}
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_restore_timestamp_as_of_sql(spark, tmp_path):
    """RESTORE TABLE ... TO TIMESTAMP AS OF 'ts' resolves through
    version_at (newest commit at-or-before) then restores — the Delta
    RESTORE timestamp form."""
    times = [datetime(2024, 5, 17, 12, 0, 0, tzinfo=timezone.utc)]
    db = f"tt_{abs(hash(str(tmp_path))) % 10**9}_rts"
    eng = LakeEngine(spark, str(tmp_path / "lake_rts"), database=db, clock=lambda: times[0])
    try:
        eng.write_curated(
            "rt", spark.createDataFrame([(1, "a")], "id int, v string"),
            mode="append", partition_cols=[],
        )
        times[0] = datetime(2024, 5, 17, 13, 0, 0, tzinfo=timezone.utc)
        eng.write_curated(
            "rt", spark.createDataFrame([(2, "b")], "id int, v string"),
            mode="append", partition_cols=[],
        )
        assert spark.table(eng.qualified("rt")).count() == 2
        out = eng.sql(
            "RESTORE TABLE rt TO TIMESTAMP AS OF '2024-05-17 12:30:00'"
        ).collect()[0]
        assert out["new_version"] > 2
        assert {r["id"] for r in spark.table(eng.qualified("rt")).collect()} == {1}
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_describe_detail(engine, spark):
    """DESCRIBE DETAIL parity: one-row metadata summary with file
    stats from _metadata, partition columns, and journal versions."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, f"v{i}", str(2020 + i % 2)) for i in range(8)], "id int, v string, y string"
    )
    engine.write_curated("dd", df, mode="overwrite", partition_cols=["y"])
    engine.write_curated(
        "dd",
        spark.createDataFrame([(100, "x", "2021")], "id int, v string, y string"),
        mode="append", partition_cols=["y"],
    )
    row = engine.sql("DESCRIBE DETAIL dd").collect()[0]
    assert row["name"].endswith(".dd")
    assert row["format"] == "parquet"
    assert row["partition_columns"] == "y"
    assert row["num_versions"] == 2
    n_files = len(spark.table(engine.qualified("dd")).inputFiles())
    assert row["num_files"] == n_files
    assert row["size_bytes"] > 0
    assert row["last_modified"] is not None
    # refuses other databases like every dispatched statement
    with pytest.raises(ValueError, match="otherdb"):
        engine.sql("DESCRIBE DETAIL otherdb.dd")


def test_vacuum_reclaims_pre_horizon_versions_only(engine, spark):
    df1 = spark.createDataFrame([(1, "a")], "id int, v string")
    df2 = spark.createDataFrame([(2, "b")], "id int, v string")
    df3 = spark.createDataFrame([(3, "c")], "id int, v string")
    engine.write_curated("t", df1, mode="overwrite", partition_cols=[])
    engine.write_curated("t", df2, mode="overwrite", partition_cols=[])
    engine.write_curated("t", df3, mode="overwrite", partition_cols=[])
    assert engine.vacuum_snapshots("t", keep_last=2) == 1
    # v1 was overwritten (files rewritten) AND its retention is gone
    with pytest.raises(ValueError, match="no longer materialized"):
        engine.read_snapshot("t", 1).count()
    # inside the horizon: still readable with journaled contents
    assert {r["id"] for r in engine.read_snapshot("t", 2).collect()} == {2}
    assert {r["id"] for r in engine.read_snapshot("t", 3).collect()} == {3}
    # idempotent: a second vacuum has nothing left to reclaim
    assert engine.vacuum_snapshots("t", keep_last=2) == 0
    # the journal keeps metadata for vacuumed versions
    assert [h["version"] for h in engine.snapshot_history("t")] == [1, 2, 3]


def _rows(df):
    return sorted(tuple(r) for r in df.select("id", "v", "p").collect())


def test_retention_keeps_each_removed_file_once(engine, spark):
    """A commit retires only the files it removes: after appends, MERGEs,
    a DELETE and a compaction, the table's retention directory holds
    each removed file exactly once, at its path under the table, and
    no per-version tree; no file has a second link; every version
    still reads its own rows."""
    import os

    schema = "id int, v string, p string"
    batch = lambda ids, v: spark.createDataFrame(  # noqa: E731
        [(i, f"{v}{i}", "ab"[i % 2]) for i in ids], schema
    )
    qt = engine.qualified("r")
    commits = [
        lambda: engine.write_curated("r", batch(range(6), "a"), mode="overwrite", partition_cols=["p"]),
        lambda: engine.write_curated("r", batch(range(6, 10), "b"), mode="append", partition_cols=["p"]),
        lambda: engine.merge_rows("r", batch([1, 10], "m"), ["id"]),
        lambda: engine.write_curated("r", batch(range(11, 14), "c"), mode="append", partition_cols=["p"]),
        lambda: engine.delete_rows("r", "id = 2"),
        lambda: engine.compact_table("r"),
        lambda: engine.merge_rows("r", batch([3, 14], "n"), ["id"]),
    ]
    states = []  # the live rows after each commit
    for commit in commits:
        commit()
        states.append(_rows(spark.table(qt)))
    hist = engine.snapshot_history("r")
    assert [h["operation"] for h in hist] == [
        "overwrite", "append", "merge", "append", "delete", "compact", "merge"
    ]

    retention = os.path.join(engine.zones.root, "_snapshot_log", "r")
    assert os.listdir(retention) == ["retired"]
    retired = sorted(
        os.path.relpath(os.path.join(d, f), os.path.join(retention, "retired"))
        for d, _, fs in os.walk(retention)
        for f in fs
    )
    removed = {f for prev, cur in zip(hist, hist[1:]) for f in prev["files"] if f not in cur["files"]}
    base = hist[-1]["base"]
    assert retired == sorted(os.path.relpath(f.removeprefix("file://"), base) for f in removed)
    live = [f.removeprefix("file://") for f in hist[-1]["files"]]
    kept = [os.path.join(retention, "retired", f) for f in retired]
    assert all(os.stat(f).st_nlink == 1 for f in live + kept)
    for h, state in zip(hist, states):
        assert _rows(engine.read_snapshot("r", h["version"])) == state


def test_version_before_recreate_stays_readable(engine, spark):
    """A re-partition re-creates the catalog entry, and dropping a
    managed table deletes its directory: the live files are retired
    before the drop, so the version before the re-create stays
    readable, clonable and restorable with its own layout. File counts
    come from the manifest."""
    schema = "id int, v string, p string, q int"
    rows = [(i, f"v{i}", "ab"[i % 2], i % 3) for i in range(9)]
    engine.write_curated("rc", spark.createDataFrame(rows, schema), mode="overwrite", partition_cols=["p"])
    v1 = engine.snapshot_history("rc")[-1]["version"]
    qt = engine.qualified("rc")
    n_files = engine.repartition_table("rc", ["q"])
    assert n_files == len(spark.table(qt).inputFiles())
    assert engine._table_layout(qt)[1] == ["q"]

    assert sorted(tuple(r) for r in engine.read_snapshot("rc", v1).select("id", "v", "p", "q").collect()) == rows
    engine.clone_table("rc", "rc_v1", version=v1)
    clone = engine.qualified("rc_v1")
    assert engine._table_layout(clone)[1] == ["p"]
    assert sorted(tuple(r) for r in spark.table(clone).select("id", "v", "p", "q").collect()) == rows

    engine.restore_snapshot("rc", v1)
    assert engine._table_layout(qt)[1] == ["p"]
    assert sorted(tuple(r) for r in spark.table(qt).select("id", "v", "p", "q").collect()) == rows
    # the re-partitioned version, replaced by the restore, reads too
    v2 = v1 + 1
    assert engine.read_snapshot("rc", v2).count() == len(rows)


def test_dpp_join_raises_when_pruning_disabled(spark):
    from cbts_datalake_synnex_spark.workload.lifecycle import lc_dpp_join

    prev = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
    try:
        with pytest.raises(RuntimeError, match="not dynamically pruned"):
            lc_dpp_join(spark, "/root/testdata/sf0.001")
    finally:
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", prev)


def test_bloom_join_raises_when_disabled(spark):
    """The plan pin must fire when the bloom rewrite cannot: the query
    sets the enabling confs itself, so intercept conf.set and force
    the feature off underneath it."""
    import unittest.mock as mock

    from cbts_datalake_synnex_spark.workload.lifecycle import lc_bloom_join

    prev = spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
    orig_set = spark.conf.set

    def force_off(k, v):
        if k == "spark.sql.optimizer.runtime.bloomFilter.enabled":
            v = "false"
        orig_set(k, v)

    try:
        with mock.patch.object(spark.conf, "set", side_effect=force_off):
            with pytest.raises(RuntimeError, match="bloom probe"):
                lc_bloom_join(spark, "/root/testdata/sf0.001")
    finally:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", prev)
