"""Round-6 DML guardrails (judge-advice hardening, Delta parity):

- SQL DML dispatch refuses a statement naming a DIFFERENT database
  instead of silently rerouting it to the engine database's
  same-named table (a wrong-table destructive operation).
- ``VERSION/TIMESTAMP AS OF`` text inside a string literal is data,
  not time-travel syntax — the query runs verbatim.
- OPTIMIZE / compact_table preserves an EVOLVED partition scheme
  (Delta's OPTIMIZE never changes partitioning), and is idempotent:
  only partitions holding several small files are rewritten.
- CHECK constraints and generated columns are enforced on
  UPDATE/MERGE splices, not just write_curated; generated columns the
  statement does not assign are recomputed from post-update values
  (Delta UPDATE/MERGE semantics).
- merge_rows' default broadcast decision comes from Catalyst's size
  estimate, so an arbitrarily large merge source cannot OOM the
  driver.
- A crash at any file step of a commit (merge, delete, compaction) leaves the
  old or the new version; `vacuum_orphans` repairs the directory, and
  a non-local table location fails loudly.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from cbts_datalake_synnex_spark.engine import ConstraintViolation, LakeEngine

_FIXED_NOW = datetime(2024, 3, 15, 12, 0, 0)


@pytest.fixture()
def eng(spark):
    root = tempfile.mkdtemp(prefix="guard_lake_")
    db = f"guard_{uuid.uuid4().hex[:8]}"
    engine = LakeEngine(spark, root, database=db, clock=lambda: _FIXED_NOW)
    yield engine
    spark.catalog.setCurrentDatabase("default")
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    shutil.rmtree(root, ignore_errors=True)


def _seed(spark, eng, table="t"):
    df = spark.createDataFrame(
        [(i, f"n{i}", (i % 5) + 1) for i in range(20)], "k int, name string, qty int"
    )
    eng.write_curated(table, df, mode="overwrite", partition_cols=[])
    return eng.qualified(table)


# ---------------------------------------------------------------- qualifiers
def test_dml_other_database_qualifier_refused(spark, eng):
    _seed(spark, eng)
    for stmt in [
        "DELETE FROM otherdb.t WHERE k = 1",
        "UPDATE otherdb.t SET qty = 0 WHERE k = 1",
        "OPTIMIZE otherdb.t",
        "VACUUM otherdb.t",
        "DESCRIBE HISTORY otherdb.t",
        "RESTORE TABLE otherdb.t TO VERSION AS OF 1",
    ]:
        with pytest.raises(ValueError, match="otherdb"):
            eng.sql(stmt)
    # nothing was deleted by the refused statements
    assert spark.table(eng.qualified("t")).count() == 20


def test_dml_same_database_qualifier_accepted(spark, eng):
    _seed(spark, eng)
    out = eng.sql(f"DELETE FROM {eng.database}.t WHERE k < 5").collect()[0]
    assert out["affected_rows"] == 5
    assert spark.table(eng.qualified("t")).count() == 15


# ---------------------------------------------------------------- literals
def test_time_travel_text_inside_literal_is_data(spark, eng):
    _seed(spark, eng)
    # Previously the dispatch re.search fired on the literal and the
    # substitution corrupted the query text around it.
    got = eng.sql(
        "SELECT count(*) AS n FROM t WHERE name != 'FROM t VERSION AS OF 99'"
    ).collect()[0]
    assert got["n"] == 20


def test_time_travel_still_dispatches_after_from(spark, eng):
    qt = _seed(spark, eng)
    eng.sql("DELETE FROM t WHERE k < 10")
    assert spark.table(qt).count() == 10
    got = eng.sql("SELECT count(*) AS n FROM t VERSION AS OF 1").collect()[0]
    assert got["n"] == 20


# ---------------------------------------------------------------- OPTIMIZE
def test_optimize_preserves_evolved_partitioning(spark, eng):
    qt = _seed(spark, eng)
    eng.repartition_table("t", ["qty"])
    parts = [c.name for c in spark.catalog.listColumns(qt) if c.isPartition]
    assert parts == ["qty"]
    eng.compact_table("t")
    parts = [c.name for c in spark.catalog.listColumns(qt) if c.isPartition]
    assert parts == ["qty"], "OPTIMIZE must never change partitioning"
    assert spark.table(qt).count() == 20
    # partition pruning still works post-compaction
    assert spark.table(qt).filter("qty = 3").count() == 4


# ------------------------------------------------------- DML validation
def test_update_enforces_check_constraint(spark, eng):
    qt = _seed(spark, eng)
    eng.add_check_constraint("t", "qty_positive", "qty >= 0")
    with pytest.raises(ConstraintViolation, match="qty_positive"):
        eng.update_rows("t", "k = 3", {"qty": "-5"})
    # rejected before splicing: table untouched
    assert spark.table(qt).filter("qty < 0").count() == 0
    assert spark.table(qt).count() == 20
    # clean update passes
    assert eng.update_rows("t", "k = 3", {"qty": "99"}) == 1
    assert spark.table(qt).filter("k = 3").collect()[0]["qty"] == 99


def test_update_recomputes_generated_column(spark, eng):
    qt = _seed(spark, eng)
    eng.add_generated_column("t", "qty2", "qty * 2", dtype="int")
    assert eng.update_rows("t", "k = 4", {"qty": "10"}) == 1
    row = spark.table(qt).filter("k = 4").collect()[0]
    assert (row["qty"], row["qty2"]) == (10, 20), "derived column must not go stale"
    # untouched rows keep consistent derived values
    bad = spark.table(qt).filter("qty2 != qty * 2").count()
    assert bad == 0


def test_update_explicit_generated_mismatch_rejected(spark, eng):
    qt = _seed(spark, eng)
    eng.add_generated_column("t", "qty2", "qty * 2", dtype="int")
    with pytest.raises(ConstraintViolation, match="generated-column"):
        eng.update_rows("t", "k = 4", {"qty2": "7"})
    assert spark.table(qt).filter("qty2 != qty * 2").count() == 0


def test_merge_enforces_check_constraint(spark, eng):
    qt = _seed(spark, eng)
    eng.add_check_constraint("t", "qty_positive", "qty >= 0")
    src = spark.createDataFrame([(3, "upd", -8)], "k int, name string, qty int")
    with pytest.raises(ConstraintViolation, match="qty_positive"):
        eng.merge_rows("t", src, keys=["k"])
    assert spark.table(qt).filter("qty < 0").count() == 0


def test_merge_insert_computes_generated_column(spark, eng):
    qt = _seed(spark, eng)
    eng.add_generated_column("t", "qty2", "qty * 2", dtype="int")
    src = spark.createDataFrame(
        [(100, "new", 6), (3, "upd", 9)], "k int, name string, qty int"
    )
    res = eng.merge_rows("t", src, keys=["k"])
    assert res["inserted"] == 1 and res["updated"] >= 1
    rows = {r["k"]: r for r in spark.table(qt).filter("k in (100, 3)").collect()}
    assert rows[100]["qty2"] == 12, "insert must compute the generated column"
    assert rows[3]["qty2"] == 18, "update must recompute the generated column"
    assert spark.table(qt).filter("qty2 != qty * 2").count() == 0


# ------------------------------------------------------- broadcast guard
def test_fits_broadcast_small_batch_and_unknown_plan(spark, eng):
    small = spark.createDataFrame([(1, "a")], "k int, v string")
    assert eng._fits_broadcast(small) is True
    # post-shuffle estimates are unknown/huge → never broadcast blind
    big = spark.range(0, 1000).groupBy((F.col("id") % 7).alias("k")).agg(
        F.collect_list("id").alias("v")
    )
    assert eng._fits_broadcast(big) in (True, False)  # never raises
    assert eng._fits_broadcast(spark.range(10 ** 9).crossJoin(spark.range(100))) is False


def test_merge_without_broadcast_matches_broadcast(spark, eng, monkeypatch):
    _seed(spark, eng, table="a")
    _seed(spark, eng, table="b")
    src = spark.createDataFrame(
        [(5, "x", 50), (200, "y", 60)], "k int, name string, qty int"
    )
    monkeypatch.setattr(eng, "_fits_broadcast", lambda df: True)
    ra = eng.merge_rows("a", src, keys=["k"])
    monkeypatch.setattr(eng, "_fits_broadcast", lambda df: False)
    rb = eng.merge_rows("b", src, keys=["k"])
    assert ra == rb
    ta = spark.table(eng.qualified("a")).orderBy("k").collect()
    tb = spark.table(eng.qualified("b")).orderBy("k").collect()
    assert ta == tb


# ------------------------------------------------- DROP/RENAME COLUMN
def test_drop_column_rewrites_and_journals(spark, eng):
    qt = _seed(spark, eng)
    out = eng.sql("ALTER TABLE t DROP COLUMN qty").collect()[0]
    assert out["n_files"] >= 1
    assert set(spark.table(qt).columns) == {"k", "name"}
    assert spark.table(qt).count() == 20
    # the pre-drop rows (with the column) are still time-travelable
    v_before = eng.snapshot_history("t")[-2]["version"]
    old = eng.read_snapshot("t", v_before)
    assert "qty" in old.columns and old.count() == 20


def test_drop_column_refusals(spark, eng):
    _seed(spark, eng)
    eng.add_check_constraint("t", "qty_pos", "qty >= 0")
    with pytest.raises(ValueError, match="qty_pos"):
        eng.drop_column("t", "qty")
    eng.drop_check_constraint("t", "qty_pos")
    eng.add_generated_column("t", "qty2", "qty * 2", dtype="int")
    with pytest.raises(ValueError, match="qty2"):
        eng.drop_column("t", "qty")  # base of a generated column
    # dropping the generated column itself is fine and removes its rule
    eng.drop_column("t", "qty2")
    assert eng.generated_columns("t") == {}
    with pytest.raises(ValueError, match="no such column"):
        eng.drop_column("t", "nope")


def test_rename_column_moves_generated_rule(spark, eng):
    qt = _seed(spark, eng)
    eng.add_generated_column("t", "qty2", "qty * 2", dtype="int")
    out = eng.sql("ALTER TABLE t RENAME COLUMN qty2 TO qty_doubled").collect()[0]
    assert out["n_files"] >= 1
    assert "qty_doubled" in spark.table(qt).columns
    assert "qty2" not in spark.table(qt).columns
    assert eng.generated_columns("t") == {"qty_doubled": "qty * 2"}
    # the moved rule still enforces on later writes
    with pytest.raises(Exception, match="generated-column"):
        eng.update_rows("t", "k = 1", {"qty_doubled": "7"})


def test_rename_column_refusals(spark, eng):
    _seed(spark, eng)
    with pytest.raises(ValueError, match="already exists"):
        eng.rename_column("t", "qty", "name")
    eng.add_generated_column("t", "qty2", "qty * 2", dtype="int")
    with pytest.raises(ValueError, match="referenced by generated"):
        eng.rename_column("t", "qty", "quantity")


def test_restore_across_column_drop_recovers_schema(spark, eng):
    """RESTORE to a pre-DROP-COLUMN version brings back both the rows
    and the dropped column (the snapshot journal carries the old
    schema's files; write_curated overwrite recreates the catalog
    schema from them)."""
    qt = _seed(spark, eng)
    v_before = eng.snapshot_history("t")[-1]["version"]
    eng.drop_column("t", "qty")
    assert "qty" not in spark.table(qt).columns
    eng.restore_snapshot("t", v_before)
    restored = spark.table(qt)
    assert "qty" in restored.columns
    assert restored.count() == 20
    assert restored.filter("qty IS NULL").count() == 0


def _files_by_partition(eng, qtable):
    import glob
    import os
    from urllib.parse import urlparse

    loc = urlparse(eng._table_location(qtable)).path
    out: dict[str, dict[str, int]] = {}
    for p in glob.glob(loc + "/**/*.parquet", recursive=True):
        out.setdefault(os.path.basename(os.path.dirname(p)), {})[p] = os.stat(p).st_ino
    return out


def _three_partitions(spark, eng):
    """p=0 and p=1 in three small files each, p=2 in one."""
    rows = spark.createDataFrame([(k, f"n{k}", k % 3) for k in range(9)], "k int, v string, p int")
    eng.write_curated("t", rows.coalesce(1), mode="overwrite", partition_cols=["p"])
    for base in (10, 20):
        more = spark.createDataFrame([(base + p, "m", p) for p in (0, 1)], "k int, v string, p int")
        eng.write_curated("t", more.coalesce(1), mode="append", partition_cols=["p"])
    return eng.qualified("t")


def test_compact_rewrites_only_fragmented_partitions(spark, eng):
    """Compaction packs the partitions holding at least two small
    files into one file each; a partition with one file keeps it."""
    qt = _three_partitions(spark, eng)
    before = _files_by_partition(eng, qt)
    rows = sorted(map(tuple, spark.table(qt).collect()))
    assert eng.compact_table("t") == 3
    after = _files_by_partition(eng, qt)
    assert after["p=2"] == before["p=2"]
    for p in ("p=0", "p=1"):
        assert len(before[p]) == 3 and len(after[p]) == 1
        assert not set(after[p]) & set(before[p])
    assert sorted(map(tuple, spark.table(qt).collect())) == rows
    assert eng.snapshot_history("t")[-1]["operation"] == "compact"


def test_second_compaction_commits_nothing(spark, eng):
    """Compaction is idempotent: on a compacted table it journals no
    version, keeps every inode and returns the same file count."""
    qt = _three_partitions(spark, eng)
    n = eng.compact_table("t")
    files = _files_by_partition(eng, qt)
    history = eng.snapshot_history("t")
    assert eng.compact_table("t") == n
    assert _files_by_partition(eng, qt) == files
    assert eng.snapshot_history("t") == history


def test_cluster_by_rewrites_every_file(spark, eng):
    """``cluster_by`` asks for a layout change, so it rewrites every
    file, compact or not."""
    qt = _three_partitions(spark, eng)
    eng.compact_table("t")
    before = _files_by_partition(eng, qt)
    eng.compact_table("t", cluster_by=["k"])
    after = _files_by_partition(eng, qt)
    assert set(after) == set(before)
    for p in before:
        assert not set(after[p]) & set(before[p])


def test_compact_partitions_packs_only_selected_fragmented(spark, eng):
    """`compact_partitions` is the same bin-pack restricted to the
    partitions its predicate selects: a selected partition with one
    file keeps it, an unselected fragmented one stays fragmented."""
    qt = _three_partitions(spark, eng)
    before = _files_by_partition(eng, qt)
    assert eng.compact_partitions("t", "p IN (0, 2)") == 2
    after = _files_by_partition(eng, qt)
    assert len(after["p=0"]) == 1 and not set(after["p=0"]) & set(before["p=0"])
    assert after["p=1"] == before["p=1"] and after["p=2"] == before["p=2"]
    with pytest.raises(ValueError, match="data columns"):
        eng.compact_partitions("t", "k > 0")


@pytest.fixture()
def tiny_advisory(spark):
    """AQE's advisory shuffle partition size at 4 KB, far below every
    rewrite below: a write sized by AQE would split into many files."""
    from cbts_datalake_synnex_spark.engine import _conf_override

    with _conf_override(spark, "spark.sql.adaptive.advisoryPartitionSizeInBytes", "4096"):
        yield


def _four_wide_files(spark, eng):
    """Partition p=0 in four files of ~20 KB each (hex digests barely
    compress, so a file's size is about its rows'), p=1 in one. Returns
    the table and a target of 2.5 times the largest p=0 file."""
    import os

    def rows(lo, p=0):
        ids = spark.range(lo, lo + 300).withColumn("p", F.lit(p))
        return ids.select(F.col("id").alias("k"), F.sha2(F.col("id").cast("string"), 256).alias("v"), "p")

    eng.write_curated("w", rows(0).coalesce(1), mode="overwrite", partition_cols=["p"])
    for lo in (1000, 2000, 3000):
        eng.write_curated("w", rows(lo).coalesce(1), mode="append", partition_cols=["p"])
    eng.write_curated("w", rows(9000, p=1).coalesce(1), mode="append", partition_cols=["p"])
    qt = eng.qualified("w")
    sizes = [os.path.getsize(f) for f in _files_by_partition(eng, qt)["p=0"]]
    assert len(sizes) == 4 and min(sizes) > max(sizes) / 2
    return qt, int(2.5 * max(sizes))


def test_compaction_output_sized_by_disk_bytes(spark, eng, tiny_advisory):
    """Compaction sizes its output from the on-disk bytes it replaces,
    not from AQE's shuffle sizes: with the default target the four
    files become one even at a 4 KB advisory size; with a target of
    2.5 files they pack two by two. Either way a second compaction
    commits nothing and keeps every inode."""
    qt, target = _four_wide_files(spark, eng)
    rows = sorted(map(tuple, spark.table(qt).collect()))
    assert eng.compact_table("w", target_file_bytes=target) == 3
    packed = _files_by_partition(eng, qt)
    assert len(packed["p=0"]) == 2
    history = eng.snapshot_history("w")
    assert eng.compact_table("w", target_file_bytes=target) == 3
    assert _files_by_partition(eng, qt) == packed
    assert eng.snapshot_history("w") == history
    assert eng.compact_table("w") == 2
    once = _files_by_partition(eng, qt)
    history = eng.snapshot_history("w")
    assert eng.compact_table("w") == 2
    assert _files_by_partition(eng, qt) == once
    assert eng.snapshot_history("w") == history
    assert sorted(map(tuple, spark.table(qt).collect())) == rows


def test_dml_takes_neighbours_only_within_target(spark, eng, tiny_advisory, monkeypatch):
    """A DML rewrite takes small files of the partition it touches only
    while the partition's rewrite stays within the target: with room
    for one more file, it packs the matched file and one neighbour into
    one file and leaves the other two alone; a second DML on the packed
    file has no room left and rewrites that file only."""
    import cbts_datalake_synnex_spark.engine as engine_mod

    qt, target = _four_wide_files(spark, eng)
    monkeypatch.setattr(engine_mod, "_TARGET_FILE_BYTES", target)
    before = _files_by_partition(eng, qt)
    assert eng.update_rows("w", "k = 0", {"v": "'u0'"}) == 1
    after = _files_by_partition(eng, qt)
    kept = set(after["p=0"]) & set(before["p=0"])
    assert len(kept) == 2 and len(after["p=0"]) == 3
    assert after["p=1"] == before["p=1"]
    assert eng.delete_rows("w", "k = 0") == 1
    again = _files_by_partition(eng, qt)
    assert {f: again["p=0"].get(f) for f in kept} == {f: after["p=0"][f] for f in kept}
    assert len(again["p=0"]) == 3
    assert spark.table(qt).count() == 5 * 300 - 1
    assert spark.table(qt).filter("v = 'u0'").count() == 0


def test_vacuum_orphans_repairs_crash_artifacts(spark, eng, monkeypatch):
    """A file left in the table directory by a crashed rewrite is
    silently READ by the Hive parquet scan (extra rows); vacuum_orphans
    restores the directory to the last journaled manifest and sweeps
    stale scratch dirs."""
    import os
    from urllib.parse import urlparse

    qt = _seed(spark, eng)
    loc = urlparse(eng._table_location(qt)).path
    # simulate a crashed splice: an unjournaled extra parquet file
    alien = spark.createDataFrame(
        [(999, "alien", 1)], "k int, name string, qty int"
    )
    alien.coalesce(1).write.parquet(os.path.join(eng.zones.root, "_alien"))
    src = next(
        os.path.join(d, f)
        for d, _, fs in os.walk(os.path.join(eng.zones.root, "_alien"))
        for f in fs if f.endswith(".parquet")
    )
    os.replace(src, os.path.join(loc, "crash-leftover.parquet"))
    spark.catalog.refreshTable(qt)
    assert spark.table(qt).count() == 21  # the corruption mode
    # plus a stale scratch dir from a crashed DML
    os.makedirs(os.path.join(eng.zones.root, "_scratch", "t_deadbeef"), exist_ok=True)
    open(os.path.join(eng.zones.root, "_scratch", "t_deadbeef", "part-0.parquet"), "w").write("x")

    assert eng.vacuum_orphans("t", dry_run=True) == 2
    assert spark.table(qt).count() == 21  # dry run touches nothing
    assert eng.vacuum_orphans("t") == 2
    assert spark.table(qt).count() == 20
    assert not os.path.exists(os.path.join(eng.zones.root, "_scratch", "t_deadbeef"))
    # time travel unaffected (retention links live elsewhere)
    assert eng.read_snapshot("t", 1).count() == 20

    # a restore cut short after staging leaves its scratch copy behind
    _arm_crash(monkeypatch, "replace", 1)
    with pytest.raises(_Crash):
        eng.restore_snapshot("t", 1)
    monkeypatch.undo()
    leftovers = eng._scratch_leftovers("t_")
    assert leftovers
    n_staged = sum(len(fs) for d in leftovers for _, _, fs in os.walk(d))
    assert eng.vacuum_orphans("t") == n_staged
    assert not any(os.path.exists(d) for d in leftovers)
    assert spark.table(qt).count() == 20

    # an ORC table: an orphaned .orc part is removed like a parquet one
    orc = _orc_engine(spark, eng)
    qo = _seed(spark, orc, "o")
    loc = urlparse(orc._table_location(qo)).path
    parts = [f for f in os.listdir(loc) if f.endswith(".orc")]
    for f in parts:
        shutil.copy(os.path.join(loc, f), os.path.join(loc, f"crash-{f}"))
    spark.catalog.refreshTable(qo)
    assert spark.table(qo).count() == 40
    assert orc.vacuum_orphans("o") == len(parts)
    assert spark.table(qo).count() == 20


def _orc_engine(spark, eng):
    """An ORC-format engine over ``eng``'s lake root and database."""
    return LakeEngine(spark, eng.zones.root, database=eng.database, table_format="orc")


def test_delete_rows_on_orc_table(spark, eng):
    """DELETE on an ORC table reads the matched files as ORC and
    leaves ORC files behind."""
    import os
    from urllib.parse import urlparse

    orc = _orc_engine(spark, eng)
    qt = _seed(spark, orc)
    assert orc.delete_rows("t", "k < 5") == 5
    assert spark.table(qt).count() == 15
    loc = urlparse(orc._table_location(qt)).path
    assert all(f.endswith(".orc") for f in os.listdir(loc) if not f.startswith((".", "_")))


def test_dml_on_escaped_partition_value(spark, eng):
    """Hive escapes ':' in a partition directory (``p=a%3Ab``), and
    Spark names such a file percent-encoded once more; partition
    compaction, DELETE, UPDATE and MERGE find and rewrite it all the
    same."""
    import os

    schema = "k int, v string, p string"
    rows = [(k, f"v{k}", "a:b" if k % 2 else "c") for k in range(6)]
    eng.write_curated("e", spark.createDataFrame(rows[:3], schema), mode="overwrite", partition_cols=["p"])
    eng.write_curated("e", spark.createDataFrame(rows[3:], schema), mode="append", partition_cols=["p"])
    qt = eng.qualified("e")
    assert eng.compact_partitions("e", "p = 'a:b'") == 1
    assert eng.snapshot_history("e")[-1]["operation"] == "compact"
    assert eng.delete_rows("e", "k = 1") == 1
    assert eng.update_rows("e", "k = 3", {"v": "'u3'"}) == 1
    src = spark.createDataFrame([(5, "m5", "a:b"), (7, "n7", "a:b")], schema)
    assert eng.merge_rows("e", src, ["k"]) == {"updated": 1, "deleted": 0, "inserted": 1}
    assert sorted(tuple(r) for r in spark.table(qt).collect()) == [
        (0, "v0", "c"), (2, "v2", "c"), (3, "u3", "a:b"), (4, "v4", "c"), (5, "m5", "a:b"), (7, "n7", "a:b")
    ]
    live = [f.removeprefix("file://") for f in eng.snapshot_history("e")[-1]["files"]]
    assert all(os.path.exists(f) for f in live)
    assert any("p=a%3Ab" in f for f in live)


def test_incremental_ledgers_on_escaped_partition_value(spark, eng):
    """An incremental view and the column-stats fold keep the source's
    files in their ledgers as the raw paths on disk, so an append
    under ``p=a%3Ab`` folds in instead of failing to load."""
    schema = "k int, v int, p string"
    eng.write_curated(
        "e", spark.createDataFrame([(0, 1, "a:b"), (1, 2, "c")], schema),
        mode="overwrite", partition_cols=["p"],
    )
    eng.create_incremental_view("e_mv", "e", ["p"], [("sum", "v", "total"), ("count", "*", "n")])
    assert eng.fold_join_column_stats("e", "k", depth=2, width=32) == "full"
    eng.write_curated(
        "e", spark.createDataFrame([(2, 10, "a:b"), (3, 20, "c")], schema),
        mode="append", partition_cols=["p"],
    )
    assert eng.refresh_materialized_view("e_mv") == "incremental"
    assert eng.fold_join_column_stats("e", "k", depth=2, width=32) == "incremental"
    mv = spark.table(eng.qualified("e_mv")).collect()
    assert {r["p"]: (r["total"], r["n"]) for r in mv} == {"a:b": (11, 2), "c": (22, 2)}
    mass = spark.table(eng.qualified("e_cms_k")).groupBy("d").sum("cnt").collect()
    assert [r["sum(cnt)"] for r in mass] == [4, 4]


# ------------------------------------------------------- crash-ordered commit
class _Crash(RuntimeError):
    pass


def _arm_crash(monkeypatch, step: str, nth: int) -> None:
    """Make the engine's ``nth`` call of ``os.<step>`` raise, as if the
    process died there. Two steps name a commit step instead:
    ``"journal"`` is the snapshot-journal append, and ``"remove"`` the
    removal of a replaced file from the table, which retires it with
    ``os.rename``."""
    import os
    import types

    import cbts_datalake_synnex_spark.engine as engine_mod

    if step == "journal":
        real_append = engine_mod._append_jsonl

        def append(path, entry):
            if "_snapshot_log" in path:
                raise _Crash("journal append")
            real_append(path, entry)

        monkeypatch.setattr(engine_mod, "_append_jsonl", append)
        return
    name = "rename" if step == "remove" else step
    calls = []

    def fault(*args, **kwargs):
        calls.append(args)
        if len(calls) == nth:
            raise _Crash(f"os.{name} #{nth}")
        return getattr(os, name)(*args, **kwargs)

    monkeypatch.setattr(engine_mod, "os", types.SimpleNamespace(**{**vars(os), name: fault}))


def _rows(df):
    return sorted(tuple(r) for r in df.select("k", "v", "p").collect())


def _merge_op(spark, eng):
    src = spark.createDataFrame(
        [(0, "u0", 0), (1, "u1", 1), (100, "new", 0)], "k int, v string, p int"
    )
    eng.merge_rows("t", src, ["k"])


def _compact_op(spark, eng):
    eng.compact_table("t")


def _delete_op(spark, eng):
    eng.delete_rows("t", "k IN (0, 1)")


def _append_op(spark, eng):
    src = spark.createDataFrame([(100, "new", 0), (101, "new", 1)], "k int, v string, p int")
    eng.write_curated("t", src, mode="append", partition_cols=["p"])


def _overwrite_op(spark, eng):
    src = spark.createDataFrame([(k, f"o{k}", k % 2) for k in (0, 1, 5)], "k int, v string, p int")
    eng.write_curated("t", src, mode="overwrite", partition_cols=["p"])


# op -> (run, rows it leaves, given the old rows)
_OPS = {
    "merge_rows": (
        _merge_op,
        lambda old: sorted(
            {**{r[0]: r for r in old}, 0: (0, "u0", 0), 1: (1, "u1", 1), 100: (100, "new", 0)}.values()
        ),
    ),
    "compact_table": (_compact_op, lambda old: old),
    "delete_rows": (_delete_op, lambda old: [r for r in old if r[0] not in (0, 1)]),
    "append": (_append_op, lambda old: sorted(old + [(100, "new", 0), (101, "new", 1)])),
    "overwrite": (_overwrite_op, lambda old: [(0, "o0", 0), (1, "o1", 1), (5, "o5", 1)]),
}

# (step, nth call, version the crash must leave): moves and the journal
# append come before the commit point, retiring the replaced files
# after it. An append removes no file, so it has no removal step.
_CRASH_POINTS = [
    ("replace", 1, "old"),
    ("replace", 2, "old"),
    ("journal", 1, "old"),
    ("remove", 1, "new"),
    ("remove", 2, "new"),
]


@pytest.mark.parametrize(
    "op,step,nth,lands",
    [(op, *point) for op in _OPS for point in _CRASH_POINTS if (op, point[0]) != ("append", "remove")],
)
def test_commit_crash_leaves_old_or_new_version(spark, eng, monkeypatch, op, step, nth, lands):
    """A crash at any file step of `_commit` leaves `read_snapshot` on
    the old or the new version, row for row; `vacuum_orphans` then
    brings the live table to that same version, the version before the
    operation stays readable, and the operation can simply be run
    again."""
    df = spark.createDataFrame(
        [(i, f"n{i}", i % 2) for i in range(20)], "k int, v string, p int"
    )
    eng.write_curated("t", df.filter("k < 10"), mode="overwrite", partition_cols=["p"])
    eng.write_curated("t", df.filter("k >= 10"), mode="append", partition_cols=["p"])
    qt = eng.qualified("t")
    old = _rows(spark.table(qt))
    v_old = eng.snapshot_history("t")[-1]["version"]
    run, result = _OPS[op]
    new = result(old)
    expected = old if lands == "old" else new

    _arm_crash(monkeypatch, step, nth)
    with pytest.raises(_Crash):
        run(spark, eng)
    monkeypatch.undo()

    assert _rows(eng.read_snapshot("t")) == expected
    eng.vacuum_orphans("t")
    assert _rows(spark.table(qt)) == expected
    assert not eng._scratch_leftovers("t_")
    assert _rows(eng.read_snapshot("t", v_old)) == old

    run(spark, eng)
    assert _rows(spark.table(qt)) == new
    assert _rows(eng.read_snapshot("t")) == new


def test_commit_refuses_non_local_location(spark, eng, monkeypatch):
    """A table whose location is not on the local filesystem fails
    loudly, before anything is staged — never a silent no-op that
    orphans a staged copy."""
    qt = _seed(spark, eng)
    monkeypatch.setattr(eng, "_table_layout", lambda _qt: ("s3a://lake/guard/t", []))
    with pytest.raises(ValueError, match="s3a://lake/guard/t"):
        eng.compact_table("t")
    assert not eng._scratch_leftovers()
    monkeypatch.undo()
    assert spark.table(qt).count() == 20


def test_write_audit_publish_keeps_layout_and_constraints(spark, eng):
    """Publishing a write-audit-publish batch replaces the live rows but
    keeps the table's partition columns and CHECK constraint; a batch
    that passes the audit yet violates the constraint is rejected with
    the live table untouched and the staged copy kept."""
    schema = "k int, v int, processed_year string"
    eng.write_curated(
        "w",
        spark.createDataFrame([(1, 1, "2024"), (2, 2, "2025")], schema),
        mode="overwrite",
        partition_cols=["processed_year"],
    )
    eng.add_check_constraint("w", "v_pos", "v > 0")
    qt, staged = eng.qualified("w"), eng.qualified("w__wap")
    rules = {"k_present": "k IS NOT NULL"}

    batch = spark.createDataFrame([(3, 3, "2024"), (4, 4, "2026")], schema)
    assert eng.write_audit_publish("w", batch, rules)["published"]
    assert not spark.catalog.tableExists(staged)
    assert eng._table_layout(qt)[1] == ["processed_year"]
    assert eng.table_constraints("w") == {"v_pos": "v > 0"}
    assert sorted(tuple(r) for r in spark.table(qt).collect()) == [(3, 3, "2024"), (4, 4, "2026")]

    files = sorted(spark.table(qt).inputFiles())
    versions = len(eng.snapshot_history("w"))
    with pytest.raises(ConstraintViolation, match="v_pos"):
        eng.write_audit_publish("w", spark.createDataFrame([(5, -5, "2024")], schema), rules)
    assert sorted(spark.table(qt).inputFiles()) == files
    assert len(eng.snapshot_history("w")) == versions
    assert spark.catalog.tableExists(staged)

    # an ordinary append still fits the table's layout
    eng.write_curated("w", spark.createDataFrame([(6, 6, "2024")], schema), mode="append")
    assert spark.table(qt).filter("processed_year = '2024'").count() == 2


@pytest.mark.parametrize("op", ["update_rows", "merge_rows"])
def test_checked_rewrite_evaluates_set_expression_once(spark, eng, op):
    """With a CHECK constraint the rows a rewrite validates are the rows
    it writes: a non-deterministic SET expression runs once per row of
    the rewritten file (3), not once for the check and again for the
    write (6)."""
    from pyspark.sql.types import IntegerType

    calls = spark.sparkContext.accumulator(0)

    def bump(v):
        calls.add(1)
        return v + 100

    bumped = F.udf(bump, IntegerType()).asNondeterministic()
    rows = [(1, 1), (2, 2), (3, 3)]
    eng.write_curated(
        "t", spark.createDataFrame(rows, "k int, v int").coalesce(1), mode="overwrite", partition_cols=[]
    )
    eng.add_check_constraint("t", "v_pos", "v > 0")
    if op == "update_rows":
        assert eng.update_rows("t", "k <= 3", {"v": bumped(F.col("v"))}) == 3
    else:
        src = spark.createDataFrame(rows, "k int, v int")
        res = eng.merge_rows("t", src, ["k"], when_matched_update={"v": bumped(F.col("s.v"))})
        assert res["updated"] == 3
    assert calls.value == 3
    assert sorted(r["v"] for r in spark.table(eng.qualified("t")).collect()) == [101, 102, 103]
