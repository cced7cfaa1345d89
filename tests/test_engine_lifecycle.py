"""Golden tests for the LakeEngine lifecycle (SURVEY §5.2-2): ingest →
staging → curate, schema evolution, zone truncate, views."""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pytest

from cbts_datalake_synnex_spark.engine import LakeEngine

CLOCK = lambda: datetime(2024, 5, 17, 12, 0, 0, tzinfo=timezone.utc)  # noqa: E731


@pytest.fixture()
def engine(spark, tmp_path):
    db = f"t_{abs(hash(str(tmp_path))) % 10**9}"
    eng = LakeEngine(spark, str(tmp_path / "lake"), database=db, clock=CLOCK)
    yield eng
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


RECORDS = [
    {"po_number": "PO1", "status": {"code": "OK", "detail": {"msg": "shipped"}}, "qty": 3},
    {"po_number": "PO2", "status": {"code": "HOLD", "detail": {"msg": None}}, "qty": 5},
]


def test_ingest_records_end_to_end(engine):
    out = engine.ingest_records("po_status", RECORDS)
    rows = {r["po_number"]: r.asDict() for r in out.collect()}
    assert set(rows) == {"PO1", "PO2"}
    # P4 flatten + P5 stringify + P3 audit columns
    assert rows["PO1"]["status_detail_msg"] == "shipped"
    assert rows["PO1"]["qty"] == "3"
    assert rows["PO2"]["status_detail_msg"] == ""  # null → ''
    assert rows["PO1"]["processed_year"] == "2024"
    assert rows["PO1"]["processed_month"] == "05"
    assert rows["PO1"]["processed_at"] == "2024-05-17 08:00:00"  # US/Eastern of noon UTC
    # K1: Hive-partitioned on the audit keys
    files = out.inputFiles()
    assert all("processed_year=2024" in f and "processed_month=05" in f for f in files)


def test_staging_to_curated_roundtrip(engine):
    engine.save_to_staging("po_status", RECORDS)
    n = engine.curate("po_status")
    assert n == 2
    df = engine.sql("SELECT po_number, status_code FROM po_status ORDER BY po_number")
    assert [tuple(r) for r in df.collect()] == [("PO1", "OK"), ("PO2", "HOLD")]
    # incremental twin received the same append (utils.py:153)
    assert os.path.exists(engine.zones.staging("po_status_incremental"))


def test_curate_empty_staging_short_circuits(engine):
    assert engine.curate("missing_table") == 0


def test_prepare_staging_truncates(engine):
    engine.save_to_staging("po_status", RECORDS)
    assert os.path.exists(engine.zones.staging("po_status"))
    engine.prepare_staging("po_status")
    assert not os.path.exists(engine.zones.staging("po_status"))
    assert not os.path.exists(engine.zones.staging("po_status_incremental"))


def test_schema_evolution_append_new_column(engine):
    engine.ingest_records("evolving", [{"a": 1, "b": "x"}], mode="overwrite")
    engine.ingest_records("evolving", [{"a": 2, "b": "y", "c": "new"}], mode="append")
    df = engine.spark.table(engine.qualified("evolving"))
    assert "c" in df.columns  # K8 add-column
    rows = {r["a"]: r for r in df.collect()}
    assert rows["2"]["c"] == "new"
    assert rows["1"]["c"] is None  # old rows null-filled


def test_views_and_sql(engine):
    engine.ingest_records("po_status", RECORDS)
    engine.create_view("v_po_numbers", "SELECT DISTINCT po_number FROM po_status")
    got = {r[0] for r in engine.sql("SELECT po_number FROM v_po_numbers").collect()}
    assert got == {"PO1", "PO2"}
    # P2 — the intent of the reference's malformed lookup (SURVEY §0.1-1)
    one = engine.sql("SELECT po_number FROM v_po_numbers WHERE po_number = 'PO1'")
    assert [r[0] for r in one.collect()] == ["PO1"]


def test_ingest_from_api_end_to_end(engine):
    from tests.test_api_source import _fake_transport

    out = engine.ingest_from_api("po_status", ["PO1", "PO2"], _fake_transport)
    rows = out.collect()
    # 2 POs × 2 status lines from the fake endpoint
    assert len(rows) == 4
    assert {r["po_number"] for r in rows} == {"PO1", "PO2"}
    assert {r["status"] for r in rows} == {"accepted", "shipped"}
    # raw archive landed too (K4)
    raw = engine.zones.raw("po_status", "2024", "05")
    assert os.path.exists(raw)


def test_table_format_falls_back_to_parquet(engine):
    # parquet is the default format and the whole lifecycle runs on it
    # (the suite itself proves the latter); nothing on the session
    # switches it.
    assert engine.table_format == "parquet"


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_table_format_refuses_a_format_the_commit_cannot_serve(spark, tmp_path, fmt):
    # `_commit` moves plain files and journals them in the engine's own
    # snapshot log: a Delta table's log would never see them. The
    # engine refuses before it touches the catalog.
    db = f"t_fmt_{abs(hash(str(tmp_path))) % 10**9}"
    with pytest.raises(ValueError, match="table_format"):
        LakeEngine(spark, str(tmp_path / "lake"), database=db, table_format=fmt)
    assert not spark.catalog.databaseExists(db)


def test_compact_table_bin_packs_files(engine):
    # 6 single-row appends → 6 files in one partition; compaction
    # should rewrite to 1 (all rows << target size)
    engine.ingest_records("frag", [{"k": 0, "v": "x"}], mode="overwrite")
    for i in range(1, 6):
        engine.ingest_records("frag", [{"k": i, "v": "x"}], mode="append")
    before = len(engine.spark.table(engine.qualified("frag")).inputFiles())
    assert before >= 6
    after = engine.compact_table("frag")
    assert after < before
    df = engine.spark.table(engine.qualified("frag"))
    assert df.count() == 6  # no rows lost
    assert {r["k"] for r in df.collect()} == {str(i) for i in range(6)}


def test_recover_partitions_external_table(engine, tmp_path):
    # K9: externally-written Hive partitions invisible until MSCK
    spark = engine.spark
    path = str(tmp_path / "ext")
    spark.createDataFrame([(1, "a"), (2, "b")], "id int, p string").write.partitionBy(
        "p"
    ).parquet(path)
    engine.sql(
        f"CREATE TABLE ext_tbl (id int) USING parquet PARTITIONED BY (p string) LOCATION '{path}'"
    )
    assert engine.sql("SELECT count(*) AS n FROM ext_tbl").collect()[0]["n"] == 0
    engine.recover_partitions("ext_tbl")
    assert engine.sql("SELECT count(*) AS n FROM ext_tbl").collect()[0]["n"] == 2


def test_raw_archive_written_gzipped(engine):
    path = engine.save_to_raw("po_status", RECORDS)
    found = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".json.gz")
    ]
    assert found, "raw zone must contain gzipped JSON parts (K4, utils.py:215)"
    assert "year=2024" in path and "month=05" in path


# ----------------------------------------------------------------------
# merge_upsert — key-based upsert (Delta MERGE / parquet partition-scoped
# rewrite). Three contracts: update-in-place, insert-new, and — the
# 100 TB one — partitions untouched by the batch are NOT rewritten.
def _mk_po(spark, rows):
    return spark.createDataFrame(
        rows, "po_number string, status string, qty bigint, processed_year string, processed_month string"
    )


def test_merge_upsert_updates_and_inserts(engine, spark):
    base = _mk_po(
        spark,
        [
            ("PO1", "OPEN", 1, "2024", "04"),
            ("PO2", "OPEN", 2, "2024", "05"),
        ],
    )
    engine.merge_upsert("po_m", base, keys=["po_number"])
    batch = _mk_po(
        spark,
        [
            ("PO2", "SHIPPED", 2, "2024", "05"),  # update
            ("PO3", "OPEN", 7, "2024", "05"),     # insert
        ],
    )
    engine.merge_upsert("po_m", batch, keys=["po_number"])
    rows = {r["po_number"]: r.asDict() for r in spark.table(engine.qualified("po_m")).collect()}
    assert set(rows) == {"PO1", "PO2", "PO3"}
    assert rows["PO1"]["status"] == "OPEN"       # untouched row survives
    assert rows["PO2"]["status"] == "SHIPPED"    # updated in place
    assert rows["PO3"]["qty"] == 7               # inserted


def test_merge_upsert_leaves_untouched_partitions_alone(engine, spark):
    base = _mk_po(
        spark,
        [
            ("PO1", "OPEN", 1, "2024", "04"),
            ("PO2", "OPEN", 2, "2024", "05"),
        ],
    )
    engine.merge_upsert("po_p", base, keys=["po_number"])
    before = {
        f: os.path.getmtime(f)
        for f in (
            p.replace("file:", "")
            for p in spark.table(engine.qualified("po_p")).inputFiles()
        )
        if "processed_month=04" in f
    }
    assert before, "expected files in the 2024/04 partition"
    batch = _mk_po(spark, [("PO2", "SHIPPED", 2, "2024", "05")])
    engine.merge_upsert("po_p", batch, keys=["po_number"])
    after = {
        f: os.path.getmtime(f)
        for f in (
            p.replace("file:", "")
            for p in spark.table(engine.qualified("po_p")).inputFiles()
        )
        if "processed_month=04" in f
    }
    # dynamic partition overwrite must not touch the 04 partition's files
    assert after == before
    rows = {r["po_number"]: r["status"] for r in spark.table(engine.qualified("po_p")).collect()}
    assert rows == {"PO1": "OPEN", "PO2": "SHIPPED"}


def test_merge_upsert_evolves_schema_on_new_column(engine, spark):
    base = _mk_po(spark, [("PO1", "OPEN", 1, "2024", "04")])
    engine.merge_upsert("po_e", base, keys=["po_number"])
    batch = spark.createDataFrame(
        [("PO2", "OPEN", 2, "2024", "04", "carrier-x")],
        "po_number string, status string, qty bigint, processed_year string, processed_month string, carrier string",
    )
    engine.merge_upsert("po_e", batch, keys=["po_number"])
    rows = {r["po_number"]: r.asDict() for r in spark.table(engine.qualified("po_e")).collect()}
    assert rows["PO2"]["carrier"] == "carrier-x"
    assert rows["PO1"]["carrier"] is None  # old rows null-filled


def test_bucketed_join_has_no_exchange(engine, spark, sf_dir):
    """Co-located join: both sides bucketed on the join key ⇒ the join
    plans with ZERO exchanges (each task reads matching buckets). The
    shuffle-elimination primitive for repeated fact-fact joins."""
    import re

    from cbts_datalake_synnex_spark.engine import write_bucketed
    from cbts_datalake_synnex_spark.plans.inspect import explain_str
    from cbts_datalake_synnex_spark.workload.base import load_table

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    db = engine.database
    write_bucketed(spark, o, f"{db}.orders_b", ["o_orderkey"], n_buckets=8)
    write_bucketed(spark, li, f"{db}.lineitem_b", ["l_orderkey"], n_buckets=8)
    ob, lb = spark.table(f"{db}.orders_b"), spark.table(f"{db}.lineitem_b")
    joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        txt = explain_str(joined, "simple")
        assert not re.findall(r"Exchange hashpartitioning", txt), txt
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_curate_skips_malformed_staging_lines(engine, spark, tmp_path):
    """A poisoned line in staging must be skipped (DynamicFrame
    semantics), not landed as an all-null curated row."""
    import gzip

    engine.save_to_staging("poisoned", [{"po_number": "PO1", "qty": 1}], incremental=False)
    bad_dir = os.path.join(engine.zones.staging("poisoned"), "bad")
    os.makedirs(bad_dir, exist_ok=True)
    with gzip.open(os.path.join(bad_dir, "junk.json.gz"), "wt") as f:
        f.write('{"po_number": "PO2", "qty": \n')  # truncated JSON
        f.write("not json at all\n")
    n = engine.curate("poisoned")
    rows = spark.table(engine.qualified("poisoned")).collect()
    assert n == len(rows)
    pos = {r["po_number"] for r in rows}
    assert "PO1" in pos and "PO2" not in pos
    assert None not in pos  # no all-null ghost rows


def test_analyze_table_records_statistics(engine, spark):
    engine.ingest_records("po_stats", RECORDS)
    stats = engine.analyze_table("po_stats", columns=["po_number"])
    assert "Statistics" in stats and "bytes" in stats["Statistics"]
    # column-level stats visible to the optimizer
    desc = spark.sql(
        f"DESCRIBE TABLE EXTENDED {engine.qualified('po_stats')} po_number"
    ).collect()
    info = {r["info_name"]: r["info_value"] for r in desc}
    assert info.get("distinct_count") == "2"


def test_schema_history_versions_on_change_only(engine, spark):
    engine.ingest_records("po_v", [{"po_number": "PO1", "qty": 1}])
    engine.ingest_records("po_v", [{"po_number": "PO2", "qty": 2}], mode="append")
    h = engine.schema_history("po_v")
    assert len(h) == 1  # same schema appended → no new version
    engine.ingest_records(
        "po_v", [{"po_number": "PO3", "qty": 3, "carrier": "x"}], mode="append"
    )
    h = engine.schema_history("po_v")
    assert len(h) == 2 and h[-1]["version"] == 2
    new_cols = {f["name"] for f in h[-1]["schema"]["fields"]}
    assert "carrier" in new_cols
    old_cols = {f["name"] for f in h[0]["schema"]["fields"]}
    assert "carrier" not in old_cols
    assert h[0]["at"] == "2024-05-17 12:00:00"  # injectable clock


def test_materialized_view_refresh(engine, spark):
    engine.ingest_records("po_src", [{"po_number": "PO1", "qty": 2}])
    engine.create_materialized_view(
        "mv_qty",
        f"SELECT po_number, sum(cast(qty AS bigint)) AS total_qty "
        f"FROM {engine.qualified('po_src')} GROUP BY po_number",
    )
    assert {r["po_number"]: r["total_qty"] for r in spark.table(engine.qualified("mv_qty")).collect()} == {"PO1": 2}
    engine.ingest_records("po_src", [{"po_number": "PO1", "qty": 5}], mode="append")
    # stale until refreshed (materialized, not a live view)
    assert spark.table(engine.qualified("mv_qty")).collect()[0]["total_qty"] == 2
    engine.refresh_materialized_view("mv_qty")
    assert spark.table(engine.qualified("mv_qty")).collect()[0]["total_qty"] == 7


def _iv_rows(spark, engine, name):
    df = spark.table(engine.qualified(name))
    cols = [c for c in df.columns if not c.startswith("__") and not c.startswith("processed_")]
    return {
        r["k"]: tuple(r[c] for c in cols if c != "k")
        for r in df.select(*cols).collect()
    }


def test_incremental_view_merges_only_new_files(engine, spark):
    """Incremental MV: append → refresh merges the delta files into the
    stored state and matches a from-scratch recompute for every
    algebraic aggregate (sum/count/min/max/avg)."""
    rows1 = [("a", 1.0), ("a", 3.0), ("b", 10.0)]
    df1 = spark.createDataFrame(rows1, "k string, v double")
    engine.write_curated("iv_src", df1, mode="overwrite", partition_cols=[])
    engine.create_incremental_view(
        "iv_agg",
        "iv_src",
        ["k"],
        [
            ("sum", "v", "v_sum"),
            ("count", "*", "n"),
            ("min", "v", "v_min"),
            ("max", "v", "v_max"),
            ("avg", "v", "v_avg"),
        ],
    )
    assert _iv_rows(spark, engine, "iv_agg") == {
        "a": (4.0, 2, 1.0, 3.0, 2.0),
        "b": (10.0, 1, 10.0, 10.0, 10.0),
    }
    # append new files: existing group 'a' and a brand-new group 'c'
    df2 = spark.createDataFrame([("a", 5.0), ("c", 7.0)], "k string, v double")
    engine.write_curated("iv_src", df2, mode="append", partition_cols=[])
    how = engine.refresh_materialized_view("iv_agg")
    assert how == "incremental"
    assert _iv_rows(spark, engine, "iv_agg") == {
        "a": (9.0, 3, 1.0, 5.0, 3.0),
        "b": (10.0, 1, 10.0, 10.0, 10.0),
        "c": (7.0, 1, 7.0, 7.0, 7.0),
    }
    # no new files → refresh is a no-op
    assert engine.refresh_materialized_view("iv_agg") == "noop"
    # source overwritten → stored state is unmergeable → full recompute
    df3 = spark.createDataFrame([("z", 2.0)], "k string, v double")
    engine.write_curated("iv_src", df3, mode="overwrite", partition_cols=[])
    assert engine.refresh_materialized_view("iv_agg") == "full"
    assert _iv_rows(spark, engine, "iv_agg") == {"z": (2.0, 1, 2.0, 2.0, 2.0)}


def test_incremental_view_rejects_non_algebraic(engine, spark):
    df = spark.createDataFrame([("a", 1.0)], "k string, v double")
    engine.write_curated("iv_src2", df, mode="overwrite", partition_cols=[])
    with pytest.raises(ValueError, match="non-algebraic"):
        engine.create_incremental_view(
            "iv_bad", "iv_src2", ["k"], [("median", "v", "v_med")]
        )


def test_incremental_view_partitioned_source(engine, spark):
    """Partition columns must survive the file-level delta read
    (basePath recovery) — group by a hive partition column."""
    df1 = spark.createDataFrame(
        [("2024", 1.0), ("2024", 2.0), ("2025", 5.0)], "yr string, v double"
    )
    engine.write_curated("iv_part", df1, mode="overwrite", partition_cols=["yr"])
    engine.create_incremental_view(
        "iv_part_agg", "iv_part", ["yr"], [("sum", "v", "v_sum")]
    )
    df2 = spark.createDataFrame([("2025", 10.0)], "yr string, v double")
    engine.write_curated("iv_part", df2, mode="append", partition_cols=["yr"])
    assert engine.refresh_materialized_view("iv_part_agg") == "incremental"
    got = {
        r["yr"]: r["v_sum"]
        for r in spark.table(engine.qualified("iv_part_agg")).collect()
    }
    assert got == {"2024": 3.0, "2025": 15.0}


def test_compact_cluster_by_narrows_file_bands(engine, spark):
    """cluster_by compaction must leave each file covering a narrow
    min/max band of the cluster key, so parquet stats can skip files
    on selective filters."""
    import pyarrow.parquet as pq

    import hashlib
    import random

    # zero-padded so the ingest-stringified key sorts like the number;
    # incompressible payload so the size-based file split actually splits
    rows = [
        {"k": "%05d" % k, "payload": hashlib.sha256(str(k).encode()).hexdigest() * 4}
        for k in range(2000)
    ]
    random.Random(7).shuffle(rows)
    engine.ingest_records("clustered", rows, partition_cols=[])
    # small target → several output files
    n = engine.compact_table("clustered", target_file_bytes=48 * 1024, cluster_by=["k"])
    assert n >= 3
    files = [
        p.replace("file:", "") for p in spark.table(engine.qualified("clustered")).inputFiles()
    ]
    widths = []
    for f in files:
        md = pq.read_metadata(f)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "k"
            )
            mins.append(int(col.statistics.min))
            maxs.append(int(col.statistics.max))
        widths.append(max(maxs) - min(mins))
    # unclustered files would each span ~the full 0..1999 range;
    # clustered files must cover narrow disjoint bands
    assert sum(widths) < 2000 * 1.25, widths


def test_merge_upsert_idempotent(engine, spark):
    """Re-applying the same batch must be a no-op (resume-safe)."""
    base = _mk_po(spark, [("PO1", "OPEN", 1, "2024", "04")])
    engine.merge_upsert("po_idem", base, keys=["po_number"])
    batch = _mk_po(spark, [("PO1", "SHIPPED", 2, "2024", "04"), ("PO2", "OPEN", 3, "2024", "05")])
    engine.merge_upsert("po_idem", batch, keys=["po_number"])
    first = sorted(
        (r.asDict() for r in spark.table(engine.qualified("po_idem")).collect()),
        key=lambda d: d["po_number"],
    )
    engine.merge_upsert("po_idem", batch, keys=["po_number"])
    second = sorted(
        (r.asDict() for r in spark.table(engine.qualified("po_idem")).collect()),
        key=lambda d: d["po_number"],
    )
    assert first == second
    assert len(first) == 2


def test_vacuum_scratch_removes_orphans(engine):
    orphan = os.path.join(engine.zones.root, "_scratch", "crashed_attempt")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-0.parquet"), "w") as f:
        f.write("junk")
    assert engine.vacuum_scratch() == 1
    assert not os.path.exists(orphan)


def test_analyzed_stats_reach_the_optimizer(engine, spark):
    """ANALYZE output must actually flow into plan statistics (the CBO
    is enabled in the engine session) — otherwise analyze_table is
    decoration."""
    engine.ingest_records("po_cbo", [{"po_number": f"PO{i}", "qty": i} for i in range(50)])
    engine.analyze_table("po_cbo", columns=["po_number"])
    plan_stats = (
        spark.table(engine.qualified("po_cbo"))
        ._jdf.queryExecution()
        .optimizedPlan()
        .stats()
    )
    # rowCount only exists when column/table stats were recorded + read
    assert plan_stats.rowCount().isDefined()
    assert plan_stats.rowCount().get() == 50


def test_merge_upsert_unpartitioned_table_with_audit_columns(engine, spark):
    """Regression guard: a table that HAS processed_year/month as data
    columns but is NOT partitioned by them must take the full-rewrite
    path — dynamic partition overwrite here would silently drop every
    row outside the batch's slice."""
    base = _mk_po(spark, [("PO1", "OPEN", 1, "2024", "04"), ("PO2", "OPEN", 2, "2024", "05")])
    engine.write_curated("po_flat", base, mode="overwrite", partition_cols=[])
    batch = _mk_po(spark, [("PO2", "SHIPPED", 2, "2024", "05")])
    engine.merge_upsert("po_flat", batch, keys=["po_number"])
    rows = {r["po_number"]: r["status"] for r in spark.table(engine.qualified("po_flat")).collect()}
    assert rows == {"PO1": "OPEN", "PO2": "SHIPPED"}  # PO1 must survive


def test_merge_upsert_key_moves_partition(engine, spark):
    """Regression: when a batch re-dates a key into a DIFFERENT
    partition, the stale row in the old partition must be removed —
    the rewrite set includes partitions where matched keys live, not
    just partitions the batch carries."""
    base = _mk_po(spark, [("PO1", "OPEN", 1, "2024", "04"), ("PO2", "OPEN", 2, "2024", "04")])
    engine.merge_upsert("po_move", base, keys=["po_number"])
    batch = _mk_po(spark, [("PO1", "SHIPPED", 1, "2024", "05")])  # moved 04 → 05
    engine.merge_upsert("po_move", batch, keys=["po_number"])
    rows = [r.asDict() for r in spark.table(engine.qualified("po_move")).collect()]
    by_key = {}
    for r in rows:
        by_key.setdefault(r["po_number"], []).append(r)
    assert len(by_key["PO1"]) == 1, f"stale duplicate: {by_key['PO1']}"
    assert by_key["PO1"][0]["processed_month"] == "05"
    assert by_key["PO1"][0]["status"] == "SHIPPED"
    assert len(by_key["PO2"]) == 1 and by_key["PO2"][0]["status"] == "OPEN"


def test_curate_quarantines_malformed_lines(engine, spark):
    """quarantine=True must land every unparseable staging line in the
    quarantine zone (replayable) while curating the parsed rows exactly
    as the default path would."""
    import glob
    import gzip

    engine.save_to_staging("qtable", [{"po_number": "PO1", "qty": 1}], incremental=False)
    bad_dir = os.path.join(engine.zones.staging("qtable"), "bad")
    os.makedirs(bad_dir, exist_ok=True)
    with gzip.open(os.path.join(bad_dir, "junk.json.gz"), "wt") as f:
        f.write('{"po_number": "PO2", "qty": \n')  # truncated JSON
        f.write("not json at all\n")
    n = engine.curate("qtable", quarantine=True)
    rows = spark.table(engine.qualified("qtable")).collect()
    assert n == len(rows)
    assert {r["po_number"] for r in rows} == {"PO1"}
    qfiles = glob.glob(os.path.join(engine.zones.quarantine("qtable"), "**", "*"), recursive=True)
    lines = []
    for p in qfiles:
        if os.path.isfile(p):
            with gzip.open(p, "rt") as f:
                lines.extend(ln.rstrip("\n") for ln in f)
    assert sorted(lines) == ["not json at all", '{"po_number": "PO2", "qty": ']


def test_curate_quarantine_clean_input_writes_nothing(engine, spark):
    """No corrupt lines → no quarantine directory, identical curate."""
    engine.save_to_staging("qclean", [{"po_number": "PO9", "qty": 5}], incremental=False)
    n = engine.curate("qclean", quarantine=True)
    assert n == 1
    assert not os.path.exists(engine.zones.quarantine("qclean"))


def test_latest_snapshot_ties_resolved_by_tiebreak(spark):
    from cbts_datalake_synnex_spark.operators.cdc import latest_snapshot

    log = spark.createDataFrame(
        [
            ("k1", 1, "a", 10),
            ("k1", 2, "b", 20),
            ("k1", 2, "c", 5),   # version tie → tiebreak col decides
            ("k2", 7, "x", 1),
        ],
        "k string, version int, payload string, seq int",
    )
    snap = {
        r["k"]: (r["version"], r["payload"])
        for r in latest_snapshot(log, ["k"], "version", tiebreak=["seq"]).collect()
    }
    assert snap == {"k1": (2, "b"), "k2": (7, "x")}


def test_table_diff_classifies_and_drops_unchanged(spark):
    from cbts_datalake_synnex_spark.operators.cdc import table_diff

    left = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", None), (4, "d", 4.0)],
        "id long, s string, v double",
    )
    right = spark.createDataFrame(
        [(1, "a", 1.0), (2, "B", 2.0), (3, "c", 3.0), (5, "e", 5.0)],
        "id long, s string, v double",
    )
    got = {(r["id"], r["change_type"]) for r in table_diff(left, right, ["id"]).collect()}
    # 1 unchanged (dropped), 2 changed (s), 3 changed (NULL → value), 4 deleted, 5 inserted
    assert got == {(2, "changed"), (3, "changed"), (4, "deleted"), (5, "inserted")}
    # compare_cols restriction: only v compared → row 2 becomes unchanged
    got_v = {
        (r["id"], r["change_type"])
        for r in table_diff(left, right, ["id"], compare_cols=["v"]).collect()
    }
    assert got_v == {(3, "changed"), (4, "deleted"), (5, "inserted")}


def test_orc_table_format_roundtrip(spark, tmp_path):
    """The sink format is pluggable (S7/K1 parity beyond parquet):
    `table_format="orc"` routes every curated write through Spark's
    built-in ORC source — same catalog registration, partitioning,
    evolution, and readback path as parquet."""
    db = f"t_orc_{abs(hash(str(tmp_path))) % 10**9}"
    eng = LakeEngine(spark, str(tmp_path / "lake"), database=db, clock=CLOCK, table_format="orc")
    try:
        eng.save_to_staging("po_status", RECORDS)
        assert eng.curate("po_status") == 2
        df = eng.sql("SELECT po_number, status_code FROM po_status ORDER BY po_number")
        assert [tuple(r) for r in df.collect()] == [("PO1", "OK"), ("PO2", "HOLD")]
        # the files on disk really are ORC
        files = spark.table(f"{db}.po_status").inputFiles()
        assert files and all(".orc" in f for f in files)
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_snapshot_time_travel_append_history(engine):
    """Every curated write journals a file-manifest snapshot; append-mode
    history stays readable at every version (the parquet stand-in for
    Delta time travel — SURVEY §8.1)."""
    engine.save_to_staging("po_status", RECORDS)
    engine.curate("po_status")
    engine.write_curated(
        "po_status",
        engine.ingest_records(
            "po_status_tmp",
            [{"po_number": "PO3", "status": {"code": "NEW", "detail": {"msg": "y"}}, "qty": 9}],
        ),
    )
    hist = engine.snapshot_history("po_status")
    assert [h["version"] for h in hist][-2:] == [len(hist) - 1, len(hist)]
    v_first, v_last = hist[0]["version"], hist[-1]["version"]
    assert v_first != v_last
    # version 1 = the 2-row curate; latest = 3 rows
    assert engine.read_snapshot("po_status", v_first).count() == 2
    assert engine.read_snapshot("po_status", v_last).count() == 3
    assert engine.read_snapshot("po_status").count() == 3  # default latest
    # unknown version is an explicit error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no snapshot version 99"):
        engine.read_snapshot("po_status", 99)


def test_snapshot_survives_compaction_until_vacuum(engine):
    """Hard-link retention: compaction rewrites the live files, but the
    pre-compaction snapshot stays readable (links pin the immutable
    parquet parts) until vacuum_snapshots reclaims it — then the error
    is explicit, never silent partial data."""
    # two batches: two small files in one partition, which compaction packs
    engine.save_to_staging("po_status", RECORDS[:1])
    engine.curate("po_status")
    engine.prepare_staging("po_status")
    engine.save_to_staging("po_status", RECORDS[1:])
    engine.curate("po_status")
    v1 = engine.snapshot_history("po_status")[-1]["version"]
    engine.compact_table("po_status")
    # both the new version and the pre-compaction version read fine
    assert engine.read_snapshot("po_status").count() == 2
    assert engine.read_snapshot("po_status", v1).count() == 2
    # partition columns survive the retention read (Hive dirs mirrored)
    assert "processed_year" in engine.read_snapshot("po_status", v1).columns
    # VACUUM with keep_last=1 reclaims v1; reading it now raises
    assert engine.vacuum_snapshots("po_status", keep_last=1) >= 1
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no longer materialized"):
        engine.read_snapshot("po_status", v1)


def test_curate_journals_observed_batch_metrics(engine):
    """Each curate batch's snapshot entry carries the rows its commit
    wrote (observed on the write action — no extra pass) and its
    operation; history answers 'did last night's batch shrink' without
    a metrics backend."""
    engine.save_to_staging("po_status", RECORDS)
    engine.curate("po_status")
    engine.prepare_staging("po_status")
    engine.save_to_staging("po_status", RECORDS[:1])
    engine.curate("po_status")
    hist = engine.snapshot_history("po_status")
    assert [h["rows_written"] for h in hist] == [2, 1]
    assert all(h["at"] == "2024-05-17 12:00:00" for h in hist)  # pinned clock
    assert all(h["operation"] == "append" for h in hist)


def test_one_log_per_table(engine, spark):
    """The snapshot log is the only per-table log: curate, DELETE,
    compaction and clone leave no schema or metrics log beside it."""
    engine.save_to_staging("po_status", RECORDS)
    engine.curate("po_status")
    engine.prepare_staging("po_status")
    engine.save_to_staging("po_status", RECORDS[:1])
    engine.curate("po_status")
    engine.delete_rows("po_status", "po_number = 'PO1'")
    # the DELETE left its partition in one file: fragment it again
    engine.prepare_staging("po_status")
    engine.save_to_staging("po_status", RECORDS[:1])
    engine.curate("po_status")
    engine.compact_table("po_status")
    engine.clone_table("po_status", "po_clone")
    logs = {d for d in os.listdir(engine.zones.root) if d.endswith("_log")}
    assert logs == {"_snapshot_log"}
    ops = [h["operation"] for h in engine.snapshot_history("po_status")]
    assert ops == ["append", "append", "delete", "append", "compact"]
    assert [h["version"] for h in engine.schema_history("po_status")] == [1]
    assert [h["operation"] for h in engine.snapshot_history("po_clone")] == ["clone"]
    assert [h["version"] for h in engine.schema_history("po_clone")] == [1]


def test_empty_version_reads_as_zero_rows(engine, spark):
    """A version with no files reads as zero rows with the table's
    columns (its schema is in the log; there is no file to infer it
    from)."""
    batch = spark.createDataFrame([(1, "a"), (2, "b")], "k int, p string")
    engine.write_curated("e", batch, mode="overwrite", partition_cols=["p"])
    engine.write_curated("e", batch.limit(0), mode="overwrite", partition_cols=["p"])
    assert engine.snapshot_history("e")[-1]["files"] == []
    empty = engine.read_snapshot("e")
    assert empty.count() == 0
    assert empty.schema == spark.table(engine.qualified("e")).schema
    assert engine.read_snapshot("e", 1).count() == 2


def test_read_snapshot_partition_types_match_table(engine, spark):
    """A snapshot read types its partition columns as the table does:
    the string partition values '2024'/'05' stay strings, and so do
    the clone and the RESTORE built from that read."""
    engine.save_to_staging("po_status", RECORDS)
    engine.curate("po_status")
    qt = engine.qualified("po_status")
    cols = ["processed_year", "processed_month"]
    want = spark.table(qt).select(*cols).schema
    snap = engine.read_snapshot("po_status", 1)
    assert snap.select(*cols).schema == want
    assert {tuple(r) for r in snap.select(*cols).collect()} == {("2024", "05")}
    engine.clone_table("po_status", "po_clone")
    engine.restore_snapshot("po_status", 1)
    for t in ("po_clone", "po_status"):
        got = spark.table(engine.qualified(t)).select(*cols)
        assert got.schema == want
        assert {tuple(r) for r in got.collect()} == {("2024", "05")}


def test_schema_history_records_generated_column(engine, spark):
    """The column `add_generated_column` adds (committed through its
    backfill UPDATE) is a schema version of its own, and so is an empty
    append that only widens the table (a version with the same files)."""
    seed = spark.createDataFrame([(1, "2024-03-15")], "k int, event_date string")
    engine.write_curated("gen_h", seed, mode="overwrite", partition_cols=[])
    assert len(engine.schema_history("gen_h")) == 1
    engine.add_generated_column("gen_h", "event_month", "substring(event_date, 1, 7)", dtype="string")
    h = engine.schema_history("gen_h")
    assert [v["version"] for v in h] == [1, 2]
    assert "event_month" in {f["name"] for f in h[-1]["schema"]["fields"]}
    assert engine.snapshot_history("gen_h")[-1]["operation"] == "update"
    wider = spark.createDataFrame([], "k int, event_date string, note string")
    engine.write_curated("gen_h", wider, mode="append", partition_cols=[])
    assert [v["version"] for v in engine.schema_history("gen_h")] == [1, 2, 3]
    last, prev = engine.snapshot_history("gen_h")[-2:][::-1]
    assert last["files"] == prev["files"] and last["rows_written"] == 0


def test_incremental_view_refresh_keeps_partition_value_strings(engine, spark):
    """An incremental refresh reads the appended files with the table's
    partition types: the string month '05' folds into its group, never
    into a second group '5'."""
    from pyspark.sql import functions as F

    def batch(amt):
        return spark.createDataFrame([("PO", amt)], "po string, amt double").withColumn(
            "processed_month", F.lit("05")
        )

    engine.write_curated("iv_src", batch(3.0), mode="overwrite", partition_cols=["processed_month"])
    engine.create_incremental_view("iv_m", "iv_src", ["processed_month"], [("sum", "amt", "total")])
    engine.write_curated("iv_src", batch(5.0), mode="append", partition_cols=["processed_month"])
    assert engine.refresh_materialized_view("iv_m") == "incremental"
    got = sorted(tuple(r) for r in spark.table(engine.qualified("iv_m")).collect())
    assert got == [("05", 8.0)]


def test_incremental_view_approx_distinct_hll_merge(engine, spark):
    """approx_distinct incremental maintenance: the per-group HLL sketch
    state merges new files forward (hll_union_agg) and the estimate
    matches a from-scratch recompute — count-distinct kept fresh at
    delta cost, impossible with exact state."""
    df1 = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 2), ("b", 7)], "k string, u int"
    )
    engine.write_curated("iv_hsrc", df1, mode="overwrite", partition_cols=[])
    engine.create_incremental_view(
        "iv_hll", "iv_hsrc", ["k"], [("approx_distinct", "u", "n_users")]
    )
    got = {
        r["k"]: r["n_users"]
        for r in spark.table(engine.qualified("iv_hll")).collect()
    }
    assert got == {"a": 2, "b": 1}
    # append: new values for 'a' (one duplicate, one new) + new group
    df2 = spark.createDataFrame([("a", 2), ("a", 3), ("c", 9)], "k string, u int")
    engine.write_curated("iv_hsrc", df2, mode="append", partition_cols=[])
    assert engine.refresh_materialized_view("iv_hll") == "incremental"
    got = {
        r["k"]: r["n_users"]
        for r in spark.table(engine.qualified("iv_hll")).collect()
    }
    # sketch estimates are exact at these cardinalities (sparse mode)
    assert got == {"a": 3, "b": 1, "c": 1}


def test_compact_zorder_narrows_all_clustered_columns(engine, spark):
    """Z-order compaction (Delta OPTIMIZE ZORDER parity): with linear
    cluster_by (x, y), y's min/max is near-full-width in every file so
    only x-filters skip; the Z-curve must keep BOTH columns' per-file
    bands narrow — and preserve content exactly."""
    from pyspark.sql import functions as F

    n = 60_000
    df = (
        spark.range(n)
        .select(
            F.col("id"),
            F.abs(F.xxhash64("id", F.lit(1)) % 1000).alias("x"),
            F.abs(F.xxhash64("id", F.lit(2)) % 1000).alias("y"),
        )
    )
    engine.write_curated("zord", df, mode="overwrite", partition_cols=[])
    qt = engine.qualified("zord")

    def avg_rel_width(col):
        t = spark.table(qt).select(F.col("_metadata.file_path").alias("f"), col)
        agg = t.groupBy("f").agg((F.max(col) - F.min(col)).alias("w")).collect()
        return sum(r["w"] for r in agg) / len(agg) / 999.0

    n_lin = engine.compact_table("zord", target_file_bytes=48 * 1024, cluster_by=["x", "y"])
    lin_y = avg_rel_width("y")
    n_z = engine.compact_table(
        "zord", target_file_bytes=48 * 1024, cluster_by=["x", "y"], zorder=True
    )
    assert n_z >= 4 and n_lin >= 4
    z_x, z_y = avg_rel_width("x"), avg_rel_width("y")
    assert lin_y > 0.9          # linear: y unskippable
    assert z_y < lin_y * 0.5    # z-order: y band collapses
    assert z_x < 0.7            # x stays banded too
    # content preserved exactly
    assert spark.table(qt).count() == n
    assert spark.table(qt).agg(F.sum("x"), F.sum("y"), F.sum("id")).collect() == \
        df.agg(F.sum("x"), F.sum("y"), F.sum("id")).collect()


def test_repartition_table_evolves_layout_and_preserves_time_travel(engine, spark):
    """Partition-scheme evolution: month-partitioned → key-partitioned;
    content identical, new Hive dirs + catalog partition columns, and
    a pre-evolution snapshot still restores the OLD layout."""
    import glob as _glob
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    df = (
        spark.createDataFrame(
            [(i, f"n{i}", i % 3) for i in range(30)], "k int, name string, g int"
        )
        .withColumn("processed_month", F.format_string("%02d", (F.col("k") % 2) + 1))
    )
    engine.write_curated("pevo", df, mode="overwrite", partition_cols=["processed_month"])
    qt = engine.qualified("pevo")
    v0 = engine.snapshot_history("pevo")[-1]["version"]

    engine.repartition_table("pevo", ["g"])
    # catalog now partitions by g, directories follow
    parts = [c.name for c in spark.catalog.listColumns(qt) if c.isPartition]
    assert parts == ["g"]
    loc = urlparse(engine._table_location(qt)).path
    dirs = {os.path.basename(d) for d in _glob.glob(loc + "/g=*")}
    assert dirs == {"g=0", "g=1", "g=2"}
    # content round-trips
    got = {(r["k"], r["name"], r["g"], r["processed_month"])
           for r in spark.table(qt).collect()}
    want = {(r["k"], r["name"], r["g"], r["processed_month"]) for r in df.collect()}
    assert got == want
    # pre-evolution snapshot restores the month layout
    engine.restore_snapshot("pevo", v0)
    parts = [c.name for c in spark.catalog.listColumns(qt) if c.isPartition]
    assert parts == ["processed_month"]
    assert spark.table(qt).count() == 30


def test_table_layout_report_flags_small_files(engine, spark):
    """Layout health: fragmented appends show a high small_file_ratio;
    compaction drives it down. Computed from _metadata (no driver
    directory listing)."""
    engine.ingest_records("health", [{"k": 0, "v": "x0"}], mode="overwrite", partition_cols=[])
    for i in range(1, 6):
        engine.ingest_records("health", [{"k": i, "v": f"x{i}"}], mode="append", partition_cols=[])
    before = engine.table_layout_report("health", target_file_bytes=1024 * 1024).collect()[0]
    assert before["n_files"] >= 6
    assert before["total_rows"] == 6
    assert before["small_file_ratio"] == 1.0  # every file tiny
    engine.compact_table("health", target_file_bytes=1024 * 1024)
    after = engine.table_layout_report("health", target_file_bytes=4 * 1024).collect()[0]
    assert after["n_files"] < before["n_files"]
    assert after["total_rows"] == 6


def test_check_constraints_enforced_on_write(engine, spark):
    """Delta CHECK-constraint parity: a violating batch aborts before
    any write; NULL passes (SQL CHECK); overwrite (compaction) keeps
    the constraint; drop re-allows."""
    import pytest as _pytest

    from cbts_datalake_synnex_spark.engine import ConstraintViolation

    def _batch(rows):
        return spark.createDataFrame(rows, "k int, qty int")

    engine.write_curated("cons", _batch([(1, 5), (2, None)]), mode="overwrite", partition_cols=[])
    engine.add_check_constraint("cons", "qty_positive", "qty IS NULL OR qty >= 0")
    qt = engine.qualified("cons")

    # violating append: rejected, table untouched
    with _pytest.raises(ConstraintViolation, match="qty_positive"):
        engine.write_curated("cons", _batch([(3, -1)]), mode="append", partition_cols=[])
    assert spark.table(qt).count() == 2

    # clean append (incl. NULL) passes
    engine.write_curated("cons", _batch([(4, 7)]), mode="append", partition_cols=[])
    assert spark.table(qt).count() == 3

    # compaction overwrites the table — constraint must survive
    engine.compact_table("cons")
    assert engine.table_constraints("cons") == {"qty_positive": "qty IS NULL OR qty >= 0"}
    with _pytest.raises(ConstraintViolation):
        engine.write_curated("cons", _batch([(5, -9)]), mode="append", partition_cols=[])

    # cannot add a constraint existing rows violate
    with _pytest.raises(ConstraintViolation, match="existing rows"):
        engine.add_check_constraint("cons", "k_small", "k < 2")

    engine.drop_check_constraint("cons", "qty_positive")
    engine.write_curated("cons", _batch([(6, -1)]), mode="append", partition_cols=[])
    assert spark.table(qt).count() == 4


def test_sql_utility_statement_dispatch(engine, spark):
    """Delta utility SQL on plain parquet: OPTIMIZE [ZORDER BY],
    VACUUM ... RETAIN n VERSIONS, DESCRIBE HISTORY all dispatch to
    the engine equivalents and return metrics frames."""
    from pyspark.sql import functions as F

    df = spark.range(200).select(
        F.col("id").alias("k"),
        F.abs(F.xxhash64("id") % 100).alias("x"),
        F.abs(F.xxhash64("id", F.lit(1)) % 100).alias("y"),
    )
    engine.write_curated("util", df, mode="overwrite", partition_cols=[])
    engine.write_curated("util", df.limit(1), mode="append", partition_cols=[])

    hist = engine.sql("DESCRIBE HISTORY util").collect()
    assert [r["version"] for r in hist] == [1, 2]
    assert [(r["operation"], r["rows_written"]) for r in hist] == [("overwrite", 200), ("append", 1)]

    out = engine.sql("OPTIMIZE util ZORDER BY (x, y)").collect()[0]
    assert out["n_files"] >= 1
    assert spark.table(engine.qualified("util")).count() == 201

    out = engine.sql("VACUUM util RETAIN 1 VERSIONS").collect()[0]
    assert out["versions_reclaimed"] >= 1


def test_generated_columns_materialize_and_verify(engine, spark):
    """Delta generated-columns parity: a batch omitting the column
    gets it computed (generated partition key — writers can't
    mis-partition); a batch supplying a WRONG value is rejected; the
    property survives compaction."""
    import pytest as _pytest

    from cbts_datalake_synnex_spark.engine import ConstraintViolation

    seed = spark.createDataFrame(
        [(1, "2024-03-15"), (2, "2024-07-01")], "k int, event_date string"
    )
    engine.write_curated("gen", seed, mode="overwrite", partition_cols=[])
    engine.add_generated_column(
        "gen", "event_month", "substring(event_date, 1, 7)", dtype="string"
    )
    # batch WITHOUT the column → computed
    engine.write_curated(
        "gen", spark.createDataFrame([(3, "2025-01-09")], "k int, event_date string"),
        mode="append", partition_cols=[],
    )
    got = {r["k"]: r["event_month"] for r in spark.table(engine.qualified("gen")).collect()}
    assert got[3] == "2025-01"
    assert got[1] == "2024-03"  # pre-existing rows backfilled at ADD time
    # batch WITH a wrong value → rejected
    with _pytest.raises(ConstraintViolation, match="generated-column"):
        engine.write_curated(
            "gen",
            spark.createDataFrame(
                [(4, "2025-02-01", "1999-12")], "k int, event_date string, event_month string"
            ),
            mode="append", partition_cols=[],
        )
    # batch with the CORRECT value → accepted
    engine.write_curated(
        "gen",
        spark.createDataFrame(
            [(5, "2025-03-02", "2025-03")], "k int, event_date string, event_month string"
        ),
        mode="append", partition_cols=[],
    )
    # property survives overwrite (compaction)
    engine.compact_table("gen")
    assert engine.generated_columns("gen") == {"event_month": "substring(event_date, 1, 7)"}
    assert spark.table(engine.qualified("gen")).count() == 4


def test_preflight_join_report_and_recommendations(spark, engine):
    """Round 12 (VERDICT r11 #4): the composed pre-flight — exact row
    totals and one-sided hot-key bounds from the persisted CMS, join
    cardinality never under, and each branch of the deterministic
    broadcast/salt/shuffle rule."""
    from pyspark.sql import functions as F

    # skewed side: one hot key holding half the rows
    skewed = spark.range(0, 400).select(
        F.when(F.col("id") < 200, F.lit("hot"))
        .otherwise(F.col("id").cast("string"))
        .alias("k")
    )
    uniform = spark.range(0, 300).select((F.col("id") % 100).cast("string").alias("k"))
    skewed.write.saveAsTable(engine.qualified("skewed"))
    uniform.write.saveAsTable(engine.qualified("uniform"))
    for t in ("skewed", "uniform"):
        engine.analyze_join_column(t, "k", depth=4, width=64)

    rep = engine.preflight_join(
        "skewed", "k", "uniform", "k", broadcast_bytes=0, skew_share=0.2,
        budget_bytes=10**12,
    )
    assert rep["rows_a"] == 400 and rep["rows_b"] == 300
    # hot bound is one-sided: >= the true hottest frequency (200)
    assert rep["hot_key_bound_a"] >= 200
    assert rep["hot_share_bound_a"] >= 0.5
    # join size never under the true inner-join cardinality
    true_rows = (
        spark.table(engine.qualified("skewed"))
        .join(spark.table(engine.qualified("uniform")), "k")
        .count()
    )
    assert rep["est_join_rows"] >= true_rows
    assert rep["keys_a"] > 0 and rep["keys_overlap"] >= 0
    assert rep["bytes_a"] > 0 and rep["bytes_within_budget"]
    # salt leg: hot share ~0.5 over the 0.2 threshold, broadcast off
    assert rep["recommendation"] == "salt"

    # broadcast leg beats salt: tiny tables fit any real threshold
    rep2 = engine.preflight_join(
        "skewed", "k", "uniform", "k", broadcast_bytes=10 * 1024**2,
    )
    assert rep2["recommendation"] in ("broadcast_a", "broadcast_b")

    # shuffle leg: no hot key, broadcast disabled
    rep3 = engine.preflight_join(
        "uniform", "k", "uniform", "k", broadcast_bytes=0, skew_share=0.2,
    )
    assert rep3["recommendation"] == "shuffle"

    # missing sketch refused
    with pytest.raises(ValueError, match="analyze_join_column"):
        engine.preflight_join("skewed", "k", "skewed", "nope")


def test_table_changes_classification_and_null_safety(spark, engine):
    """Round 12 CDF: insert/delete/update pre+post classification,
    NULL-valued columns compared null-safely (NULL→NULL is UNCHANGED,
    NULL→value is an update), unchanged keys emit nothing."""
    from pyspark.sql import functions as F  # noqa: F401

    v1 = spark.createDataFrame(
        [(1, 10.0, "a"), (2, None, "b"), (3, 30.0, None), (4, 40.0, "d")],
        "k bigint, price double, status string",
    )
    v2 = spark.createDataFrame(
        [(1, 10.0, "a"),        # unchanged
         (2, None, "b"),        # unchanged (NULL == NULL null-safely)
         (3, 30.0, "now"),      # NULL -> value: update
         (5, 50.0, "e")],       # insert; 4 deleted
        "k bigint, price double, status string",
    )
    engine.write_curated("cdf", v1, mode="overwrite", partition_cols=[])
    engine.write_curated("cdf", v2, mode="overwrite", partition_cols=[])
    rows = engine.table_changes("cdf", 1, 2, key_cols=["k"]).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["_change_type"], []).append(r)
    assert {r["k"] for r in by_type["insert"]} == {5}
    assert {r["k"] for r in by_type["delete"]} == {4}
    assert by_type["delete"][0]["price"] == 40.0  # pre-image values
    assert {r["k"] for r in by_type["update_preimage"]} == {3}
    assert by_type["update_preimage"][0]["status"] is None
    assert by_type["update_postimage"][0]["status"] == "now"
    assert len(rows) == 4  # keys 1 and 2 emit nothing

    import pytest as _pytest
    with _pytest.raises(ValueError, match="key_cols"):
        engine.table_changes("cdf", 1, 2)


def test_histogram_selectivity_bounds_and_ops(spark, engine):
    """Round 12: equi-depth selectivity — uniform data estimates
    tightly; > is the complement of <=; missing histogram refused;
    NULLs excluded from the selectivity base."""
    from pyspark.sql import functions as F

    df = spark.range(0, 1000).select(F.col("id").cast("double").alias("x"))
    df = df.unionByName(
        spark.createDataFrame([(None,)], "x double")
    )
    df.write.saveAsTable(engine.qualified("hx"))
    engine.analyze_column_histogram("hx", "x", n_buckets=20)
    est = engine.estimate_selectivity("hx", "x", "<=", 250.0)
    assert abs(est - 0.25) <= 2.0 / 20
    gt = engine.estimate_selectivity("hx", "x", ">", 250.0)
    assert abs((est + gt) - 1.0) < 1e-9
    assert engine.estimate_selectivity("hx", "x", "<=", -5.0) == 0.0
    assert engine.estimate_selectivity("hx", "x", "<=", 10_000.0) == 1.0
    import pytest as _pytest
    with _pytest.raises(ValueError, match="analyze_column_histogram"):
        engine.estimate_selectivity("hx", "nope", "<=", 1.0)
    with _pytest.raises(ValueError, match="op"):
        engine.estimate_selectivity("hx", "x", "==", 1.0)


def test_write_paths_never_call_list_columns(engine, spark, monkeypatch):
    """PySpark's Catalog.listColumns runs one Spark job per partition
    of a local relation on every call; the engine reads partition
    columns from DESCRIBE TABLE EXTENDED instead. And every parquet
    table write commits through `_commit`, never `saveAsTable`. The
    whole nightly path, compaction, an overwrite and the layout and
    column changes run with both disabled. An append or a same-layout
    overwrite reads the table's layout (one DESCRIBE) once."""
    from pyspark.sql.catalog import Catalog
    from pyspark.sql.readwriter import DataFrameWriter

    def _refuse(what):
        def refuse(*_a, **_k):
            raise AssertionError(f"{what} called")

        return refuse

    monkeypatch.setattr(Catalog, "listColumns", _refuse("Catalog.listColumns"))
    monkeypatch.setattr(DataFrameWriter, "saveAsTable", _refuse("DataFrameWriter.saveAsTable"))
    records = [{"po_number": f"PO{i}", "status": "OPEN", "qty": i} for i in range(6)]
    engine.save_to_staging("po", records)
    assert engine.curate("po") == 6
    changes = spark.createDataFrame(
        [("PO1", "SHIPPED", "3", "U"), ("PO2", None, None, "D")],
        "po_number string, status string, qty string, op string",
    )
    res = engine.apply_changes("po", changes, ["po_number"])
    assert res == {"updated": 1, "deleted": 1, "inserted": 0}
    engine.compact_table("po")
    engine.repartition_table("po", ["status"])
    qt = engine.qualified("po")
    assert engine._table_layout(qt)[1] == ["status"]
    got = {r["po_number"]: r["status"] for r in spark.table(qt).collect()}
    assert len(got) == 5 and got["PO1"] == "SHIPPED" and "PO2" not in got
    engine.drop_column("po", "qty")
    assert "qty" not in spark.table(qt).columns
    engine.prepare_staging("po")
    engine.save_to_staging("po", [{"po_number": "PO9", "status": "OPEN"}])
    layouts = []
    table_layout = engine._table_layout
    monkeypatch.setattr(engine, "_table_layout", lambda q: layouts.append(q) or table_layout(q))
    assert engine.curate("po", partition_cols=["status"]) == 6
    assert layouts == [qt]
    engine.write_curated(
        "po", spark.table(qt).filter("po_number != 'PO3'"), mode="overwrite", partition_cols=["status"]
    )
    assert spark.table(qt).count() == 5
    assert layouts == [qt, qt]


@pytest.mark.parametrize("create_mode", ["overwrite", "append"])
def test_write_curated_create_and_append_rules(engine, spark, create_mode):
    """A create journals version 1 even for an empty batch; an append
    whose partition columns differ from the table's (none given
    included) raises and changes nothing."""
    empty = spark.createDataFrame([], "k int, p string")
    engine.write_curated("r", empty, mode=create_mode, partition_cols=["p"])
    assert [h["version"] for h in engine.snapshot_history("r")] == [1]
    batch = spark.createDataFrame([(1, "a"), (2, "b")], "k int, p string")
    for wrong in (["k"], []):
        with pytest.raises(Exception, match="partition"):
            engine.write_curated("r", batch, mode="append", partition_cols=wrong)
    assert len(engine.snapshot_history("r")) == 1
    engine.write_curated("r", batch, mode="append", partition_cols=["p"])
    qt = engine.qualified("r")
    assert engine._table_layout(qt)[1] == ["p"]
    assert sorted(tuple(r) for r in spark.table(qt).collect()) == [(1, "a"), (2, "b")]
    assert len(engine.snapshot_history("r")) == 2


def test_same_layout_overwrite_keeps_table_properties(engine, spark):
    """An overwrite that keeps the columns and partitioning replaces the
    rows in place: the table is not re-created, so user properties
    stay; a schema-changing overwrite re-creates it with the engine's
    properties only."""
    df = spark.createDataFrame([(1, 5)], "k int, qty int")
    engine.write_curated("p", df, mode="overwrite", partition_cols=[])
    engine.add_check_constraint("p", "qty_pos", "qty > 0")
    qt = engine.qualified("p")
    spark.sql(f"ALTER TABLE {qt} SET TBLPROPERTIES ('owner.team' = 'po')")
    engine.write_curated("p", spark.createDataFrame([(2, 6)], "k int, qty int"), mode="overwrite", partition_cols=[])
    props = engine._table_props("p")
    assert props["owner.team"] == "po" and props["constraint.check.qty_pos"] == "qty > 0"
    assert [tuple(r) for r in spark.table(qt).collect()] == [(2, 6)]
    engine.write_curated("p", spark.createDataFrame([(3, 7, "x")], "k int, qty int, s string"), mode="overwrite", partition_cols=[])
    props = engine._table_props("p")
    assert "owner.team" not in props and props["constraint.check.qty_pos"] == "qty > 0"
    assert spark.table(qt).columns == ["k", "qty", "s"]
    assert [h["version"] for h in engine.snapshot_history("p")] == [1, 2, 3]


def _empty_overwrite(engine, spark):
    empty = spark.createDataFrame([], "k int, p string")
    engine.write_curated("r", empty, mode="overwrite", partition_cols=["p"])
    return []


def _fold_delete_all(engine, spark):
    assert engine.delete_rows_mor("r", "k > 0", ["k"]) == 2
    assert engine.apply_deletion_vectors("r") == 0
    return []


def _recreate_after_sql_drop(engine, spark):
    spark.sql(f"DROP TABLE {engine.qualified('r')}")
    batch = spark.createDataFrame([(7, "c")], "k int, p string")
    engine.write_curated("r", batch, mode="append", partition_cols=["p"])
    return [(7, "c")]


@pytest.mark.parametrize(
    "op", [_empty_overwrite, _fold_delete_all, _recreate_after_sql_drop],
    ids=["empty_overwrite", "fold_delete_all", "recreate_after_sql_drop"],
)
def test_commit_replacing_every_file_journals_only_new_rows(engine, spark, op):
    """A write that replaces every live file — an empty overwrite, a
    deletion vector covering every row, a re-create of a table dropped
    outside the engine — journals a new version holding exactly the
    new rows: none of the old files stay live or carry into the
    manifest."""
    batch = spark.createDataFrame([(1, "a"), (2, "b")], "k int, p string")
    engine.write_curated("r", batch, mode="overwrite", partition_cols=["p"])
    want = op(engine, spark)
    assert [h["version"] for h in engine.snapshot_history("r")] == [1, 2]
    assert sorted(tuple(r) for r in spark.table(engine.qualified("r")).collect()) == want
    assert len(engine.snapshot_history("r")[-1]["files"]) == len(want)
    if want:  # a version with no files has no parquet to read back
        assert sorted(tuple(r) for r in engine.read_snapshot("r").collect()) == want


@pytest.mark.parametrize("parts", [[], ["a"], ["a", "b"]])
def test_table_layout_reads_location_and_partition_columns(engine, spark, parts):
    """`_table_layout` agrees with the catalog on 0, 1 and 2 partition
    columns, and a data column named Location does not pass for the
    table's location."""
    df = spark.createDataFrame(
        [(1, "x", "y", "somewhere")], "v int, a string, b string, Location string"
    )
    engine.write_curated("lay", df, mode="overwrite", partition_cols=parts)
    qt = engine.qualified("lay")
    loc, got = engine._table_layout(qt)
    assert got == parts
    assert got == [c.name for c in spark.catalog.listColumns(qt) if c.isPartition]
    assert loc.startswith("file:") and loc.endswith("/lay")
    assert os.path.isdir(loc.removeprefix("file:"))


NESTED = [
    {"po_number": "PO1", "status": {"code": "OK", "detail": {"msg": "shipped"}}, "lines": [1, 2]},
    {"po_number": "PO2", "status": {"code": "HOLD"}, "qty": 5, "Qty": "five"},
    {"po_number": "PO3", "when": "2024-05-01", "flag": True, "price": 1.5},
]


@pytest.mark.parametrize("records", [NESTED, RECORDS, []], ids=["nested", "records", "empty"])
def test_records_to_df_matches_python_rdd_parse(engine, spark, records):
    """The JVM parse of driver records equals the earlier
    ``read.json(parallelize(lines))`` parse: same schema (including
    case-duplicate keys, which stay separate columns) and same rows."""
    import json

    got = engine.records_to_df(records)
    lines = [json.dumps(r, default=str) for r in records]
    if not lines:
        assert got.columns == [] and got.count() == 0
        return
    want = spark.read.json(spark.sparkContext.parallelize(lines, len(lines) // 5000 + 1))
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect()), key=str) == sorted(map(tuple, want.collect()), key=str)


@pytest.mark.parametrize("n", [1000, 12001])
def test_save_to_staging_links_one_file_per_5000_records(engine, n):
    """One staged part file per 5 000 records (or fewer), written once;
    the `_incremental` twin holds the same files as hard links."""
    engine.save_to_staging("po_status", [{"po_number": f"PO{i}", "qty": i} for i in range(n)])

    def parts(table):
        root = engine.zones.staging(table)
        (batch,) = os.listdir(root)
        d = os.path.join(root, batch)
        return {f: os.stat(os.path.join(d, f)) for f in os.listdir(d) if f.startswith("part-")}

    main, twin = parts("po_status"), parts("po_status_incremental")
    assert len(main) == n // 5000 + 1
    assert set(twin) == set(main)
    assert all(twin[f].st_ino == main[f].st_ino for f in main)


def test_curate_all_null_staging_returns_zero(engine, spark):
    """A staged batch with no non-null value has no columns left after
    the policy's NA-drop: curate returns 0 and writes nothing."""
    import gzip

    d = os.path.join(engine.zones.staging("nulls"), "batch")
    os.makedirs(d)
    with gzip.open(os.path.join(d, "part-00000.json.gz"), "wt") as f:
        f.write('{"a": null, "b": null}\n{"a": null}\n')
    assert engine.curate("nulls") == 0
    assert not spark.catalog.tableExists(engine.qualified("nulls"))


def test_identifiers_are_quoted_in_ddl_and_projections(engine, spark):
    """Column names reach SQL only through one quoting: an append that
    adds a column named b`c widens the table (ALTER TABLE ADD COLUMNS)
    and lands its values; nested records with dots and spaces in field
    names ingest under their sanitized flat names. `write_curated`
    returns the rows its commit wrote."""
    recs = [{"po": "PO1", "ship.to": {"zip code": "02134", "line.1": {"a b": "x"}}}]
    out = engine.ingest_records("q", recs, partition_cols=[])
    assert {"po", "ship_to_zip_code", "ship_to_line_1_a_b"} <= set(out.columns)
    assert out.select("ship_to_zip_code", "ship_to_line_1_a_b").first() == ("02134", "x")
    seed = spark.createDataFrame([(0,)], "k int")
    n_seed = engine.write_curated("w", seed, mode="overwrite", partition_cols=[])
    batch = spark.createDataFrame([(1, "v"), (2, None)], "k int, `b``c` string")
    n_batch = engine.write_curated("w", batch, mode="append", partition_cols=[])
    qt = engine.qualified("w")
    assert spark.table(qt).columns == ["k", "b`c"]
    assert sorted(tuple(r) for r in spark.table(qt).collect()) == [
        (0, None), (1, "v"), (2, None)
    ]
    assert (n_seed, n_batch) == (1, 2)
