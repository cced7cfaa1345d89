"""Benchmark runner — times the headline workload queries.

Usage: ``python bench.py`` (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS).
Prints ONE JSON line:
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}``

Materialization is ``df.write.format("noop")`` — full execution of
every stage without driver-side collection, so the timing measures the
plan, not the result transfer.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cbts_datalake_synnex_spark.session import get_spark
from cbts_datalake_synnex_spark.workload import REGISTRY


def _isolate(spark) -> None:
    """Per-query isolation (round 13 — a MEASUREMENT-HYGIENE fix,
    declared in OPTIMIZATION_r13.md; the pre-fix baselines are kept in
    plans/r13_baseline_bench.json and BENCH_r01..r12):
    ``clearCache()`` drops cached tables but NOT the localCheckpoint
    RDDs each query's plan pins — py4j references keep them alive
    after the DataFrame is discarded, so a full bench accumulates
    100+ leaked checkpoint blocks that squeeze unified execution
    memory and make LATER queries spill (measured: the
    x2_weighted_minhash_pairs timed row ran 10.5 s after a 30-query
    warm pass vs 5.8 s with the leaks dropped — identical code).
    Unpersisting leaked blocks between queries removes cross-query
    state; it never adds reuse (each query builds its plan from the
    parquet inputs regardless). Round 14: the one protected exception
    (the leakage-split pair memo) is retired — the sweep now drops
    EVERY persistent RDD, so no frame survives across timed queries.
    The sweep itself is the shared library helper (same code callers
    use to reclaim operator checkpoint pins — ADVICE r13)."""
    from cbts_datalake_synnex_spark.operators._util import sweep_pinned_rdds

    sweep_pinned_rdds(spark)


def _run_pass(spark, sf_dir: str, names: list[str], warm: bool = True) -> tuple[dict, dict]:
    """Warm + timed noop-sink pass over ``names`` at ``sf_dir``.

    Per-query fault isolation: one broken query must not cost the
    round's numbers — record its error string and keep timing the
    survivors (the total is over survivors only).

    Steady-state measurement: one untimed pass warms the JVM (JIT,
    generated code, parquet footers), then caches are DROPPED so the
    timed pass re-executes every stage — codegen stays warm, data
    results don't.
    """
    # bench_fn: a registry entry may wrap its operator in certification
    # scaffolding (verification-report plans); the bench times the raw
    # operator so per-query wall times stay comparable across rounds.
    broken: dict[str, str] = {}
    if warm:
        for name in names:
            try:
                q = REGISTRY[name]
                fn = q.bench_fn or q.fn
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001
                broken[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
            _isolate(spark)

    timings: dict[str, float] = {}
    for name in names:
        if name in broken:
            continue
        q = REGISTRY[name]
        start = time.perf_counter()
        try:
            (q.bench_fn or q.fn)(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001
            broken[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
            # ADVICE r13: a failed query's partially-built cached/
            # checkpointed state must not leak into the next timed query
            _isolate(spark)
            continue
        timings[name] = round(time.perf_counter() - start, 3)
        _isolate(spark)  # no cross-query result reuse OR leaked state
    return timings, broken


def _run_table_ops_pass(spark, sf_dir: str) -> dict:
    """Time the table-format tier (row-level DML / MERGE / Z-order
    compaction) on an ORDERS-sized table — the registry's lc_* twins
    certify semantics on the 25-row nation seed, which has no wall-time
    signal. Reported as a SEPARATE block so the headline total stays
    comparable to the rounds-1-5 baseline (same query set).

    Each op runs in a throwaway lake; timings include the engine's
    full bill (file-pruned rewrite, snapshot journaling, retiring the
    replaced files) — the number a user would see.
    """
    import shutil
    import tempfile
    import uuid
    from datetime import datetime

    from pyspark.sql import functions as F

    from cbts_datalake_synnex_spark.engine import LakeEngine
    from cbts_datalake_synnex_spark.workload.base import load_table

    out: dict = {}
    root = tempfile.mkdtemp(prefix="bench_lake_")
    db = f"bench_{uuid.uuid4().hex[:8]}"
    eng = LakeEngine(
        spark, root, database=db, clock=lambda: datetime(2024, 3, 15, 12, 0, 0)
    )
    try:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
        )

        def _seed(table):
            eng.write_curated(
                table,
                orders.withColumn("processed_year", F.lit("2024")).withColumn(
                    "processed_month",
                    F.format_string("%02d", (F.col("o_orderkey") % 4 + 1).cast("int")),
                ),
                mode="overwrite",
            )

        _seed("b_dml")
        start = time.perf_counter()
        eng.delete_rows("b_dml", "o_orderkey % 10 = 3")
        eng.update_rows(
            "b_dml", "o_orderstatus = 'F' AND o_orderkey % 7 = 0",
            {"o_totalprice": "o_totalprice * 1.05"},
        )
        out["dml_delete_update"] = round(time.perf_counter() - start, 3)

        _seed("b_merge")
        changes = (
            orders.filter("o_orderkey % 20 = 1")
            .select(
                "o_orderkey",
                F.lit("P").alias("o_orderstatus"),
                (F.col("o_totalprice") * 2).alias("o_totalprice"),
                F.lit("U").alias("op"), F.lit(1).alias("seq"),
            )
            .unionByName(
                orders.filter("o_orderkey % 20 = 2").select(
                    (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
                    F.lit("N").alias("o_orderstatus"),
                    F.col("o_totalprice"),
                    F.lit("I").alias("op"), F.lit(1).alias("seq"),
                )
            )
        )
        start = time.perf_counter()
        eng.apply_changes("b_merge", changes, keys=["o_orderkey"], sequence_col="seq")
        out["merge_cdc_apply"] = round(time.perf_counter() - start, 3)

        _seed("b_zorder")
        start = time.perf_counter()
        eng.compact_table(
            "b_zorder", cluster_by=["o_custkey", "o_totalprice"], zorder=True
        )
        out["zorder_compact"] = round(time.perf_counter() - start, 3)
    except Exception as e:  # noqa: BLE001
        out["error"] = f"{type(e).__name__}: {str(e)[:200]}"
    finally:
        try:
            spark.catalog.setCurrentDatabase("default")
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        finally:
            shutil.rmtree(root, ignore_errors=True)
    return out


def _run_dedup_skew_pass(spark, sf_dir: str, n_template: int = 2000) -> dict:
    """Adversarial-skew dedup bench (VERDICT r5 #10): the same
    documents corpus PLUS ``n_template`` copies of one boilerplate
    template — the shape that used to put a w-copy clique (w(w-1)/2
    candidate pairs) into a single LSH band bucket. With the round-6
    bucket-width cap the candidate set stays linear, so skewed wall
    time should track corpus growth, not explode quadratically; the
    recorded ratio IS the evidence. Times the raw LSH pair operator
    and the incremental admission gate on normal vs skewed corpora.
    """
    from pyspark.sql import functions as F

    from cbts_datalake_synnex_spark.operators import dedup
    from cbts_datalake_synnex_spark.workload.base import load_table

    out: dict = {}
    try:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        template = spark.range(n_template).select(
            (F.col("id") + 1_000_000_000).alias("doc_id"),
            F.lit("identical boilerplate navigation footer text " * 8).alias("text"),
        )
        skewed = docs.unionByName(template)

        def _time(df):
            start = time.perf_counter()
            dedup.minhash_lsh_pairs(
                df, id_col="doc_id", text_col="text",
                threshold=0.7, num_perm=32, bands=8, shingle_size=3,
            ).write.format("noop").mode("overwrite").save()
            return round(time.perf_counter() - start, 3)

        out["minhash_normal"] = _time(docs)
        out["minhash_template_skew"] = _time(skewed)
        out["minhash_skew_ratio"] = round(
            out["minhash_template_skew"] / max(out["minhash_normal"], 1e-9), 2
        )

        batch = docs.select((F.col("doc_id") + 2_000_000_000).alias("doc_id"), "text")
        start = time.perf_counter()
        dedup.admission_against_corpus(
            skewed, batch, id_col="doc_id", text_col="text", threshold=0.7,
        ).write.format("noop").mode("overwrite").save()
        out["admission_vs_skewed_corpus"] = round(time.perf_counter() - start, 3)
        spark.catalog.clearCache()

        # round 9: the persistent-index probe against the SAME skewed
        # corpus — the index build (the corpus tokenize) is paid once,
        # untimed, like the nightly pipeline pays it; the timed probe
        # tokenizes only the batch. The delta vs
        # admission_vs_skewed_corpus IS the per-night saving.
        import shutil
        import tempfile
        import uuid

        from cbts_datalake_synnex_spark.engine import LakeEngine

        root = tempfile.mkdtemp(prefix="bench_ndidx_")
        db = f"bench_nd_{uuid.uuid4().hex[:8]}"
        eng = LakeEngine(spark, root, database=db)
        try:
            eng.build_dedup_index("nd", skewed, "doc_id", "text")
            start = time.perf_counter()
            eng.admit_against_dedup_index(
                "nd", batch, "doc_id", "text", threshold=0.7
            ).write.format("noop").mode("overwrite").save()
            out["admission_index_probe"] = round(time.perf_counter() - start, 3)
        finally:
            try:
                spark.catalog.setCurrentDatabase("default")
                spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
            finally:
                shutil.rmtree(root, ignore_errors=True)
        spark.catalog.clearCache()
    except Exception as e:  # noqa: BLE001
        out["error"] = f"{type(e).__name__}: {str(e)[:200]}"
    return out


# Round-6+ additions tracked outside the headline total (VERDICT r6
# #9): new surfaces get wall times + slopes in the round they land,
# BEFORE their certification rotation.
#
# Bench-row rotation (VERDICT r8 #2 — keep the full wall under the
# driver's 580 s cap as the surface count grows): rows whose slope has
# been stable for ≥2 rounds and whose sf1 wall is ~1 s or less retire
# to the sf0.1-only list below — their last two-SF numbers are
# recorded in BASELINE.md ("retired bench rows" table) and their
# sf0.1 number keeps regression coverage. Heavy or slope-watch rows
# stay on the two-SF list.
NEW_SURFACE_QUERIES = [
    # The only rows whose sf1 slopes still carry open signal: the
    # cogrouped per-cell GEMM kNN core, its end-to-end retrieval
    # pipeline, and the mixed classifier pipeline (warm A/B histories
    # in BASELINE.md "Round-11 classifier-eval A/B" and "Round-12
    # knn-join A/B"). Everything else that used to run the sf1 pass
    # has 2+ rounds of stable recorded slopes — retired round 12 (the
    # 580 s driver cap forced a sweep as the round-12 rows landed;
    # standing two-SF numbers live in BASELINE.md and BENCH_r07-r11).
    "x3_knn_join",
    "pipeline_retrieve_rerank",
    "pipeline_classifier_eval",
]

# sf0.1-only regression rows. Round-12 retirement sweep: every row
# with 2+ rounds of stable sub-2.5 s readings and a recorded slope
# dropped off the bench entirely (x4_gopher_quality, corpus_hygiene,
# matryoshka, temperature_mixture, psi_drift, corpus_zipf,
# embedding_standardize, csv/orc roundtrips, scd2, unicode/collapse,
# random_projection, fim/chat/dpo, nb_classifier + dsir_weights
# (composite rows keep their pipelines covered), ewma, quantile_
# normalize, control_chart, snapshot_vacuum, dpp/bloom joins,
# embedding_drift, temporal_split, curriculum_schedule/sample,
# interval_overlap, count_min, column/skew profiles, sorted_export,
# cms_join_estimate, cdc_chunks, ks_test, epoch_repeat, asof_nearest,
# mmr_rerank, dsir_resample, source_overlap, ffd_packing, ccnet,
# hard_negatives, bigram_ppl, bpe_train/apply, copurchase_pagerank,
# bitext_mine — standing numbers in BASELINE.md + BENCH_r04-r11).
# What stays: the heavy/irreplaceable regression rows and every
# round-12 surface (first tracked round).
NEW_SURFACE_QUERIES_SF01_ONLY = [
    # heavy standing rows — the ones a plan regression would move
    "x2_weighted_minhash_pairs",
    "x4_bm25_topk",
    "pipeline_rrf_fusion",
    "x4_logreg_train",
    "x3_sq8_recall",
    "j_label_propagation",
    "s_binary_dir_scan",
    # ex-sf1 rows that keep sf0.1 regression cover (>=1.7 s signal)
    "x3_semantic_dedup",
    "x4_repetition_flags",
    "pipeline_leakage_safe_split",
    "x3_hard_negatives_distributed",
    "x4_textrank_keywords",
    "x3_kmeans_refine",
    # round-12 surfaces (first tracked round; land-time two-SF
    # anchors in BASELINE.md)
    "x4_url_normalize",
    "pipeline_domain_cap",
    "f_variant_extract",
    "x6_sliding_chunks",
    "pipeline_crawl_curation",
    "t_funnel3_ordered",
    "w4_window_count_distinct",
    "t_seasonal_anomalies",
    "t_resample_interpolate",
    "x4_entropy_score",
    "u4_set_operators",
    "j_q2_min_cost_supplier",
    "a_q11_important_stock",
    "j4_q20_excess_suppliers",
    "x6_needle_insert",
    "dq_table_fingerprint",
    # round-12 late additions (first tracked round; land-time two-SF
    # anchors in BASELINE.md "Round-12 late-addition land-time")
    "x1_url_dedup",
    "f_bloom_filter",
    "x7_dup_ngram_rate",
    "t_interval_union",
    "dq_l_diversity",
    "dq_pseudonymize",
    "t_time_weighted_avg",
    "t_ohlc_bars",
    "j7_geo_radius_join",
    "j8_temporal_scd2_join",
    "j_khop_bfs",
    "dq_mad_outliers",
    "t_linear_attribution",
    "t_rfm_segments",
    # round-13 surfaces (first tracked round)
    "x2_exact_substring_dedup",
    "x4_langid_trained",
    "lc_aqe_skew_join",
    "dq_query_metrics",
    "f_theta_sketch",
    "t_cusum_changepoint",
    "t_holt_trend",
    "dq_benford_test",
    "x5_image_phash_dedup",
    "f_poisson_bootstrap",
    "dq_cramers_v",
]

# Not benched at all (registry-certified, but the wall time measures
# oracle scaffolding, not the operator): lc_kmv_overlap / lc_kmv_fold /
# x7_kmv_overlap_matrix spend their wall on scratch-lake writes, full
# analyze builds, and exact ground-truth twins — the OPERATOR
# (sketch-frame estimate / delta fold / sketch matrix) is KB-bounded
# arithmetic with no bench-visible cost. x2_index_admission runs the
# FULL two-night lifecycle incl. a from-scratch rebuild (13+ s sf0.1);
# the operator's real per-night cost is the isolated
# `admission_index_probe` row in the dedup_skew block. Same for
# x3_ann_index_probe (build + append + exhaustive probe — the probe
# alone is the knn_join cogroup core, already benched as x3_knn_join).
# Streaming replays (t_stream_* incl. round-10 t_stream_sessionize,
# round-11 t_stream_heartbeat, round-12 t_stream_heartbeat_timeout,
# t_stream_restart_curate
# and t_stream_decay_topk,
# j_pagerank_bucketed's and
# j_lpa_bucketed's scratch-table lifecycles) are likewise
# fixed-overhead certification paths, not wall-time signals. Same for
# lc_index_compact / lc_ann_compact (round 10): full
# build+append+compact+two-probe lifecycles — their steady-state
# costs are the admission_index_probe / x3_knn_join rows — and the
# round-11/12 scratch-lifecycle certifications (lc_join_estimate,
# lc_join_key_overlap, lc_preflight_join, lc_table_changes,
# lc_partial_compact, lc_filter_selectivity, lc_export_manifest,
# lc_restore_table, lc_mor_delete, pipeline_incremental_agg_cdf,
# lc_hidden_partitioning, lc_write_audit_publish, dq_file_profile:
# table writes dominate) and
# x3_pq_index_probe (two index builds + three probes — the deploy
# probe cost is the x3_knn_join row) and
# x4_logreg_calibration (sf1 coverage via x4_logreg_train's shared
# trajectory), lc_snapshot_sync (diff + two merges in a scratch
# lake; the data-path costs are merge_cdc_apply's standing anchors),
# lc_unique_constraint (seven engine ops in a scratch
# lake — the enforcement costs are one batch agg + the bloom probe,
# both already anchored) and lc_join_view_refresh (scratch-lake lifecycle:
# three curated writes + snapshot retention dominate; the refresh's
# data-path costs are the CDF full-outer join already timed by
# lc_table_changes' anchors plus one change-sized broadcast join).


def _host_calibration(spark) -> dict:
    """Fixed-work host-speed probes (round 13, additive): this shared
    box shows multi-minute windows of ~3-5× uniform slowdown on
    identical code (hypervisor steal — BASELINE.md noise band).
    Recording a deterministic single-core Python loop and a fixed
    Spark parallel aggregate beside every bench run lets a reader
    normalize run-to-run comparisons. Pure addition — no existing
    number changes meaning."""
    t0 = time.perf_counter()
    s = 0
    for i in range(10_000_000):
        s += i
    py_sec = round(time.perf_counter() - t0, 3)
    from pyspark.sql import functions as F

    df = spark.range(200_000_000).select(F.sum(F.col("id") * 2 + 1))
    df.collect()  # warm
    t0 = time.perf_counter()
    df.collect()
    return {"python_singlecore_sec": py_sec,
            "spark_parallel_sum_sec": round(time.perf_counter() - t0, 3)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark("bench")

    calib_start = _host_calibration(spark)
    names = [n for n, q in REGISTRY.items() if q.bench]
    timings, broken = _run_pass(spark, sf_dir, names)

    total = round(sum(timings.values()), 3)
    queries_out: dict = dict(timings)
    for name, err in broken.items():
        queries_out[name] = {"err": err}
    result = {
        "metric": "headline_queries_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": queries_out,
        "sf": float(sf),
        "host_calibration": {"at_start": calib_start},
    }

    # Table-format tier (VERDICT r5 #5): DML/MERGE/Z-order wall times
    # at orders scale, in their own block — the headline total keeps
    # the rounds-1-5 query set so the baseline ratio stays meaningful.
    if os.environ.get("SPARK_GRAFT_SKIP_TABLE_OPS") != "1":
        result["table_ops"] = _run_table_ops_pass(spark, sf_dir)
        result["dedup_skew"] = _run_dedup_skew_pass(spark, sf_dir)
        # Round-6 surfaces (SemDeDup, Gopher gates) get tracked wall
        # times BEFORE they rotate into certification — their own block
        # so the headline total keeps the rounds-1-5 query set and the
        # baseline ratio stays meaningful. Standing reference for this
        # block: BASELINE.md "new_surfaces" section (r7 driver sf1 +
        # judge sf0.1 numbers) — regressions judged at the same 2×
        # bound as the headline set.
        ns_t, ns_b = _run_pass(
            spark, sf_dir, NEW_SURFACE_QUERIES + NEW_SURFACE_QUERIES_SF01_ONLY
        )
        result["new_surfaces"] = dict(ns_t) | {n: {"err": e} for n, e in ns_b.items()}

    # Second scale point: a single SF cannot separate fixed overhead
    # from scaling slope. If the 10×-scaled dataset exists (built once
    # by scripts/make_scaled_sf.py; never generated inline so the
    # primary bench can't be starved), time the same headliners there
    # and report the slope alongside. Any sf1 failure degrades to an
    # error note — the primary sf0.1 numbers are never at risk.
    sf1_dir = os.environ.get(
        "SPARK_GRAFT_SF1_DIR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_sf1"),
    )
    if os.environ.get("SPARK_GRAFT_SKIP_SF1") != "1" and os.path.isdir(sf1_dir):
        try:
            t1, b1 = _run_pass(spark, sf1_dir, names, warm=False)  # JVM already warm
            shared = [n for n in t1 if n in timings and timings[n] > 0]
            result["sf1"] = {
                "total_sec": round(sum(t1.values()), 3),
                "queries": t1,
                "errors": b1,
                "sf": 1.0,
                # wall-time ratio per 10× data — ≤10 means sublinear-or-
                # linear scaling; the per-query slope is the real signal
                "slope_vs_sf0.1": {
                    n: round(t1[n] / timings[n], 2) for n in shared
                },
            }
            if os.environ.get("SPARK_GRAFT_SKIP_TABLE_OPS") != "1":
                t_ops = _run_table_ops_pass(spark, sf1_dir)
                base_ops = result.get("table_ops", {})
                t_ops["slope_vs_sf0.1"] = {
                    n: round(t_ops[n] / base_ops[n], 2)
                    for n in t_ops
                    if isinstance(t_ops.get(n), float)
                    and isinstance(base_ops.get(n), float)
                    and base_ops[n] > 0
                }
                result["sf1"]["table_ops"] = t_ops
                ns1_t, _ns1_b = _run_pass(spark, sf1_dir, NEW_SURFACE_QUERIES, warm=False)
                base_ns = result.get("new_surfaces", {})
                ns1_t["slope_vs_sf0.1"] = {
                    n: round(ns1_t[n] / base_ns[n], 2)
                    for n in ns1_t
                    if isinstance(ns1_t.get(n), float)
                    and isinstance(base_ns.get(n), float)
                    and base_ns[n] > 0
                }
                result["sf1"]["new_surfaces"] = ns1_t
        except Exception as e:  # noqa: BLE001
            result["sf1"] = {"error": f"{type(e).__name__}: {str(e)[:200]}"}

    result["host_calibration"]["at_end"] = _host_calibration(spark)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
