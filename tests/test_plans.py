"""Plan-shape assertions (SURVEY §4.2 / "push down and prune") and the
scan-budget guardrail — pins that the physical plans stay the ones
we'd want at 100 TB, not just ones that pass."""

from __future__ import annotations

import pytest

from cbts_datalake_synnex_spark.plans import (
    ScanBudgetExceeded,
    check_scan_budget,
    pushed_filters,
    read_schema,
)
from cbts_datalake_synnex_spark.plans.budget import estimate_scan_bytes
from cbts_datalake_synnex_spark.workload import REGISTRY


def test_filter_pushed_to_scan(spark, sf_dir):
    df = REGISTRY["p2_filter_projection"].fn(spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "o_orderstatus" in pushed and "o_totalprice" in pushed


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = REGISTRY["p2_filter_projection"].fn(spark, sf_dir)
    cols = set(read_schema(df))
    assert cols == {"o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"}


def test_q1_prunes_to_needed_columns(spark, sf_dir):
    df = REGISTRY["a2_pricing_summary"].fn(spark, sf_dir)
    cols = set(read_schema(df))
    # 16-column lineitem must scan only the 7 referenced columns
    assert cols == {
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_shipdate",
    }


def test_broadcast_join_in_plan(spark, sf_dir):
    from cbts_datalake_synnex_spark.plans.inspect import explain_str

    df = REGISTRY["j2_broadcast_dim_join"].fn(spark, sf_dir)
    assert "BroadcastHashJoin" in explain_str(df, "simple")


def test_single_shuffle_plans(spark, sf_dir):
    """The operators designed around 'ONE shuffle + one window pass'
    (sessionize, as-of join) must actually plan that way — a second
    exchange here is the difference between working and not working at
    100 TB (SURVEY §2.5 J6 / t_sessionize docstrings)."""
    import re

    from cbts_datalake_synnex_spark.plans.inspect import explain_str

    for name, max_ex, max_sort in [
        ("t_sessionize", 1, 1),  # both windows + final agg reuse one user_id exchange
        ("j6_asof_join", 1, 1),  # union + window: one shuffle, one sort
        ("a2_pricing_summary", 1, 0),  # partial/final hash-agg, no sort
        ("j2_broadcast_dim_join", 1, 0),  # dims broadcast; only the agg shuffles
    ]:
        txt = explain_str(REGISTRY[name].fn(spark, sf_dir), "simple")
        n_ex = len(re.findall(r"Exchange hashpartitioning", txt))
        n_sort = len(re.findall(r"\bSort\b", txt))
        assert n_ex <= max_ex, f"{name}: {n_ex} hash exchanges (max {max_ex})"
        assert n_sort <= max_sort, f"{name}: {n_sort} sorts (max {max_sort})"


def test_functions_ext_plan_shapes(spark, sf_dir):
    """Round-2 additions hold the same discipline: scalar families are
    zero-exchange scan projections; stat/bitwise/array aggregates are
    partial+final with exactly one exchange; the sliding window Expands
    (2 windows/row) into one hash agg; the session window plans as the
    native partial-agg → single exchange → MergingSessions chain."""
    import re

    from cbts_datalake_synnex_spark.plans.inspect import explain_str

    for name, max_ex, max_sort in [
        ("f_stats_funcs", 1, 0),
        ("f_bitwise_funcs", 1, 0),
        ("f_array_agg_funcs", 1, 0),
        ("f_interval_funcs", 0, 0),
        ("f_string_regex_funcs", 0, 0),
        ("t_sliding_window", 1, 0),
        ("t_session_window", 1, 1),  # sort feeds MergingSessions
    ]:
        txt = explain_str(REGISTRY[name].fn(spark, sf_dir), "simple")
        n_ex = len(re.findall(r"Exchange hashpartitioning", txt))
        n_sort = len(re.findall(r"\bSort\b", txt))
        assert n_ex <= max_ex, f"{name}: {n_ex} hash exchanges (max {max_ex})"
        assert n_sort <= max_sort, f"{name}: {n_sort} sorts (max {max_sort})"
    txt = explain_str(REGISTRY["t_session_window"].fn(spark, sf_dir), "simple")
    assert "MergingSessions" in txt


def test_scan_budget_guardrail(spark, sf_dir):
    df = REGISTRY["a1_count_star"].fn(spark, sf_dir)
    scanned = check_scan_budget(df)  # default 100 GiB — sf data passes
    assert scanned > 0
    with pytest.raises(ScanBudgetExceeded):
        check_scan_budget(df, budget_bytes=10)


def test_partition_pruning_reduces_estimate(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "part")
    spark.range(1000).withColumn("p", (F.col("id") % 4).cast("int")).write.partitionBy(
        "p"
    ).parquet(path)
    full = estimate_scan_bytes(spark.read.parquet(path))
    pruned = estimate_scan_bytes(spark.read.parquet(path).filter("p = 1"))
    assert 0 < pruned < full


def test_q6_shape_is_pure_scan(spark, sf_dir):
    """TPC-H Q6 shape: every predicate pushed to the parquet reader,
    only the 4 referenced columns scanned, zero wide shuffles — the
    scan-throughput floor a 100 TB plan must hit."""
    import re

    from cbts_datalake_synnex_spark.plans.inspect import explain_str

    df = REGISTRY["a2_revenue_forecast"].fn(spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed to scan"
    assert set(read_schema(df)) == {
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_shipdate",
    }
    txt = explain_str(df, "simple")
    assert not re.findall(r"Exchange hashpartitioning", txt)


def test_wide_join_sweep_broadcasts_dims(spark, sf_dir):
    """Q8/Q9 shapes: every dimension side must broadcast (no
    sort-merge against a dim, no cartesian product); fact-side
    shuffles stay bounded."""
    import re

    from cbts_datalake_synnex_spark.plans.inspect import explain_str

    for name, min_bhj, max_ex in [
        ("j_market_share", 4, 3),
        ("j_product_profit", 3, 3),
    ]:
        txt = explain_str(REGISTRY[name].fn(spark, sf_dir), "simple")
        n_bhj = len(re.findall(r"BroadcastHashJoin", txt))
        n_ex = len(re.findall(r"Exchange hashpartitioning", txt))
        assert n_bhj >= min_bhj, f"{name}: only {n_bhj} broadcast joins"
        assert n_ex <= max_ex, f"{name}: {n_ex} hash exchanges (max {max_ex})"
        assert "CartesianProduct" not in txt


def test_banded_interval_join_avoids_nested_loop(spark, sf_dir):
    """The keyless range join MUST plan as a hash/broadcast-hash join
    on the derived band id — a BroadcastNestedLoopJoin here is the
    quadratic plan the rewrite exists to eliminate."""
    from cbts_datalake_synnex_spark.plans.inspect import explain_str

    txt = explain_str(REGISTRY["j5_banded_interval_join"].fn(spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" not in txt
    assert "CartesianProduct" not in txt
    assert "Join" in txt  # it IS still a join, on the band key


def test_embedding_near_dup_avoids_nested_loop(spark, sf_dir):
    """x3_embedding_near_dup must plan as equi-joins on (table, sig)
    buckets plus the verification hash joins — the moment a
    BroadcastNestedLoopJoin/CartesianProduct appears, the brute-force
    O(N²) theta join has leaked back into the registry path."""
    from cbts_datalake_synnex_spark.plans.inspect import explain_str

    txt = explain_str(REGISTRY["x3_embedding_near_dup"].fn(spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" not in txt
    assert "CartesianProduct" not in txt
    assert "Join" in txt


def test_span_dedup_plan_is_three_keyed_shuffles_no_joins(spark, sf_dir):
    """x2_span_dedup's contract: hash-agg (doc,seg) → span window → doc
    hash-agg. Exactly three hashpartitioning exchanges, zero joins —
    a join appearing here means the first-occurrence marking regressed
    to a candidate self-join."""
    import re

    from cbts_datalake_synnex_spark.plans.inspect import explain_str

    txt = explain_str(REGISTRY["x2_span_dedup"].fn(spark, sf_dir), "simple")
    assert len(re.findall(r"Exchange hashpartitioning", txt)) == 3, txt
    assert "Join" not in txt


def test_winnow_fingerprint_plan_is_pure_projection(spark, sf_dir):
    """x4_winnow_fingerprint is scan → project (higher-order funcs) →
    explode: any exchange means the fingerprint stopped being
    scan-bound."""
    import re

    from cbts_datalake_synnex_spark.plans.inspect import explain_str

    txt = explain_str(REGISTRY["x4_winnow_fingerprint"].fn(spark, sf_dir), "simple")
    assert not re.findall(r"Exchange hashpartitioning", txt)
    assert "Join" not in txt


def test_dq_expectations_plan_is_single_aggregate_pass(spark, sf_dir):
    """dq_expectations evaluates every rule in ONE scan: exactly one
    partial/final aggregate pair (single-partition exchange), no
    joins/unions — a per-rule pass would show up as extra scans."""
    from cbts_datalake_synnex_spark.plans.inspect import explain_str

    txt = explain_str(REGISTRY["dq_expectations"].fn(spark, sf_dir), "simple")
    assert txt.count("Scan parquet") == 1, txt
    assert "Join" not in txt and "Union" not in txt


def test_pq_topk_avoids_nested_loop(spark, sf_dir):
    """pq_topk must stay equi-join-shaped (broadcast ADC lookup +
    shortlist re-rank joins); BroadcastNestedLoopJoin/CartesianProduct
    would mean the ADC table stopped joining on (sub, code). Pinned on
    the raw operator — the x3_pq_topk registry entry wraps it in the
    verification report whose one-row anchor crossJoins are legitimate
    nested loops by construction."""
    from pyspark.sql import functions as F

    from cbts_datalake_synnex_spark.operators import similarity
    from cbts_datalake_synnex_spark.plans.inspect import explain_str
    from cbts_datalake_synnex_spark.workload.base import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    df = similarity.pq_topk(emb, queries, id_col="vec_id", vec_col="embedding", k=5)
    txt = explain_str(df, "simple")
    assert "CartesianProduct" not in txt
    # the only nested loops allowed are the one-row codebook-tensor
    # attaches (broadcast data, O(N·1) Cross with a single-row build
    # side) — never pairwise scoring
    assert txt.count("BroadcastNestedLoopJoin") <= 3, txt
    assert "BroadcastHashJoin" in txt  # the ADC lookup joins on (sub, code)


def test_runtime_bloom_filter_injects_on_selective_shuffle_join(spark, sf_dir):
    """Session posture arms runtime bloom-filter semi-join reduction;
    at 100 TB scale it fires on its own size thresholds. Pin the
    mechanism here with thresholds scaled to testdata: a selective
    filter on orders must inject bloom_filter_agg / BloomFilterMightContain
    into the lineitem probe side of the shuffle join."""
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the shuffle join
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_totalprice") > 400000
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        from cbts_datalake_synnex_spark.plans.inspect import explain_str

        txt = explain_str(j, "simple")
        assert "bloom_filter_agg" in txt, txt[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ----------------------------------------------------------------------
# Bench-headliner join-strategy pins (VERDICT r4 #3): every bench query
# must carry a plan pin so BENCH_r{N} regressions with a changed plan
# shape trip a test, not just a timing delta. The coverage assertion
# makes adding a bench=True query without a pin a test failure.
_BENCH_PLAN_PINS = {
    # name: (require substrings, forbid substrings, max BroadcastNestedLoopJoin)
    "a2_pricing_summary": (["HashAggregate"], ["Join"], 0),
    "a2_revenue_forecast": (["HashAggregate"], ["Join"], 0),
    "j_product_profit": (["BroadcastHashJoin"], ["SortMergeJoin", "CartesianProduct"], 0),
    "t_sessionize": ([], ["Join"], 0),
    "j2_broadcast_dim_join": (["BroadcastHashJoin"], ["SortMergeJoin", "CartesianProduct"], 0),
    "j1_regional_revenue": (["BroadcastHashJoin"], ["SortMergeJoin", "CartesianProduct"], 0),
    "j6_asof_join": ([], ["Join"], 0),  # union + window, zero joins
    "j1_inner_join_topn": (
        ["BroadcastHashJoin", "TakeOrderedAndProject"],
        ["CartesianProduct"],
        0,
    ),
    "w1_rank_topk_per_group": (["WindowGroupLimit"], ["Join"], 0),
    "f_math_funcs": ([], ["Join"], 0),
    "f_array_funcs": ([], ["Join"], 0),
    "j_disjunctive_filter": (["BroadcastHashJoin"], ["CartesianProduct"], 0),
    "x1_exact_dedup": (["HashAggregate"], ["Join"], 0),
    # broadcast query side IS the design (bounded |Q| nested loop)
    "x3_cosine_topk": (["WindowGroupLimit"], ["CartesianProduct"], 1),
    # one-row corpus-count attach (in-plan N, no separate count job)
    "x4_tfidf_top_terms": (["WindowGroupLimit"], ["CartesianProduct"], 1),
    "pipeline_training_set": (["BroadcastHashJoin"], ["CartesianProduct"], 0),
    # LSH + exact twin + verification report: equi-joins only
    "x2_minhash_lsh_pairs": (["BroadcastHashJoin"], ["CartesianProduct"], 0),
}


def test_every_bench_query_has_a_plan_pin():
    bench = {n for n, q in REGISTRY.items() if q.bench}
    assert bench == set(_BENCH_PLAN_PINS), (
        f"bench/pin drift: missing pins {bench - set(_BENCH_PLAN_PINS)}, "
        f"stale pins {set(_BENCH_PLAN_PINS) - bench}"
    )


@pytest.mark.parametrize("name", sorted(_BENCH_PLAN_PINS))
def test_bench_query_plan_shape(name, spark, sf_dir):
    from cbts_datalake_synnex_spark.plans.inspect import explain_str

    require, forbid, max_bnlj = _BENCH_PLAN_PINS[name]
    txt = explain_str(REGISTRY[name].fn(spark, sf_dir), "simple")
    for pat in require:
        assert pat in txt, f"{name}: expected {pat} in plan\n{txt[:2000]}"
    for pat in forbid:
        assert pat not in txt, f"{name}: forbidden {pat} in plan\n{txt[:2000]}"
    assert txt.count("BroadcastNestedLoopJoin") <= max_bnlj, txt[:2000]


def test_round6_operator_plan_shapes(spark, sf_dir):
    """Round-6 additions: SemDeDup is equi-joins + one-row centroid
    broadcasts only (no cartesian anywhere — the within-cell join keys
    on cell id); BPE pair stats is a pure explode→hash-agg→top-k plan
    with no join at all."""
    from cbts_datalake_synnex_spark.plans.inspect import explain_str

    sem = explain_str(REGISTRY["x3_semantic_dedup"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in sem
    assert "InMemoryTableScan" in sem  # shared frames computed once

    bpe = explain_str(REGISTRY["x4_bpe_pair_stats"].fn(spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in bpe
    assert "Join" not in bpe
    assert "CartesianProduct" not in bpe


def test_round7_operator_plan_shapes(spark, sf_dir):
    """Round-7 additions: the hygiene pipeline is ONE aggregate pass
    over a pure projection (no join, no window — the PII counts ride
    the same folded agg); repetition flags are hash aggregates + one
    doc-keyed join, never a cartesian; the leakage split's clustering
    fixpoint and md5 assignment stay equi-join/agg shaped; admission's
    probe-only candidate path has no cartesian and no corpus↔corpus
    self-join artifacts."""
    from cbts_datalake_synnex_spark.plans.inspect import explain_str

    hyg = explain_str(REGISTRY["pipeline_corpus_hygiene"].fn(spark, sf_dir), "simple")
    assert "Join" not in hyg and "Window" not in hyg
    assert "HashAggregate" in hyg

    rep = explain_str(REGISTRY["x4_repetition_flags"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in rep
    assert "HashAggregate" in rep
    assert "Window" not in rep  # top-gram via max(struct), no window

    spl = explain_str(REGISTRY["pipeline_leakage_safe_split"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in spl

    adm = explain_str(REGISTRY["pipeline_incremental_admission"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in adm


def test_round7c_operator_plan_shapes(spark, sf_dir):
    """Round-7 second-wave additions: the NB argmax is a hash
    aggregate (no window sort) with broadcast model joins; DSIR and
    PSI never go cartesian; the kNN join and MMR/FFD greedy stages
    execute as cogrouped/grouped pandas stages with no broadcast of
    either big side; Gumbel resampling and the Zipf head are
    TakeOrderedAndProject, never a global sort of the corpus."""
    from pyspark.sql import functions as F

    from cbts_datalake_synnex_spark.operators import packing, similarity
    from cbts_datalake_synnex_spark.plans.inspect import explain_str
    from cbts_datalake_synnex_spark.workload.base import load_table

    nb = explain_str(REGISTRY["x4_nb_classifier"].fn(spark, sf_dir), "simple")
    # the ONLY window is the |labels|-row prior normalizer; the per-doc
    # argmax itself is a min(struct) hash aggregate, never a sort
    assert nb.count("Window") <= 1
    assert "CartesianProduct" not in nb
    assert "BroadcastHashJoin" in nb   # model joins broadcast

    dsir = explain_str(REGISTRY["pipeline_dsir_weights"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in dsir
    assert "HashAggregate" in dsir

    psi = explain_str(REGISTRY["dq_psi_drift"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in psi

    emb = load_table(spark, sf_dir, "embeddings")
    knn = explain_str(
        similarity.knn_join(emb, emb.limit(50), id_col="vec_id", vec_col="embedding", k=3),
        "simple",
    )
    assert "FlatMapCoGroupsInPandas" in knn  # per-cell GEMM join
    assert "CartesianProduct" not in knn

    zipf = explain_str(REGISTRY["x4_corpus_zipf"].fn(spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in zipf   # head, not a vocab window

    resample = explain_str(REGISTRY["pipeline_dsir_resample"].fn(spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in resample

    docs = load_table(spark, sf_dir, "documents")
    ffd = explain_str(
        packing.ffd_pack(
            docs.withColumn("shard", (F.col("doc_id") % 4).cast("int")),
            "text", "shard", "doc_id", budget=128,
        ),
        "simple",
    )
    assert "FlatMapGroupsInPandas" in ffd

    scd2 = explain_str(REGISTRY["cdc_scd2_apply"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in scd2
    assert "Window" in scd2            # the one key-window, by design


def test_round8_operator_plan_shapes(spark, sf_dir):
    """Round-8 additions: the composed retrieve→rerank keeps BOTH
    scale contracts in composition — the kNN stage is the cogrouped
    per-cell GEMM, the MMR stage is a per-query grouped pandas stage,
    and no broadcast carries the full vector table (the pool-side
    intermediates are the only broadcast inputs — the round-8
    exact_rescore/mmr fix)."""
    from cbts_datalake_synnex_spark.plans.inspect import explain_str

    # the registry fn localCheckpoints the pool (the report reads it in
    # five branches), which truncates lineage — pin the composition's
    # shape at the operator level instead, exactly as the query builds it
    from cbts_datalake_synnex_spark.operators import similarity as _sim
    from cbts_datalake_synnex_spark.workload.base import load_table as _lt

    _emb = _lt(spark, sf_dir, "embeddings")
    _pool = _sim.knn_join(
        _emb, _emb.filter("vec_id % 5 = 0"), id_col="vec_id", vec_col="embedding",
        k=20, n_cells=16, n_probe=6, n_assign=2,
    )
    _mmr = _sim.mmr_rerank(_pool, _emb, id_col="vec_id", vec_col="embedding", k=5, lambda_=0.7)
    rr = explain_str(_mmr, "simple")
    assert "FlatMapCoGroupsInPandas" in rr    # kNN per-cell GEMM
    assert "MapInPandas" in rr                # MMR per-query greedy, batched
    assert "CartesianProduct" not in rr
    # and the registry report itself stays cartesian-free
    rr_q = explain_str(REGISTRY["pipeline_retrieve_rerank"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in rr_q

    # classifier eval: pure aggregates + broadcast model joins — the
    # AUC rank walk happens on the grouped score distribution, and
    # nothing python-side enters the plan
    ce = explain_str(REGISTRY["pipeline_classifier_eval"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in ce
    assert "InPandas" not in ce and "BatchEvalPython" not in ce

    # ccnet buckets: cutoffs from the compacted distribution, docs
    # joined back via broadcast — no cartesian, no python
    cb = explain_str(REGISTRY["x4_ccnet_buckets"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in cb
    assert "InPandas" not in cb and "BatchEvalPython" not in cb

    # hard negatives, GEMM lane: one mapInPandas over the candidate
    # stream (the collected query block rides inside the plan, never a
    # broadcast of the corpus), then the bounded global window
    from cbts_datalake_synnex_spark.operators import similarity
    from cbts_datalake_synnex_spark.workload.base import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    hn = explain_str(
        similarity.hard_negatives(
            emb, emb.filter("vec_id % 25 = 0"), "vec_id", "embedding", "label",
            engine="arrow",
        ),
        "simple",
    )
    assert "MapInPandas" in hn
    assert "CartesianProduct" not in hn

    # random projection: the sign table joins in as a broadcast; the
    # corpus side is one hash aggregate — no explode-by-k, no python
    rp = explain_str(REGISTRY["x3_random_projection"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in rp
    assert "InPandas" not in rp and "CartesianProduct" not in rp


def test_round12_late_single_shuffle_shapes(spark, sf_dir):
    """Round-12 late additions: the docstring claims 'ONE shuffle on
    the analysis key carries everything downstream' — pin it. A
    second exchange on these shapes is the 100 TB regression."""
    import re

    from cbts_datalake_synnex_spark.plans.inspect import explain_str

    for name, max_ex in [
        ("t_interval_union", 1),   # both windows + both aggs on user_id
        ("t_time_weighted_avg", 1),  # lead window + agg on user_id
        ("t_ohlc_bars", 1),        # single hash agg on (user, bar)
        ("x1_url_dedup", 1),       # one min-agg on the canonical key
    ]:
        txt = explain_str(REGISTRY[name].fn(spark, sf_dir), "simple")
        n_ex = len(re.findall(r"Exchange hashpartitioning", txt))
        assert n_ex <= max_ex, f"{name}: {n_ex} hash exchanges (max {max_ex})"
