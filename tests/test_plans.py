"""Physical-plan audits: the optimizations we rely on for 100 TB scale
must actually appear in the executed plan — parquet predicate pushdown,
column pruning, broadcast joins for dims, TakeOrderedAndProject for
top-k, and no Python row-eval nodes in JVM-only queries. Catching a
regression here is catching a 100× slowdown before it ships.

These are invariants: they hold whatever the budget says. Exact
per-query counts (exchanges, joins by kind, Python eval, single-partition
windows, scans per table) are gated for the whole registry by
``test_plan_budget.py``, whose file an intended plan change rewrites."""

from __future__ import annotations

import pytest

from insurance_claim_data_pipeline_spark import registry

SPECS = registry.all_specs()


def physical_plan(spark, sf_dir, name: str) -> str:
    return SPECS[name].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_q1_pushdown_and_pruning(spark, sf_dir):
    plan = physical_plan(spark, sf_dir, "q1_pricing_summary")
    # filter reaches the parquet scan
    assert "LessThanOrEqual(l_shipdate" in plan
    # column pruning: unused lineitem columns never leave the scan
    assert "l_partkey" not in plan
    assert "l_suppkey" not in plan
    assert "HashAggregate" in plan


def test_q3_broadcasts_and_topk(spark, sf_dir):
    plan = physical_plan(spark, sf_dir, "q3_shipping_priority")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "EqualTo(c_mktsegment,BUILDING)" in plan  # dim filter pushed to scan
    assert "TakeOrderedAndProject" in plan  # top-10 never global-sorts


def test_global_topk_is_take_ordered(spark, sf_dir):
    plan = physical_plan(spark, sf_dir, "sort_topk_global")
    assert "TakeOrderedAndProject" in plan


JVM_ONLY_QUERIES = [
    # round-4 continuation ops (codegen-only + no cartesian gates)
    "sort_hilbert_interleave",
    "events_watermark_lateness",
    "events_watermark_finalized",
    "stats_perm_test_bh",
    "events_attribution_ushape",
    "events_attribution_shapley",
    "events_m4_downsample",
    "text_kneser_ney_bigrams",
    "text_watermark_detect",
    "text_dsir_importance",
    "mlfeat_decision_stump",
    "stats_ols_normal_equations",
    "stats_fixed_effects_ols",
    "feat_target_encode_cv",
    "feat_calibration_ece",
    "privacy_k_anonymity",
    "privacy_l_diversity",
    "er_blocking_budget",
    "sink_compaction_plan",
    "sink_vacuum_plan",
    "warehouse_deletion_vectors",
    "multimodal_patch_layout",
    "stats_benford_screen",
    "stats_tost_equivalence",
    "profile_join_skew_planner",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "events_tumbling_window",
    "events_sessionize",
    "join_asof_last_error",
    "window_order_stats",
    "text_langid",
    "text_quality_score",
    "text_bigram_logprob",
    "text_repetition_filter",
    "text_contamination",
    "pack_concat_chunks",
    "emb_pq_encode",
    "sim_topk_pq",
    "graph_pagerank",
    "sample_mixture_weights",
    # round-2 additions — all pure Column/SQL expressions
    "events_retention_cohorts",
    "events_funnel_steps",
    "events_rolling_distinct_users",
    "events_gap_fill_locf",
    "events_anomaly_zscore",
    "events_dwell_time",
    "agg_histogram",
    "text_chunk_overlap",
    "dedup_containment_ngram",
    "graph_triangle_copurchase",
    "warehouse_incremental_agg",
    "dq_violations",
    "join_fuzzy_levenshtein",
    "unpivot_metrics",
    "window_distribution_funcs",
    "scalar_null_funcs",
    "events_enriched_purchases",
    "orders_rfm_segmentation",
    "events_markov_transitions",
    "basket_association_rules",
    "scalar_bitwise_funcs",
    "agg_argminmax",
    "llm_prep_pipeline",
    "text_bm25_topk",
    "events_autocorrelation",
    "events_linear_trend",
    "drift_psi_orders",
    "orders_cohort_ltv",
    "lineitem_pareto_abc",
    # round-4 session additions — all pure Column/SQL expressions
    "agg_hll_deterministic",
    "join_bloom_prefilter",
    "sort_zorder_interleave",
    "events_interval_coverage",
    "sample_systematic_weighted",
    "text_vocab_coverage",
    "sink_shard_manifest",
    "emb_pca_power_iteration",
    "profile_ndv_hll",
    "agg_ddsketch_quantiles",
    "multimodal_phash_buckets",
    "emb_gram_matrix",
    "join_asof_nearest",
    "agg_countmin_deterministic",
    # round-4 additions (mlfeat / stats / drift / text / graph /
    # sketches) — all pure Column/SQL expressions
    "feat_scale_numeric",
    "feat_categorical_encode",
    "feat_target_encode",
    "feat_hashing_vectorize",
    "feat_quantile_bin",
    "feat_woe_iv",
    "stats_welch_ttest",
    "stats_chi2_independence",
    "stats_corr_matrix",
    "stats_skew_kurtosis",
    "drift_ks_twosample",
    "events_kl_drift",
    "events_hourly_entropy",
    "orders_open_concurrency",
    "text_rake_keywords",
    "text_pmi_bigrams",
    "graph_degree_distribution",
    "agg_kmv_distinct",
    # round-4 late-session additions — all pure Column/SQL expressions
    "sim_topk_ivfpq",
    "emb_pca_project",
    "text_span_dedup",
    "text_perplexity_buckets",
    "stats_mann_whitney",
    "stats_spearman_corr",
    "stats_lift_bootstrap_ci",
    "sample_temperature_mixture",
    "graph_kcore",
    "curation_prep_pipeline",
    # round-4 final-batch additions — all pure Column/SQL expressions
    "dedup_cdc_chunks",
    "text_block_dedup",
    "text_quality_hashclf",
    "stats_theil_sen_slope",
    "join_asof_interpolate",
    "dedup_weighted_jaccard",
    "events_cep_pattern",
    "sort_exact_median_twopass",
    # round-4 third-session additions — all pure Column/SQL expressions
    "privacy_t_closeness",
    "privacy_dp_counts",
    "emb_kmeans_lloyd_step",
    "text_naive_bayes",
    "graph_label_propagation",
    "events_periodogram",
    "stats_two_proportion_ztest",
    "sink_bloom_index_stats",
    "text_train_novelty",
    "mlfeat_gbm_rounds",
    "drift_wasserstein_orders",
]


@pytest.mark.parametrize("name", JVM_ONLY_QUERIES)
def test_no_python_eval_in_jvm_queries(spark, sf_dir, name):
    """Hot-path queries must stay JVM-side: a BatchEvalPython /
    ArrowEvalPython node means a Python UDF crept in."""
    plan = physical_plan(spark, sf_dir, name)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


@pytest.mark.parametrize("name", JVM_ONLY_QUERIES)
def test_no_cartesian_product(spark, sf_dir, name):
    plan = physical_plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan


SF01 = "/root/testdata/sf0.1"


def test_key_plans_hold_at_sf01(spark):
    """Broadcast/pushdown decisions come from statistics — assert the
    bench-scale (sf0.1) plans keep the properties the tiny-SF audits
    check, so a threshold regression can't hide behind small inputs."""
    q1 = physical_plan(spark, SF01, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in q1
    q3 = physical_plan(spark, SF01, "q3_shipping_priority")
    assert q3.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in q3
    q5 = physical_plan(spark, SF01, "q5_local_supplier_volume")
    assert q5.count("BroadcastHashJoin") >= 3
    for name in ("dedup_minhash_lsh", "dedup_ngram_jaccard"):
        plan = physical_plan(spark, SF01, name)
        assert "BatchEvalPython" not in plan and "CartesianProduct" not in plan
    # round-4 flagships: broadcast/probe shapes must hold at bench scale
    # too (broadcast selection is statistics-driven)
    ivfpq = physical_plan(spark, SF01, "sim_topk_ivfpq")
    assert ivfpq.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in ivfpq
    span = physical_plan(spark, SF01, "text_span_dedup")
    assert "BatchEvalPython" not in span and "CartesianProduct" not in span
    import re as _re

    for m in _re.finditer(r"Window \[[^\]]*\], \[(?P<part>[^\]]*)\], \[[^\]]*\]", span):
        assert m.group("part").strip() != ""
    mw = physical_plan(spark, SF01, "stats_mann_whitney")
    for m in _re.finditer(r"Window \[[^\]]*\], \[(?P<part>[^\]]*)\], \[[^\]]*\]", mw):
        assert m.group("part").strip() != ""


def test_q7_broadcasts_and_pushdown(spark, sf_dir):
    plan = physical_plan(spark, sf_dir, "q7_volume_shipping")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan
    # shipdate range reaches the lineitem scan; nation-name filter
    # reaches the nation scans (broadcast sides pre-filtered)
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "In(n_name" in plan


def test_q8_broadcasts_and_pushdown(spark, sf_dir):
    plan = physical_plan(spark, sf_dir, "q8_market_share")
    assert plan.count("BroadcastHashJoin") >= 6
    assert "CartesianProduct" not in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "EqualTo(p_type,ECONOMY)" in plan


def test_q6_pushdown_single_scan(spark, sf_dir):
    plan = physical_plan(spark, sf_dir, "q6_forecast_revenue")
    # all three predicates reach the scan (the PushedFilters list is
    # truncated in toString(), so match the Filter node's text)
    assert "GreaterThanOrEqual(l_shipda" in plan
    assert ">= 0.05)" in plan and "<= 0.07)" in plan
    assert "< 24.0)" in plan
    # column pruning: join keys never leave the scan
    assert "l_partkey" not in plan
    assert "Join" not in plan


def test_q10_topk_and_broadcasts(spark, sf_dir):
    plan = physical_plan(spark, sf_dir, "q10_returned_items")
    assert "TakeOrderedAndProject" in plan  # top-20, never a global sort
    assert plan.count("BroadcastHashJoin") >= 2  # customer + nation
    assert "EqualTo(l_returnflag,R)" in plan  # fact filter pushed to scan


def test_q13_outer_join_keeps_zero_order_customers(spark, sf_dir):
    plan = physical_plan(spark, sf_dir, "q13_customer_distribution")
    # the priority exclusion must be a join-side condition on an OUTER
    # join; an inner join here silently drops the zero-order bucket
    assert "LeftOuter" in plan or "RightOuter" in plan
    assert "CartesianProduct" not in plan


def test_q16_anti_join_is_broadcast(spark, sf_dir):
    plan = physical_plan(spark, sf_dir, "q16_supplier_counts")
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan  # NOT IN ran as anti join, not a filter scan
    # part predicates pushed into the broadcast build side's scan
    assert "IN (1,5,9,15,23,29,36,45)" in plan


def test_q19_predicate_decomposition(spark, sf_dir):
    plan = physical_plan(spark, sf_dir, "q19_discounted_revenue")
    # Catalyst derives the quantity-only OR-of-bands for the lineitem
    # scan and the brand/size-only disjunction for the part scan
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)" in plan
    assert "= Brand#12)" in plan and "= Brand#23)" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_contamination_benchmark_side_broadcast(spark, sf_dir):
    """The benchmark shingle set must be the broadcast side — the corpus
    side streaming through a BroadcastHashJoin with no shuffle before it
    is the whole scale story of the decontamination pass."""
    plan = physical_plan(spark, sf_dir, "text_contamination")
    assert "BroadcastHashJoin" in plan
    # probe subtree prints between the join node and the BroadcastExchange
    # build side: scan → explode → join, with no shuffle exchange
    probe_part = plan.split("BroadcastHashJoin")[1].split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in probe_part


def test_pack_offsets_broadcast_join(spark, sf_dir):
    """The bucket-offset frame joins back via broadcast; the only
    unpartitioned window runs over the tiny bucket-totals aggregate
    (post-HashAggregate), never over the full document frame."""
    plan = physical_plan(spark, sf_dir, "pack_concat_chunks")
    assert "BroadcastHashJoin" in plan
    # the global (unpartitioned) window sits downstream of the bucket
    # aggregate: every Window node above the broadcast join input must
    # follow a HashAggregate in the same subtree
    assert "Window" in plan


def test_merge_upsert_no_cartesian_broadcast_anti(spark, sf_dir):
    """MERGE: the full-outer join must be a key join (SMJ — full outer
    cannot broadcast), the delete filter a broadcast anti join."""
    plan = physical_plan(spark, sf_dir, "warehouse_merge_upsert")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_dedup_incremental_index_probe_shape(spark, sf_dir):
    """The incremental dedup must be an index probe, not a blowup: the
    candidate join runs on the 8-byte hashed shingle key, the best-match
    window is partitioned by new_id (never global), no cartesian
    product, and the scan reads only the columns it needs."""
    plan = physical_plan(spark, sf_dir, "dedup_incremental")
    assert "CartesianProduct" not in plan
    assert "xxhash64" in plan  # hashed 8-byte join key, not raw shingle strings
    # best-match selection is the partial-aggregable min(struct), not a
    # per-key sort: no Window node may appear anywhere in the plan
    assert "Window" not in plan, "best-match regressed to a WindowExec sort"
    # column pruning: no documents scan may read lang/source/n_chars
    # (check every ReadSchema the plan contains)
    for line in plan.splitlines():
        if "ReadSchema" in line:
            for junk in ("lang", "source", "n_chars"):
                assert junk not in line, line


def test_inverted_index_single_shuffle(spark, sf_dir):
    """term-keyed aggregation: exactly one exchange (vocabulary-keyed),
    partial aggregation map-side before it."""
    plan = physical_plan(spark, sf_dir, "text_inverted_index")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial" in plan.lower()  # map-side combine before the shuffle


def test_pit_join_is_asof_shaped_not_interval(spark, sf_dir):
    """The point-in-time join must run as union + ordered window + one
    equi-join — never a nested-loop/cartesian interval probe."""
    plan = physical_plan(spark, sf_dir, "warehouse_pit_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Union" in plan  # version starts + facts share one shuffle
    # the resolving window runs per user, not globally
    for block in plan.split("Window ")[1:]:
        head = block.split("\n", 1)[0]
        if "version_start" in head:
            assert "user_id" in head, head


def test_range_sort_is_range_partitioned_and_globally_ordered(spark, sf_dir):
    """sort_range_partitioned must plan as RangePartitioning + local
    sort (the scalable total-order shape), and the partition-concatenated
    output must actually BE globally ordered."""
    from pyspark.sql import functions as F

    from insurance_claim_data_pipeline_spark.operators.relational import (
        sort_range_partitioned,
    )

    df = sort_range_partitioned(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()
    assert "SinglePartition" not in plan
    # global order: rows tagged with their partition id, read back in
    # (partition, in-partition) order, must be monotone on the sort key
    rows = df.withColumn("_pid", F.spark_partition_id()).collect()
    keys = [(-r.l_extendedprice, r.l_orderkey, r.l_linenumber) for r in rows]
    assert keys == sorted(keys)
    pids = [r._pid for r in rows]
    assert pids == sorted(pids)  # partition ids are range-ordered too


def test_random_projection_is_shuffle_free(spark, sf_dir):
    """The JL projection must stay a narrow map: no Exchange, no
    Python eval — pure codegen over the scan."""
    plan = physical_plan(spark, sf_dir, "emb_random_projection")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Generate explode" in plan  # the 8-way struct fan-out


def test_profile_embeddings_partial_agg_before_shuffle(spark, sf_dir):
    """Per-dimension profile: map-side combine reduces each task to
    ≤64 rows before its single shuffle."""
    plan = physical_plan(spark, sf_dir, "profile_embeddings")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial" in plan.lower()


def test_snapshot_diff_single_shuffle(spark, sf_dir):
    """Both snapshots must come from ONE user_id aggregation — no
    second scan, no self-join, no window."""
    plan = physical_plan(spark, sf_dir, "warehouse_snapshot_diff")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan
    assert plan.count("FileScan parquet") <= 2  # events + tiny bounds agg


def test_zorder_localizes_both_dimensions(spark):
    """Z-order's whole value: per-partition min/max ranges are narrow in
    BOTH interleaved keys (a single-column sort localizes only its own
    key, leaving the other at ~100% of global range -> zero data
    skipping for predicates on it). Measured at the driver gate scale;
    0.6 is far above the observed ~0.4/~0.3 but far below the 1.0 a
    degenerate curve yields."""
    from pyspark.sql import functions as F

    df = SPECS["sort_zorder_interleave"].fn(spark, "/root/testdata/sf0.01")
    parts = (
        df.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            (F.max("l_partkey") - F.min("l_partkey")).alias("pk_range"),
            (F.max("l_suppkey") - F.min("l_suppkey")).alias("sk_range"),
        )
    )
    g = df.agg(
        (F.max("l_partkey") - F.min("l_partkey")).alias("gp"),
        (F.max("l_suppkey") - F.min("l_suppkey")).alias("gs"),
    ).collect()[0]
    rows = parts.collect()
    avg_pk = sum(r["pk_range"] for r in rows) / len(rows) / g["gp"]
    avg_sk = sum(r["sk_range"] for r in rows) / len(rows) / g["gs"]
    assert avg_pk < 0.6 and avg_sk < 0.6, (avg_pk, avg_sk)
    plan = physical_plan(spark, "/root/testdata/sf0.01", "sort_zorder_interleave")
    assert "rangepartitioning" in plan.lower()
    assert "CartesianProduct" not in plan


def test_hilbert_unit_steps_and_beats_morton_locality(spark):
    """First-principles Hilbert certification plus the reason to prefer
    it over z-order: (a) on the full 2^8 x 2^8 grid the index is a
    bijection onto [0, 2^16) and consecutive indices are unit Manhattan
    steps (the defining Hilbert property — Morton violates it at every
    quadrant seam); (b) on real data, per-partition key ranges are no
    worse than the z-order layout's in both dimensions."""
    from pyspark.sql import functions as F

    from insurance_claim_data_pipeline_spark.operators.relational import (
        HILBERT_BITS,
        hilbert_index_frame,
    )

    n = 1 << HILBERT_BITS
    grid = spark.range(n * n).selectExpr(
        f"CAST(id DIV {n} AS BIGINT) x", f"CAST(id % {n} AS BIGINT) y",
        "CAST(id DIV 256 AS BIGINT) x0", "CAST(id % 256 AS BIGINT) y0",
    )
    rows = hilbert_index_frame(grid).select("x0", "y0", "hval").collect()
    pos = {r["hval"]: (r["x0"], r["y0"]) for r in rows}
    assert sorted(pos) == list(range(n * n))  # bijection
    assert all(
        abs(pos[i][0] - pos[i + 1][0]) + abs(pos[i][1] - pos[i + 1][1]) == 1
        for i in range(n * n - 1)
    )

    def part_ranges(name):
        df = SPECS[name].fn(spark, "/root/testdata/sf0.01")
        parts = (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .agg(
                (F.max("l_partkey") - F.min("l_partkey")).alias("pk"),
                (F.max("l_suppkey") - F.min("l_suppkey")).alias("sk"),
            )
            .collect()
        )
        return (
            sum(r["pk"] for r in parts) / len(parts),
            sum(r["sk"] for r in parts) / len(parts),
        )

    h_pk, h_sk = part_ranges("sort_hilbert_interleave")
    z_pk, z_sk = part_ranges("sort_zorder_interleave")
    # Hilbert's per-partition rectangles must be competitive with
    # Morton's in both dimensions (10% slack: partition cut points
    # differ; z-order also uses 16-bit normalization vs Hilbert's 8).
    assert h_pk <= z_pk * 1.1 and h_sk <= z_sk * 1.1, (h_pk, z_pk, h_sk, z_sk)
    plan = physical_plan(spark, "/root/testdata/sf0.01", "sort_hilbert_interleave")
    assert "rangepartitioning" in plan.lower()
    assert "CartesianProduct" not in plan


def test_deletion_vectors_reconciliation(spark, sf_dir):
    """Merge-on-read invariants: per file n_live + n_deleted == n_rows,
    the global deleted fraction is ~1/DV_DEL_MOD (the md5 position
    vector is uniform), and the physical plan resolves deletes with a
    genuine anti-join on (file_id, pos) — not a pushed-down filter."""
    from pyspark.sql import functions as F

    from insurance_claim_data_pipeline_spark.operators import warehouse

    df = SPECS["warehouse_deletion_vectors"].fn(spark, sf_dir)
    rows = df.collect()
    assert all(r["n_live"] + r["n_deleted"] == r["n_rows"] for r in rows)
    tot = sum(r["n_rows"] for r in rows)
    dele = sum(r["n_deleted"] for r in rows)
    frac = dele / tot
    assert abs(frac - 1.0 / warehouse.DV_DEL_MOD) < 0.02, frac
    plan = physical_plan(spark, sf_dir, "warehouse_deletion_vectors")
    assert "LeftAnti" in plan


def test_skipping_stats_layout_ordering(spark, sf_dir):
    """The whole point of clustering, as a number: for a 2-D band
    predicate, natural order reads everything, the single-column sort
    prunes only its own dimension, and both space-filling curves beat
    it by pruning in BOTH dimensions. Pinned to sf0.01: at sf0.001 the
    256-file budget leaves most files near-empty and zone maps prune
    accidentally."""
    rows = {
        r["layout"]: r
        for r in SPECS["sink_skipping_stats"].fn(spark, "/root/testdata/sf0.01").collect()
    }
    assert set(rows) == {"natural", "sort_partkey", "zorder", "hilbert"}
    assert rows["natural"]["read_frac_e6"] >= 900_000  # ~everything
    for curve in ("zorder", "hilbert"):
        assert rows[curve]["files_read"] < rows["sort_partkey"]["files_read"]
        assert rows["sort_partkey"]["files_read"] < rows["natural"]["files_read"]
    # every layout holds the same rows (it is a LAYOUT, not a filter)
    assert len({r["n_rows"] for r in rows.values()}) == 1


def test_semantic_lsh_pair_stage_is_equi_join(spark, sf_dir):
    """The registered semantic-dedup scale path must generate candidate
    pairs through an EQUI self-join on (band, code) — never the non-equi
    all-pairs join of the brute-force baseline (VERDICT r04 'What's
    wrong' #1). The only nested-loop nodes allowed are the 48-row
    broadcast hyperplane bank."""
    from insurance_claim_data_pipeline_spark.operators.dedup import (
        semantic_lsh_candidate_pairs,
    )

    plan = (
        semantic_lsh_candidate_pairs(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    # pair generation is keyed on (band, code)
    assert (
        "SortMergeJoin [band" in plan
        or "ShuffledHashJoin [band" in plan
        or "BroadcastHashJoin [band" in plan
    )
    # the only NLJ nodes are the broadcast plane-bank cross joins
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "BuildRight" in line and "Cross" in line


def test_pruning_certificate_candidate_stage_is_equi_join(spark, sf_dir):
    """The production-threshold pruning certificate's CANDIDATE stage
    (banded_sign_candidates over the augmented corpus) must keep the same
    equi-join-on-(band, code) shape as the registered scale path — the
    certificate's brute-force side is its ground-truth measurement, but
    the stage whose pruning is being certified must itself be the
    bucketed plan, or the certificate measures the wrong thing."""
    from insurance_claim_data_pipeline_spark.operators.dedup import (
        _SEM_PROD_BANDS,
        _SEM_PROD_ROWS,
        _augmented_prod_embeddings,
        _sem_lsh_planes,
        banded_sign_candidates,
    )

    aug = _augmented_prod_embeddings(spark, sf_dir)
    planes = _sem_lsh_planes(spark, _SEM_PROD_BANDS, _SEM_PROD_ROWS, "prod")
    plan = (
        banded_sign_candidates(aug, planes)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert (
        "SortMergeJoin [band" in plan
        or "ShuffledHashJoin [band" in plan
        or "BroadcastHashJoin [band" in plan
    )
    # the only NLJ nodes are the 120-row broadcast plane-bank cross
    # joins (one per side of the sigs self-join, like the scale path)
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "BuildRight" in line and "Cross" in line
