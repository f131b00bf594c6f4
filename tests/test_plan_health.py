"""Plan-shape regression guards: the scale-critical physical-plan
properties docs/SCALE.md claims, asserted so a refactor can't
silently lose them. Plans are inspected at sf0.001 — plan SHAPE is
data-size independent for these checks (pushdown, broadcast
strategy, absence of cartesian products), which is exactly why they
can gate at fixture scale."""

from pathlib import Path

import pytest

from cr_data_pipeline_project_spark.plans import all_queries

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    df = all_queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(spark, name):
    df = all_queries()[name](spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


# Queries allowed to contain a BroadcastNestedLoopJoin: scalar-
# subquery denominators / thresholds (1-row broadcast), literal
# probe/centroid sets (O(k·dim) broadcast), and the point-in-
# interval range join (broadcast O(100)-row interval dim). Enforced
# below against the committed plan dumps (docs/plans/*.txt, which
# tools/explain_plans.py regenerates) so a refactor that introduces
# an unbounded nested loop anywhere on the surface fails CI.
NESTED_LOOP_OK = {
    "q02_brand_usage_wins",  # scalar total denominator
    "q04_recent_rankings_top100",
    "q15_range_join_season",
    "q22_priority_share",  # scalar total denominator
    "q55_curation_pipeline",
    "q56_asof_join",
    "q74_kmeans_ivf_topk",  # k×dim centroid literal cross
    "q77_cluster_centroid_sums",
    "q42_ann_ivf_topk",  # nprobe probe set vs centroids
    "q36_ann_bruteforce_topk",  # broadcast query set by contract
    "q234_mmr_diversified_topk",  # q36's broadcast-query shortlist feeds MMR
    "q241_retrieval_eval_metrics",  # q36's broadcast-query ranking feeds eval
    "q37_embedding_neardup",  # block-combo equi-join only
    "q84_incremental_neardup",  # 1-row bucket-threshold broadcast
    "q85_tfidf_float_scores",  # 1-row corpus-size N broadcast
    "q100_cluster_balanced_sample",  # 1-row quota broadcast
    "q101_token_budget_apportion",  # 1-row global-budget broadcast
    "q104_neardup_probe",  # 1-row bucket-threshold broadcast
    "q106_scd2_asof_snapshot",  # 1-row as-of timestamp broadcast
    "q108_verbatim_decontamination",  # probe-array literal broadcast
    "q111_contamination_report",  # probe-array literal broadcast
    "q119_stickiness_dau_wau",  # day-spine literal broadcast
    "q126_source_token_mix",  # 1-row corpus-total broadcast
    "q128_rolling_distinct_sketch",  # day-spine literal broadcast
    "q132_token_cooccurrence",  # 1-row doc-count broadcast
    "q152_idle_premium_customers",  # 1-row balance-threshold broadcast
    "q154_bm25_topk",  # 1-row corpus-stats (N, avgdl) broadcast
    "q169_daily_autocorrelation",  # 7-row lag-spine literal broadcast
    "q172_dsir_importance",  # 1-row corpus-totals (R, T) broadcast
    "q180_pmi_collocations",  # 1-row corpus-totals (N, M) broadcast
    "q183_semantic_decontamination",  # benchmark probe-set broadcast (q108 posture)
    "q186_important_part_values",  # 1-row nation-total broadcast
    "q189_source_kl_divergence",  # 1-row vocab-scalars broadcast
    "q194_hybrid_rrf_topk",  # broadcast query set by contract (q36 posture)
    "q196_temperature_mix",  # 1-row total/leftover broadcasts (q101 posture)
    "q198_hard_negative_mining",  # broadcast query set by contract (q36 posture)
    "q202_key_skew_census",  # 1-row totals broadcast (q101 posture)
    "q207_value_welch_ttest",  # 1-row moment-totals broadcast (q101 posture)
    "q209_chisq_source_lang",  # 1-row grand-total broadcast (q101 posture)
    "q211_rfm_segmentation",  # 1-row quartile-cuts broadcast (q101 posture)
    "q216_vocab_overlap_matrix",  # #sources²-bounded pair-spine broadcast
    "q217_heaps_vocab_growth",  # 1-row corpus-size broadcasts (q101 posture)
    "q222_revenue_concentration",  # 1-row quartile-cut + total broadcasts (q211 posture)
    "q224_source_lang_mutual_info",  # 1-row grand-total broadcast (q209 posture)
    "q252_kruskal_wallis",  # 1-row tie-term × 1-row totals broadcast
    "q253_mann_whitney_u",  # 1-row tie-term × 1-row fold broadcast
    "q255_theil_sen_trend",  # calendar-bounded daily-pair non-equi + 1-row folds
    "q256_t_closeness_audit",  # QI×band bounded grid + 1-row totals broadcasts
    "q259_langid_cohens_kappa",  # 1-row marginal-product broadcast fold
    "q266_durbin_watson",  # 1-row OLS-fit broadcast onto the bounded daily table
    "q267_leadlag_crosscorrelation",  # 7-row lag-spine broadcast
    "q268_forecast_backtest",  # 1-row max + 2-row model-spine broadcasts
}

_PLAN_DUMP_DIR = Path(__file__).resolve().parents[1] / "docs" / "plans"


def test_plan_dumps_complete():
    """EVERY registered query has a committed plan dump — without
    this, the dump-based gates below silently skip any query whose
    dump was never (re)generated, and the 'fails CI' guarantee is
    hollow. A new query must come with `tools/explain_plans.py`
    output, which is also what keeps the dumps fresh in review."""
    have = {p.stem for p in _PLAN_DUMP_DIR.glob("*.txt")}
    missing = sorted(set(all_queries()) - have)
    assert not missing, (
        f"queries with no plan dump (run tools/explain_plans.py): {missing}"
    )


def test_no_cartesian_product_any_dump():
    """NO query on the surface may plan a CartesianProduct — checked
    across every committed plan dump."""
    dumps = sorted(_PLAN_DUMP_DIR.glob("*.txt"))
    assert len(dumps) >= 140, "plan dumps missing — run tools/explain_plans.py"
    offenders = [p.stem for p in dumps if "CartesianProduct" in p.read_text()]
    assert not offenders, offenders


def test_nested_loop_only_where_allowlisted():
    """BroadcastNestedLoopJoin may appear only in queries whose
    build side is a 1-row scalar / bounded literal by construction
    (NESTED_LOOP_OK) — checked across every committed plan dump."""
    offenders = [
        p.stem
        for p in sorted(_PLAN_DUMP_DIR.glob("*.txt"))
        if "BroadcastNestedLoopJoin" in p.read_text()
        and p.stem not in NESTED_LOOP_OK
    ]
    assert not offenders, offenders


@pytest.mark.parametrize(
    "name",
    [
        "q01_pricing_summary",
        "q02_brand_usage_wins",
        "q10_semi_join_kept_keys",
        "q31_dedup_exact_groups",
        "q33_ngram_jaccard_pairs",
        "q34_minhash_lsh_pairs",
        "q35_simhash_pairs",
        "q66_dedup_clusters",
        "q75_tfidf_top_terms",
        "q76_winnow_fingerprints",
        "q133_sessionization",
        "q134_bpe_pair_merges",
        "q135_volume_shipping",
        "q136_market_share",
        "q137_daily_event_anomaly",
    ],
)
def test_no_cartesian_product(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, name


def test_filter_pushdown_reaches_scan(spark):
    """q10's equality filter must reach the parquet scan as a pushed
    filter, not evaluate post-scan only."""
    f = _formatted(spark, "q10_semi_join_kept_keys")
    assert "PushedFilters: [" in f
    pushed = [
        line
        for line in f.splitlines()
        if "PushedFilters" in line and "[]" not in line
    ]
    assert pushed, "no non-empty PushedFilters in q10 plan"


def test_column_pruning_reaches_scan(spark):
    """q01 reads a projection of lineitem, never the full row."""
    f = _formatted(spark, "q01_pricing_summary")
    read_schemas = [
        line for line in f.splitlines() if "ReadSchema" in line
    ]
    assert read_schemas
    # the full table has 11+ columns; the query needs 7
    assert all(line.count(",") <= 8 for line in read_schemas)


def test_dim_join_broadcasts(spark):
    """q02's dim joins must be broadcast, with no shuffle of the
    fact side for the join itself."""
    plan = _plan(spark, "q02_brand_usage_wins")
    assert "BroadcastHashJoin" in plan


def test_lsh_bucket_pairing_single_aggregate_shuffle(spark):
    """The LSH candidate stage must not contain a shuffle-heavy
    window or self-join over the exploded index: no Window node and
    no SortMergeJoin before the verify joins' input."""
    plan = _plan(spark, "q34_minhash_lsh_pairs")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan  # bucket sizing is an aggregate now


def test_exact_profile_no_expand(spark):
    """q50's multi-distinct profiler must keep the single-distinct
    per-column shape (no Expand ×N row replication)."""
    plan = _plan(spark, "q50_column_profile")
    assert "Expand" not in plan


def test_q113_date_filters_push_to_scans(spark):
    """TPC-H Q3: both date predicates (orders, lineitem) must reach
    their parquet scans as pushed filters."""
    f = _formatted(spark, "q113_shipping_priority")
    pushed = [
        line
        for line in f.splitlines()
        if "PushedFilters" in line and "orderdate" in line.lower()
    ] + [
        line
        for line in f.splitlines()
        if "PushedFilters" in line and "shipdate" in line.lower()
    ]
    assert len(pushed) >= 2, "q113 date predicates not pushed to scans"


def test_q114_sixway_join_no_cartesian(spark):
    """TPC-H Q5: six tables, zero cartesian products, and the
    region→nation prune rides broadcast joins."""
    plan = _plan(spark, "q114_local_supplier_volume")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q106_windows_share_one_exchange(spark):
    """The as-of snapshot's two interval windows (lag + lead) share
    one hash exchange on the key — the scd2_intervals plan contract
    (docs/SCALE.md, window functions)."""
    plan = _plan(spark, "q106_scd2_asof_snapshot")
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_q112_export_no_cartesian(spark):
    """The dedup export composes the q33/q66/q92 machinery plus one
    keep-list semi join — no cartesian product may appear anywhere
    in the composition."""
    assert "CartesianProduct" not in _plan(spark, "q112_neardup_dedup_export")


def test_q123_filters_push_to_fact_scans(spark):
    """TPC-H Q10: the quarter predicate must reach the orders scan
    and the returnflag predicate the lineitem scan — both BEFORE
    either fact shuffles — and the nation dim must broadcast."""
    f = _formatted(spark, "q123_returned_item_reporting")
    lines = f.splitlines()
    assert any(
        "PushedFilters" in ln and "orderdate" in ln.lower() for ln in lines
    ), "q123 orderdate predicate not pushed to the orders scan"
    assert any(
        "PushedFilters" in ln and "returnflag" in ln.lower() for ln in lines
    ), "q123 returnflag predicate not pushed to the lineitem scan"
    plan = _plan(spark, "q123_returned_item_reporting")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q124_having_survivors_broadcast_semi(spark):
    """TPC-H Q18: the HAVING survivor set must enter as a broadcast
    semi join against orders (the 3-way join only sees qualifying
    orders), with no cartesian product anywhere."""
    plan = _plan(spark, "q124_large_volume_customers")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_q129_exists_plans_as_semi_join_with_residual(spark):
    """TPC-H Q4 shape: the correlated EXISTS must plan as a left-semi
    hash join on l_orderkey (lineitem never aggregates), not a
    cartesian or an inner-join + distinct."""
    plan = _plan(spark, "q129_late_shipment_priority")
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan


def test_q130_part_dim_broadcasts(spark):
    """TPC-H Q14 shape: the part dim must broadcast (lineitem never
    shuffles for the join) and only p_partkey/p_type may be read
    from the part scan."""
    plan = _plan(spark, "q130_promo_revenue_share")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    f = _formatted(spark, "q130_promo_revenue_share")
    part_reads = [
        ln for ln in f.splitlines() if "ReadSchema" in ln and "p_partkey" in ln
    ]
    assert part_reads and all(
        "p_retailprice" not in ln and "p_name" not in ln for ln in part_reads
    ), "part scan reads more than p_partkey/p_type"
