"""Oracle parity under the data-shape adversaries of tools/adversary.py.

Each adversary rewrites the sf0.001 fixtures once per module; every
query in its prone subset must still match its DuckDB twin exactly on
the rewritten copy. The full-surface sweep on one adversary is the
two-line recipe in the tool's docstring.
"""

from __future__ import annotations

import collections
import os
import re
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from tools import adversary
from tools.check_oracle import compare, connect

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

PRONE = {
    # rank / row_number keep rules, top-k, dense ids, prefix sums,
    # as-of, sessionization, forward fill, ordered array aggregation
    "shuffle": [
        "q04_recent_rankings_top100",
        "q07_dedup_by_key",
        "q20_window_rank",
        "q21_multikey_sort",
        "q23_surrogate_keys",
        "q30_sliding_window",
        "q32_dedup_fingerprint_keep",
        "q36_ann_bruteforce_topk",
        "q56_asof_join",
        "q58_dense_ids_scale",
        "q69_doc_length_deciles",
        "q71_event_percentiles",
        "q92_cluster_representatives",
        "q95_state_at_event",
        "q98_shard_manifest",
        "q133_sessionization",
        "q147_forward_fill",
        "q161_linear_interpolation",
        "q164_user_journeys",
        "q166_pps_token_sample",
        "q190_seeded_shuffle_order",
        "q195_quantile_normalize",
        "q205_leakage_safe_split",
        "q239_spearman_correlation",
        "q253_mann_whitney_u",
        "q262_session_incident_overlap",
        "q271_budget_greedy_selection",
    ],
    # joins on the hot key, per-user windows, hot shingle / band
    # buckets, per-source caps / sampling / mixing, skew censuses
    "skew": [
        "q29_sessionization",
        "q33_ngram_jaccard_pairs",
        "q34_minhash_lsh_pairs",
        "q35_simhash_pairs",
        "q51_salted_join",
        "q66_dedup_clusters",
        "q80_per_source_dup_stats",
        "q92_cluster_representatives",
        "q116_windowed_heavy_hitters",
        "q126_source_token_mix",
        "q133_sessionization",
        "q148_top_supplier_revenue",
        "q188_per_source_quality_cap",
        "q202_key_skew_census",
        "q206_pps_sample_per_source",
        "q210_effective_tokens_per_source",
    ],
    # aggregates, windows, bands and groups over a nulled column
    # (q116, q167, q170, q233, q256 each carry a null contract)
    "nullify": [
        "q17_json_extract",
        "q22_priority_share",
        "q28_tumbling_window",
        "q46_rollup",
        "q53_group_zscore",
        "q71_event_percentiles",
        "q81_event_funnel",
        "q116_windowed_heavy_hitters",
        "q126_source_token_mix",
        "q137_daily_event_anomaly",
        "q150_disjunctive_parts_revenue",
        "q152_idle_premium_customers",
        "q159_supplier_part_breadth",
        "q167_cusum_changepoint",
        "q169_daily_autocorrelation",
        "q170_dow_seasonality",
        "q175_kanon_census",
        "q203_event_transition_matrix",
        "q224_source_lang_mutual_info",
        "q233_pareto_frontier",
        "q249_l_diversity_census",
        "q256_t_closeness_audit",
        "q259_langid_cohens_kappa",
    ],
    # variance (cancellation), percentiles and ranks (heavy tail),
    # range-derived bins, leading digits, acctbal thresholds,
    # regression and forecast chains over events.value
    "extreme": [
        "q50_column_profile",
        "q53_group_zscore",
        "q71_event_percentiles",
        "q137_daily_event_anomaly",
        "q152_idle_premium_customers",
        "q165_robust_outlier_stats",
        "q167_cusum_changepoint",
        "q177_ks_source_drift",
        "q182_psi_drift",
        "q195_quantile_normalize",
        "q207_value_welch_ttest",
        "q240_benford_audit",
        "q245_bootstrap_mean_ci",
        "q250_ab_test_readout",
        "q255_theil_sen_trend",
        "q264_winsorized_means",
        "q266_durbin_watson",
        "q268_forecast_backtest",
    ],
    # every plan that orders by events.ts
    "tstie": [
        "q28_tumbling_window",
        "q29_sessionization",
        "q30_sliding_window",
        "q56_asof_join",
        "q81_event_funnel",
        "q82_rolling_daily_events",
        "q106_scd2_asof_snapshot",
        "q116_windowed_heavy_hitters",
        "q133_sessionization",
        "q147_forward_fill",
        "q155_ewma_lag_chain",
        "q161_linear_interpolation",
        "q164_user_journeys",
        "q167_cusum_changepoint",
        "q197_last_touch_attribution",
        "q200_trailing_window_features",
        "q203_event_transition_matrix",
        "q262_session_incident_overlap",
    ],
    # tokenizers, shingles, fingerprints, term / char counts and
    # stats over documents.text or n_chars
    "unitext": [
        "q32_dedup_fingerprint_keep",
        "q33_ngram_jaccard_pairs",
        "q34_minhash_lsh_pairs",
        "q35_simhash_pairs",
        "q69_doc_length_deciles",
        "q75_tfidf_top_terms",
        "q76_winnow_fingerprints",
        "q101_token_budget_apportion",
        "q108_verbatim_decontamination",
        "q126_source_token_mix",
        "q132_token_cooccurrence",
        "q134_bpe_pair_merges",
        "q163_ngram_novelty",
        "q178_zipf_slope",
        "q181_lexical_entropy",
        "q184_bigram_surprisal",
        "q217_heaps_vocab_growth",
        "q248_mojibake_census",
        "q261_langid_class_prf",
        "q263_readability_census",
    ],
    # denominators the collapse zeroes, plus the dedup family meeting
    # a source-sized exact-duplicate cluster
    "const": [
        "q53_group_zscore",
        "q66_dedup_clusters",
        "q80_per_source_dup_stats",
        "q137_daily_event_anomaly",
        "q165_robust_outlier_stats",
        "q167_cusum_changepoint",
        "q169_daily_autocorrelation",
        "q172_dsir_importance",
        "q177_ks_source_drift",
        "q181_lexical_entropy",
        "q182_psi_drift",
        "q184_bigram_surprisal",
        "q207_value_welch_ttest",
        "q208_dup_cluster_size_census",
        "q228_grouped_ols_regression",
        "q239_spearman_correlation",
        "q253_mann_whitney_u",
        "q255_theil_sen_trend",
        "q266_durbin_watson",
        "q272_dedup_capture_recapture",
    ],
    # statistics, censuses, spines, ranks and rollups partitioned by
    # a planted singleton key
    "singleton": [
        "q22_priority_share",
        "q46_rollup",
        "q53_group_zscore",
        "q71_event_percentiles",
        "q116_windowed_heavy_hitters",
        "q126_source_token_mix",
        "q137_daily_event_anomaly",
        "q152_idle_premium_customers",
        "q167_cusum_changepoint",
        "q169_daily_autocorrelation",
        "q170_dow_seasonality",
        "q175_kanon_census",
        "q177_ks_source_drift",
        "q188_per_source_quality_cap",
        "q203_event_transition_matrix",
        "q206_pps_sample_per_source",
        "q207_value_welch_ttest",
        "q224_source_lang_mutual_info",
        "q228_grouped_ols_regression",
        "q268_forecast_backtest",
    ],
}
# every twin that reads the embeddings table
PRONE["zero_norm"] = PRONE["empty_embeddings"] = sorted(
    n for n, sql in ORACLES.items() if re.search(r"\bembeddings\b", sql)
)

CASES = [(a, q) for a in adversary.ADVERSARIES for q in PRONE[a]]


@pytest.fixture(scope="module")
def shaped(tmp_path_factory, sf_dir):
    """name -> (fixture dir, info, DuckDB connection), built once each."""
    built = {}

    def get(name):
        if name not in built:
            dst = str(tmp_path_factory.mktemp(name))
            info = adversary.write(name, sf_dir, dst)
            built[name] = (dst, info, connect(dst))
        return built[name]

    yield get
    for _, _, con in built.values():
        con.close()


@pytest.mark.parametrize("name", list(adversary.ADVERSARIES))
def test_adversary_is_real(name, shaped):
    _, info, _ = shaped(name)
    expect = adversary.ADVERSARIES[name].expect
    assert not {k: info.get(k) for k, lo in expect.items() if info.get(k, 0) < lo}


def test_skew_tool_actually_skews(shaped):
    """The hot key holds >= 25% of rows in each skewed table, and
    n_chars stays truthful after the boilerplate prefix."""
    d, _, _ = shaped("skew")
    docs = pq.read_table(os.path.join(d, "documents.parquet"))
    for table, col in (("events", "user_id"), ("documents", "source"), ("lineitem", "l_partkey")):
        tab = pq.read_table(os.path.join(d, f"{table}.parquet"))
        top = collections.Counter(tab[col].to_pylist()).most_common(1)[0][1]
        assert top >= 0.25 * tab.num_rows, table
    for text, n in zip(docs["text"].to_pylist(), docs["n_chars"].to_pylist()):
        assert n == (None if text is None else len(text))


@pytest.mark.parametrize("name,query", CASES, ids=[f"{a}-{q}" for a, q in CASES])
def test_query_survives_adversary(name, query, spark, shaped):
    d, _, con = shaped(name)
    spark_pdf = QUERIES[query](spark, d).toPandas()
    duck_pdf = con.execute(ORACLES[query]).fetchdf()
    problems = compare(query, spark_pdf, duck_pdf, verbose=True)
    assert not problems, "\n".join(problems)
