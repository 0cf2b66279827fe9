"""Plan-quality regression tests: the performance posture (broadcasts,
pushdown, pruning, shuffle counts) asserted against the physical plans
so an innocent refactor cannot silently regress it.

Also covers the skew utilities (salted join correctness)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from conte_to_fresco_etl_spark.operators.skew import salted_join
from helpers import explain_shuffle_count


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def qs():
    return entrymod.queries()


def test_conte_set3_broadcasts_jobs_side(spark, sf_dir, qs):
    plan = _physical(qs["conte_set3"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # ts side must not shuffle


def test_q3_pushes_filters_and_prunes_columns(spark, sf_dir, qs):
    plan = _physical(qs["q3_top_orders"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or (
        "l_shipdate" in plan.split("PushedFilters")[1].split("]")[0]
    )
    # column pruning: the lineitem scan must not read all 16 columns
    scan = plan[plan.index("ReadSchema") :].split("\n")[0]
    assert scan.count(":") <= 6


def test_q1_partial_aggregate_before_shuffle(spark, sf_dir, qs):
    plan = _physical(qs["q1_pricing_summary"](spark, sf_dir))
    assert "partial" in plan.lower()  # map-side combine
    assert explain_shuffle_count(qs["q1_pricing_summary"](spark, sf_dir)) == 1


def test_window_rate_single_shuffle(spark, sf_dir, qs):
    assert explain_shuffle_count(qs["q_window_rate"](spark, sf_dir)) == 1


def test_pivot_scatter_map_only(spark, sf_dir, qs):
    assert explain_shuffle_count(qs["q_pivot_scatter"](spark, sf_dir)) == 0


def test_embedding_lsh_neardup_plan_is_distributed(spark, sf_dir, qs):
    """The scale-default embedding near-dup must stay fully distributed:
    vectors re-attach via broadcast joins (no SortMergeJoin carrying
    arrays), and the logical plan contains no LocalRelation of collected
    corpus rows (the round-1 brute-force posture this replaced)."""
    df = qs["q_embedding_neardup_lsh"](spark, sf_dir)
    plan = _physical(df)
    assert "BroadcastHashJoin" in plan   # vector re-attach
    assert "SortMergeJoin" not in plan
    logical = df._jdf.queryExecution().analyzed().toString()
    # a collect()-then-parallelize shows up as LocalRelation/LocalTableScan
    assert "LocalRelation" not in logical
    assert "LocalTableScan" not in plan


def test_local_topk_prereduction_is_exact_and_bounded():
    """The per-partition pre-reduction feeding the rank shuffle: at most
    k rows per query survive a batch, kept under the global total order
    (cosine desc, neighbor_id asc) so the global top-k is preserved."""
    import pandas as pd

    from conte_to_fresco_etl_spark.operators.similarity import _local_topk

    pdf = pd.DataFrame(
        {
            "query_id": [1] * 4 + [2] * 3,
            "neighbor_id": [10, 11, 12, 13, 20, 21, 22],
            "cosine": [0.9, 0.9, 0.5, 0.99, 0.1, 0.3, 0.3],
        }
    )
    out = _local_topk(pdf, 2)
    got = {
        q: list(g["neighbor_id"]) for q, g in out.groupby("query_id")
    }
    # q1: 0.99 first, then the 0.9 tie broken by lower neighbor id
    assert got == {1: [13, 10], 2: [21, 22]}


def test_salted_join_matches_plain_join(spark):
    # one hot key (90% of rows) + uniform tail
    left = spark.range(0, 1000).select(
        F.when(F.col("id") < 900, F.lit(7)).otherwise(F.col("id") % 50)
        .cast("long").alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.createDataFrame(
        [(i, f"r{i}") for i in range(50)], "k long, name string"
    )
    plain = left.join(right, "k").select("k", "v", "name")
    salted = salted_join(left, right, on="k", salts=8).select("k", "v", "name")
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_salted_left_join_keeps_unmatched(spark):
    left = spark.createDataFrame([(1, "a"), (99, "b")], "k long, v string")
    right = spark.createDataFrame([(1, "x")], "k long, name string")
    out = salted_join(left, right, on="k", salts=4, how="left").collect()
    by_k = {r["k"]: r["name"] for r in out}
    assert by_k == {1: "x", 99: None}
    assert len(out) == 2


def test_corpus_curation_broadcasts_group_stats(spark, sf_dir, qs):
    """The composed curation plan: profile stays map-side, the dedup
    group table re-attaches via broadcast (it is ~|distinct
    fingerprints|, far smaller than the corpus), and the only shuffles
    are the fingerprint groupBy plus its exchange — never a
    SortMergeJoin carrying the full profile."""
    df = qs["q_corpus_curation"](spark, sf_dir)
    plan = _physical(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert explain_shuffle_count(df) <= 2


def test_q5_dimension_chain_broadcasts(spark, sf_dir, qs):
    """Q5's customer/supplier/nation/region chain must broadcast; the
    only shuffle join allowed is lineitem-orders on the order key."""
    plan = _physical(qs["q5_local_volume"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1
    # region filter reaches the scan
    assert "r_name" in plan


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir, qs):
    """The eval-gram set (benchmark side) must broadcast — the training
    posting list never shuffles on the gram."""
    plan = _physical(qs["q_decontaminate"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pii_scrub_is_map_only(spark, sf_dir, qs):

    assert explain_shuffle_count(qs["q_pii_scrub"](spark, sf_dir)) == 0


def test_stratified_and_temperature_sample_are_map_only(spark, sf_dir, qs):

    assert explain_shuffle_count(qs["q_stratified_sample"](spark, sf_dir)) == 0
    # temperature sampling: the sampling predicate itself is map-side
    # (the group-count agg runs once at plan build, driver-side literal)
    assert explain_shuffle_count(qs["q_temperature_sample"](spark, sf_dir)) == 0


def test_sessionize_single_user_shuffle(spark, sf_dir, qs):
    """Both windows and the session aggregate must share ONE user-key
    shuffle (the agg keys are a superset partition of the window key,
    so no second exchange is required before it)."""

    assert explain_shuffle_count(qs["q_sessionize"](spark, sf_dir)) <= 2


def test_range_pairs_hash_joins_on_bins(spark, sf_dir, qs):
    """The binned range join must plan as an equi join on the bin id —
    never the BroadcastNestedLoopJoin Spark picks for the raw range
    predicate."""
    plan = _physical(qs["q_range_pairs"](spark, sf_dir))
    assert "BroadcastNestedLoop" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan  # tiny sf: AQE may demote to broadcast
    )


def test_time_rollup_one_pass_expand(spark, sf_dir, qs):
    """ROLLUP must be ONE Expand + partial aggregation + one shuffle —
    not a union of per-grain scans (the events scan appears once)."""
    df = qs["q_time_rollup"](spark, sf_dir)
    plan = _physical(df)
    assert plan.count("Expand") >= 1
    assert "partial" in plan.lower()
    assert plan.count("events.parquet") <= plan.count("Scan parquet") == 1
    assert explain_shuffle_count(df) == 1


def test_trailing_window_single_shuffle(spark, sf_dir, qs):
    assert explain_shuffle_count(qs["q_trailing_window"](spark, sf_dir)) == 1


def test_incremental_dedup_never_pairs_the_corpus_with_itself(spark):
    """Cross-corpus band join: old x old collisions must not appear."""
    from conte_to_fresco_etl_spark.operators.dedup import incremental_neardup

    text = "the quick brown fox jumps over the lazy dog " * 5
    old = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"  # old dup pair
    )
    new = spark.createDataFrame(
        [(10, text), (11, "totally different content with no overlap here")],
        "doc_id long, text string",
    )
    got = incremental_neardup(new, old).collect()
    pairs = {(r["new_id"], r["existing_id"]) for r in got}
    # new dup collides with BOTH old copies; the old x old pair is absent
    assert pairs == {(10, 1), (10, 2)}
    assert all(r["est_jaccard"] == 1.0 for r in got)


def test_pivot_agg_empty_bucket_counts_zero(spark):
    """Round-3 review regression: pivot yields NULL for an absent
    (user, event) bucket while the oracle's COUNT(CASE) yields 0 — the
    catalog query must coalesce counts (sums stay NULL in both)."""
    import datetime as dt

    from conte_to_fresco_etl_spark.plans.catalog import QUERIES

    # user 7 has clicks only — every other n_<e> must be 0, not NULL
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 7, "click", 2.0, "")],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        row = QUERIES["q_pivot_agg"](spark, d).collect()[0]
    assert row["n_click"] == 1 and row["sum_click"] == 2.0
    assert row["n_error"] == 0 and row["sum_error"] is None
    assert row["n_purchase"] == 0


def test_distinct_counts_avoids_expand(spark, sf_dir, qs):
    """The multi-distinct aggregate must use the union-narrow form:
    Spark's Expand-based rewrite replicates every row once per distinct
    column through the shuffle."""
    plan = _physical(qs["q_distinct_counts"](spark, sf_dir))
    assert "Expand" not in plan
    assert "partial" in plan.lower()  # per-partition distinct pre-agg


def test_json_extract_stays_jvm_side(spark, sf_dir, qs):
    """from_json is a codegen projection: no Python workers, one
    partial-agg shuffle."""
    df = qs["q_json_extract"](spark, sf_dir)
    plan = _physical(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert explain_shuffle_count(df) == 1


def test_value_percentiles_single_shuffle(spark, sf_dir, qs):
    assert explain_shuffle_count(qs["q_value_percentiles"](spark, sf_dir)) == 1


def test_cap_per_group_prefilter_has_no_literal_case_chain(spark, sf_dir):
    """The scale path's cutoffs must ride a broadcast join, not a
    collected per-group CASE WHEN literal chain (plan depth O(|groups|)
    and a driver collect per build)."""
    from conte_to_fresco_etl_spark.validation import cap_per_group

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = cap_per_group(
        docs, group_col="source", key_col="doc_id", cap=5,
        prefilter_safety=2.0,
    )
    plan = _physical(out)
    assert "BroadcastHashJoin" in plan
    # a literal chain would inline one quoted group name per branch in
    # the filter condition; the broadcast form references the joined
    # cutoff column instead
    assert "CASE WHEN (source = " not in plan


def test_pq_topk_no_corpus_collect_and_prereduced(spark, sf_dir, qs):
    """The PQ search plan must stream the corpus (ArrowEvalPython /
    mapInPandas stage over the scan — no LocalRelation materializing
    corpus rows) and keep the rank shuffle pre-reduced."""
    plan = _physical(qs["q_pq_topk"](spark, sf_dir))
    assert "MapInPandas" in plan
    # the only window is the final per-query rank
    assert plan.count("RunningWindowFunction") <= 1
    scan_region = plan[plan.index("MapInPandas") :]
    assert "Scan parquet" in scan_region  # corpus feeds the scorer directly


def test_boilerplate_frac_broadcasts_frequent_grams(spark, sf_dir, qs):
    """The frequent-gram set is tiny by construction and must broadcast
    back; the corpus postings must not sort-merge on the gram."""
    plan = _physical(qs["q_boilerplate_frac"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_mixture_weights_single_shuffle_to_dimension_rows(spark, sf_dir, qs):
    """One aggregation shuffle to dimension-sized rows; the window
    normalizer adds a single-partition exchange over those few rows
    (bounded by group cardinality, not data size)."""

    assert explain_shuffle_count(qs["q_mixture_weights"](spark, sf_dir)) <= 3


def test_compression_ratio_map_only(spark, sf_dir, qs):

    df = qs["q_compression_ratio"](spark, sf_dir)
    assert explain_shuffle_count(df) <= 1  # ensure_min_parallelism repartition
    assert "MapInPandas" in _physical(df)


def test_decontaminate_bloom_probe_stays_jvm_side(spark, sf_dir, qs):
    """The bitmap membership probe must be a JVM expression over the
    broadcast 1-row bitmap (getbit/forall), NOT a Python UDF: no
    BatchEvalPython may appear between the posting stage and the
    confirm join."""
    plan = _physical(qs["q_decontaminate_bloom"](spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "getbit" in plan or "bit_get" in plan.lower()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_semantic_dedup_no_corpus_collect(spark, sf_dir, qs):
    """Assignment streams (MapInPandas over the scan) and the
    near-neighbor probe self-joins on the cluster key — no corpus rows
    may materialize driver-side as a LocalRelation."""
    plan = _physical(qs["q_semantic_dedup"](spark, sf_dir))
    assert "MapInPandas" in plan
    assert "LocalTableScan" not in plan


def test_quality_classifier_single_metric_pass(spark, sf_dir, qs):
    """Scoring adds NO stage over quality_filters: same Arrow metric
    pass, the logistic is a projection (no shuffle, no extra Python)."""

    df = qs["q_quality_classifier"](spark, sf_dir)
    assert explain_shuffle_count(df) <= 1  # ensure_min_parallelism only
    plan = _physical(df)
    assert plan.count("MapInPandas") == 1


def test_assign_splits_map_only(spark, sf_dir, qs):

    assert explain_shuffle_count(qs["q_assign_splits"](spark, sf_dir)) == 0


# ---------------------------------------------------------------------------
# round-4 second-half operators: plan posture
# ---------------------------------------------------------------------------


def test_k_anonymity_broadcasts_class_sizes(spark, sf_dir, qs):
    """The equivalence-class table is dimension-sized; its join back
    onto the ids must broadcast, never sort-merge."""
    plan = _physical(qs["q_k_anonymity"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_oov_rate_anti_join_broadcasts(spark, sf_dir, qs):
    plan = _physical(qs["q_oov_rate"](spark, sf_dir))
    assert "BroadcastHashJoin LeftSemi" in plan or (
        "BroadcastHashJoin" in plan and "LeftAnti" in plan
    )


def test_psi_drift_single_corpus_shuffle(spark, sf_dir, qs):
    """The corpus collapses in ONE (key, bin) count shuffle; everything
    downstream is dimension-sized (broadcast + tiny aggregates)."""
    df = qs["q_psi_drift"](spark, sf_dir)
    plan = _physical(df)
    # the events scan feeds exactly one Exchange before the bin counts
    first = plan.index("Scan parquet")
    assert plan[:first].count("Exchange hashpartitioning") <= 2


def test_token_entropy_single_corpus_shuffle(spark, sf_dir, qs):
    plan = _physical(qs["q_token_entropy"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_seasonal_decompose_corpus_never_shuffles(spark, sf_dir, qs):
    """Both mean tables broadcast back onto the stream — the fact rows
    themselves must not be hash-exchanged."""
    plan = _physical(qs["q_seasonal_decompose"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_mad_outliers_broadcasts_stat_tables(spark, sf_dir, qs):
    plan = _physical(qs["q_mad_outliers"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_weighted_sample_is_take_ordered(spark, sf_dir, qs):
    plan = _physical(qs["q_weighted_sample"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_topk_per_group_window_group_limit(spark, sf_dir, qs):
    """rn <= k must push into a WindowGroupLimit (Spark 3.5+/4.x) so
    the sort sees at most k rows per key per partition."""
    plan = _physical(qs["q_topk_per_group"](spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_catalog_queries_survive_empty_tables(spark, tmp_path):
    """An empty month/partition is a normal production event: every
    driver-side training collect (IVF/PQ quantizers, temperature
    cutoffs) and sampling helper must degrade to an empty result, not
    crash.  Runs the operators that collect driver-side state plus one
    representative per family against zero-row copies of every table."""
    import duckdb

    src = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"COPY (SELECT * FROM '{src}/{t}.parquet' LIMIT 0) "
            f"TO '{tmp_path}/{t}.parquet' (FORMAT PARQUET)"
        )
    con.close()

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    probe = [
        # formerly crashed: driver-side empty collections
        "q_ivf_ann_topk", "q_ivf_exhaustive", "q_ivf_trained_topk",
        "q_ivf_served_topk", "q_ivfpq_topk", "q_ivfpq_auto_topk",
        "q_pq_topk",
        "q_semantic_dedup", "q_temperature_sample",
        # one representative per major family
        "q1_pricing_summary", "q_minhash_lsh", "q_doc_profile",
        "q_hll_rollup", "q_event_pattern", "q_dsir_weights",
        "q_hard_negatives", "q_quality_propagation", "q_lsh_recall",
    ]
    for name in probe:
        out = qs[name](spark, str(tmp_path))
        # full evaluation, not just count(): projections must execute
        out.write.format("noop").mode("overwrite").save()


#: Queries whose plans legitimately contain a BroadcastNestedLoopJoin:
#: every entry is either a 1-row broadcast scalar (corpus total /
#: threshold entering the plan without a collect) or a deliberately
#: sample/literal-sized inequality join.  Anything NOT listed here that
#: grows a BNLJ (or any query growing a CartesianProduct) is a plan
#: regression: at corpus scale an accidental nested-loop join is the
#: difference between minutes and weeks.
BNLJ_ALLOWED = {
    "q_silhouette",             # all-centroid map (1-row broadcast, r13)
    "q_davies_bouldin",         # |labels|-row centroid-vector self-join
                                # (non-equi __ga != __gb, r13)
    "q11_important_parts",      # scalar HAVING threshold (1-row broadcast)
    "q22_dormant_customers",    # scalar avg balance (1-row broadcast)
    "q_above_mean",             # scalar mean (1-row broadcast)
    "q_assoc_rules",            # scalar basket count (1-row broadcast)
    "q_benford",                # scalar row total (1-row broadcast)
    "q_bigram_nll",             # corpus totals (1-row broadcast)
    "q_kn_bigram_nll",          # bigram-type total (1-row broadcast)
    "q_cosine_sim_join",        # corpus doc-count (1-row broadcast)
    "q_bh_fdr",                 # corpus moments + m (1-row broadcasts)
    "q_token_label_mi",         # label totals (1-row broadcast)
    "q_bm25_topk",              # corpus doc count + avg len (1-row)
    "q_burstiness",             # corpus doc count (1-row broadcast)
    "q_isotonic_calibration",   # <=20-row bin-range lattice (non-equi broadcast)
    "q_ips_offpolicy",          # distinct-action count K (1-row broadcast)
    "q_unigram_tokenizer",      # usage total (1-row broadcast)
    "q_modularity",             # edge total m (1-row broadcast)
    "q_priority_sample",        # tau threshold (1-row broadcast)
    "q_eb_shrinkage",           # beta prior alpha/beta (1-row broadcast)
    "q_negative_samples",       # corpus total + vocab size (1-row broadcast)
                                # + the |shuffle partitions|-row prefix-sum
                                # offsets triangular join (r8); the draw probe
                                # itself is a binned EQUI-join since r7 — the
                                # vocab table never BNLJ-probes
    "q_decontaminate_bloom",    # aggregated bloom filter (1-row)
    "q_dq_report",              # corpus stat row (1-row broadcast)
    "q_dsir_weights",           # vocab totals (1-row broadcast)
    "q_funnel",                 # step-0 cohort size (1-row broadcast)
    "q_hard_negatives",         # anchor-set broadcast (batch-sized)
    "q_kmv_overlap",            # |sources|-row sketch-stat self-join (a.g < b.g)
    "q_vocab_growth",           # regression moments (1-row broadcast)
    "q_wasserstein",            # group totals (1-row broadcast) + the
                                # prefix-sum offsets triangular join
    "q_breusch_pagan",          # fitted line a/b (1-row broadcast)
    "q_cooks_distance",         # six-moment fit row (1-row broadcast)
    "q_energy_distance",        # group totals (1-row broadcast) + the
                                # prefix-sum offsets triangular join
    "q_pacf",                   # daily-series mean/denominator
                                # (1-row broadcasts, the q_acf shape)
    "q_alexander_govern",       # variance-weighted grand mean
                                # (1-row broadcast over the k-row table)
    "q_acf",                    # series mean + denominator (1-row each)
    "q_heldout_nll",            # train-LM totals (1-row broadcast)
    "q_ks_test",                # group totals (1-row broadcast) + the
                                # |shuffle partitions|-row prefix-sum
                                # offsets triangular join (r8)
    "q_mannwhitney",            # prefix-sum offsets triangular join (r8,
                                # |shuffle partitions| rows)
    "q_cohens_kappa",           # obs x pe 1-row cross (r8)
    "q_fleiss_kappa",           # tot / obs / pe 1-row crosses (r8)
    "q_cochran_q",              # subject x treatment 1-row cross (r8)
    "q_cronbach_alpha",         # n-row / moments 1-row crosses (r8)
    "q_spearman_rho",           # prefix-sum offsets triangular joins (r8)
    "q_kendall_tau",            # bounded 10x24 cell self-join + 1-row
                                # tie-term crosses (r8)
    "q_theil_sen",              # |days|^2 slope self-join + 1-row median
                                # crosses (r8)
    "q_grubbs",                 # daily moments (1-row broadcast, r8)
    "q_brier_decomp",           # base-rate 1-row cross (r8)
    "q_lift_curves",            # band totals 1-row cross (r8)
    "q_propensity_strata",      # stratum-total 1-row cross (r8)
    "q_tstat_features",         # class-size 1-row broadcast (r8)
    "q_cond_entropy",           # bigram-total 1-row crosses (r8)
    "q_pareto_front",           # prefix-max offsets triangular join (r8)
    "q_mood_median",            # prefix-sum offsets + median/total 1-row
                                # crosses (r8)
    "q_runs_test",              # days-sized median/count 1-row crosses (r8)
    "q_hodges_lehmann",         # |days|^2 Walsh self-join + 1-row median
                                # crosses (r8)
    "q_js_sources",             # corpus-total 1-row cross (r8)
    "q_pettitt",                # prefix-sum offsets + n 1-row cross (r8)
    "q_ndcg",                   # dcg x idcg 1-row cross (r8)
    "q_info_gain",              # class-size 1-row broadcast (r8)
    "q_cramers_v",              # marginal-grid total 1-row cross (r8)
    "q_weighted_kappa",         # marginal-grid total 1-row cross (r8)
    "q_log_odds",               # corpus totals 1-row broadcast (r8)
    "q_lsh_calibration",        # literal layout x grid (57 rows)
    "q_lsh_recall",             # 250-doc pair-sample self-join
    "q_mixture_diversity",      # corpus total + entropy row (1-row each)
    "q_token_pmi",              # pair total (1-row broadcast)
    "q_unigram_nll",            # corpus total (1-row broadcast)
    "q_perplexity_buckets",     # inherits unigram_nll corpus total (1-row)
    "q_rank_trend",             # corpus time bounds (1-row broadcast)
    "q_cuped",                  # corpus time bounds (1-row broadcast)
    "q_permutation_test",       # group totals (1-row broadcast)
    "q_fk_orphans",             # per-edge 1-row stat x 1-row orphan stat
    "q_record_linkage",         # per-field u-estimate (1-row broadcast)
    "q_t_closeness",            # value-domain spine + 1-row totals
    "q_pca_power",              # n / mean-vector / norm / trace (1-row each)
    # r9 additions — every broadcast side below is structurally
    # verified by _bnlj_unbounded_broadcasts (keys=[] aggregates,
    # prefix-scan offsets tables, literal Ranges, or a registered
    # bounded-domain pattern)
    "q_exact_quantiles",        # total-count 1-row cross + offsets join
    "q_weighted_median",        # total-weight 1-row selection join + offsets
    "q_trimmed_mean",           # total-count 1-row cross + offsets join
    "q_kruskal_wallis",         # n / tie-sum 1-row crosses + offsets join
    "q_cramer_von_mises",       # group-total 1-row cross + offsets join
    "q_theil_index",            # n/mean 1-row cross
    "q_hellinger_drift",        # corpus-total 1-row cross
    "q_kendall_w",              # item-spine broadcast (registered) + 1-row
                                # moments/ties crosses
    "q_rbo",                    # literal 50-row depth Range + 1-row count
    "q_transitivity",           # triangle-total 1-row cross
    "q_sax_symbols",            # z-moment 1-row cross + offsets join
    "q_ansari_bradley",         # group-total 1-row cross + offsets join
    "q_jonckheere",             # group-moment 1-row cross + offsets join
    "q_page_hinkley",           # mean 1-row cross + two prefix passes
    "q_ljung_box",              # acf mean/denominator 1-row crosses
    "q_ks_uniform",             # total-count 1-row cross + offsets join
    "q_hurst_exponent",         # regression-moment 1-row cross
    "q_cliffs_delta",           # group-total 1-row cross + offsets join
    "q_kuiper",                 # total-count 1-row cross + offsets join
    "q_wilcoxon",               # pair-count 1-row cross + offsets join
    "q_periodogram",            # day-zero/grand-mean 1-row cross
    "q_anderson_darling",       # group-total 1-row cross + offsets join
    "q_brunner_munzel",         # rank-mean 1-row cross + offsets join
    "q_naive_bayes",            # |classes|-row model-stat broadcast
                                # (registered keys=[__m_y#] pattern) +
                                # vocab/doc-count 1-row crosses
    "q_calinski_harabasz",      # B/W dispersion 1-row crosses
    "q_spectral_entropy",       # day-zero/grand-mean + power-total
                                # 1-row crosses
    "q_logrank",                # subject-total 1-row cross + offsets join
    "q_decision_stump",         # label-prior 1-row cross + offsets join
                                # (one per feature)
    "q_auc_delong",             # placement-mean 1-row cross + offsets join
    "q_average_precision",      # class-total 1-row cross + offsets join
    "q_hits",                   # node-count + L1-normalization totals
                                # (1-row crosses, one per half-step)
    "q_welch_anova",            # weighted grand-mean 1-row cross
}


def _unpartitioned_window_offenses(plan: str) -> list[str]:
    """Return the Window nodes in a physical plan string that (a) have an
    EMPTY partition spec and (b) do NOT sit above a collapsing operator
    (aggregate / limit / WindowGroupLimit) in their subtree.  Such a node
    is WindowExec's worst case: the ENTIRE input moves to one task (Spark
    itself warns 'No Partition Defined for Window operation').  Windowing
    a table already collapsed to dimension size is fine; windowing raw
    rows globally is the q_mannwhitney-class scale-killer this guard
    exists to catch at commit time.

    r9 tightening: a collapsing node only CREDITS the window if no
    Join/Expand sits on the ancestor path between them.  The r8 rule
    ("any collapse anywhere in the subtree") had a loophole: an
    aggregate BELOW an expanding self-join credited a window over the
    join OUTPUT, so a days-collapse feeding a days² pair table hid a
    days²-sized single-task sort (the shape theil_sen/hodges_lehmann
    carried until their medians moved to ``parallelism.exact_median``).
    A join whose OTHER side is itself structurally 1-row-bounded
    (keys=[] aggregate / a 1-row Limit) cannot expand the path side,
    so those joins stay transparent — the scalar-cross shape every
    runs_test-class days-sized median legitimately uses."""
    lines = plan.split("\n")

    def _depth(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-"))

    def _node(ln: str) -> str:
        """Node body with tree chars AND the whole-stage-codegen
        '*(N) ' prefix stripped, so startswith() sees the operator."""
        b = ln.lstrip(" :+-")
        if b.startswith("*("):
            b = b.split(") ", 1)[-1]
        return b

    def _is_collapse(s: str) -> bool:
        return (
            ("Aggregate(" in s) or ("WindowGroupLimit" in s)
            or ("Limit" in s)
            # TakeOrderedAndProject bounds its output to `limit` rows —
            # the distributed top-k IS a collapsing operator (q_ndcg's
            # k-row position windows sit above it)
            or ("TakeOrderedAndProject" in s)
        )

    def _is_join(s: str) -> bool:
        return ("Join" in s) or ("CartesianProduct" in s) or (
            _node(s).startswith("Expand")
        )

    def _is_one_row_bounded(sub: list[str]) -> bool:
        """A subtree that structurally yields at most one row (or a
        literal handful): a global (keys=[]) aggregate or a Limit at
        its root-ish — the broadcast scalar shape."""
        for s in sub:
            if not s.strip():
                continue
            b = _node(s)
            if "Aggregate(keys=[], " in s or "Aggregate(keys=[]," in s:
                return True
            if b.startswith(("CollectLimit", "GlobalLimit", "LocalLimit",
                             "TakeOrderedAndProject")):
                return True
            # stop at the first non-pass-through node: only unary
            # projections/exchanges are transparent for boundedness
            if not b.startswith(
                ("Project", "Filter", "BroadcastExchange", "Exchange",
                 "ColumnarToRow", "InputAdapter", "WholeStageCodegen",
                 "Sort ", "Coalesce", "AQEShuffleRead", "ShuffleQueryStage",
                 "BroadcastQueryStage", "ReusedExchange")
            ):
                return False
        return False

    def _subtree(idx: int) -> list[str]:
        d = _depth(lines[idx])
        out = []
        for nxt in lines[idx + 1:]:
            if nxt.strip() and _depth(nxt) <= d:
                break
            out.append(nxt)
        return out

    def _children(idx: int, sub: list[str]) -> list[int]:
        """Absolute indices of the direct children of lines[idx] within
        its subtree (the minimal-depth lines of the subtree)."""
        if not sub:
            return []
        depths = [(_depth(s), j) for j, s in enumerate(sub) if s.strip()]
        if not depths:
            return []
        dmin = min(d for d, _ in depths)
        return [idx + 1 + j for d, j in depths if d == dmin]

    offenses = []
    for i, ln in enumerate(lines):
        body = ln.lstrip(" :+-")
        if not body.startswith("Window "):
            continue
        if "windowspecdefinition(" not in ln:
            continue
        first_arg = ln.split("windowspecdefinition(", 1)[1].split(",", 1)[0]
        partitioned = (
            " ASC" not in first_arg
            and " DESC" not in first_arg
            and not first_arg.startswith("specifiedwindowframe")
        )
        if partitioned:
            continue

        def _credited(idx: int) -> bool:
            """Does the subtree under lines[idx] contain a collapsing
            node reachable without crossing a cardinality-expanding
            Join/Expand?"""
            for c in _children(idx, _subtree(idx)):
                s = lines[c]
                if _is_collapse(s):
                    return True
                if _is_join(s):
                    # transparent only if some child side is 1-row
                    # bounded (scalar cross) — then recurse into the
                    # OTHER side(s)
                    kids = _children(c, _subtree(c))
                    bounded = [
                        k for k in kids
                        if _is_one_row_bounded([lines[k]] + _subtree(k))
                    ]
                    if not bounded:
                        continue  # expanding join: path dies here
                    for k in kids:
                        if k in bounded:
                            continue
                        if _credited(k) or _is_collapse(lines[k]):
                            return True
                    # all non-bounded sides failed; if EVERY side is
                    # bounded the join output is itself ~1 row
                    if len(bounded) == len(kids):
                        return True
                    continue
                if _credited(c):
                    return True
            return False

        if not _credited(i):
            offenses.append(body.split("windowspecdefinition")[0].strip())
    return offenses


def test_unpartitioned_window_guard_catches_regression(spark):
    """The guard itself must fire on the q_mannwhitney-class shape it was
    written for: a global rank window over raw (non-collapsed) rows."""
    from pyspark.sql import Window

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    )
    bad = df.select("id", F.rank().over(Window.orderBy("v")).alias("r"))
    plan = _physical(bad)
    assert _unpartitioned_window_offenses(plan), plan
    # and must NOT fire once the same window runs over a collapsed table
    good = (
        df.groupBy("v")
        .count()
        .select("v", F.rank().over(Window.orderBy("v")).alias("r"))
    )
    assert not _unpartitioned_window_offenses(_physical(good))


def test_unpartitioned_window_guard_sees_through_join_loophole(spark):
    """r9 tightening: a collapse BELOW an expanding self-join must NOT
    credit a global window over the join OUTPUT (the days²-pair shape
    theil_sen/hodges_lehmann carried until r9), while a join against a
    structurally 1-row side (scalar cross) stays transparent."""
    from pyspark.sql import Window

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 30).alias("v")
    )
    daily = df.groupBy("v").agg(F.count("*").alias("c"))
    # aggregate -> expanding self-join -> global window: must FIRE
    a = daily.select(F.col("v").alias("va"), F.col("c").alias("ca"))
    b = daily.select(F.col("v").alias("vb"), F.col("c").alias("cb"))
    pairs = a.join(F.broadcast(b), F.col("va") < F.col("vb"))
    bad = pairs.select(
        "va", "vb",
        F.row_number().over(Window.orderBy("ca", "va", "vb")).alias("rn"),
    )
    assert _unpartitioned_window_offenses(_physical(bad)), _physical(bad)
    # aggregate -> 1-row scalar cross -> global window: must NOT fire
    tot = daily.agg(F.sum("c").alias("m"))
    scalar_cross = daily.crossJoin(F.broadcast(tot)).select(
        "v",
        F.row_number().over(Window.orderBy("c", "v")).alias("rn"),
    )
    assert not _unpartitioned_window_offenses(_physical(scalar_cross))


#: Queries whose plans legitimately carry an unpartitioned Window over a
#: non-aggregated subtree: each is a dimension-sized or deliberately
#: bounded input, stated here so growth is a conscious decision.
GLOBAL_WINDOW_ALLOWED: dict[str, str] = {}


def test_no_unpartitioned_window_over_raw_rows(spark):
    """Every catalog query: any Window with an empty partition spec must
    sit above a collapsing operator (aggregate/limit), else WindowExec
    serializes the whole input through one task — minutes vs weeks at
    corpus scale.  (This guard would have caught q_mannwhitney's r5
    unpartitioned raw-row rank window at commit time.)"""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    sf = "/root/testdata/sf0.001"
    offenders = {}
    for name in sorted(qs):
        plan = (
            qs[name](spark, sf)._jdf.queryExecution().executedPlan().toString()
        )
        hits = _unpartitioned_window_offenses(plan)
        if hits and name not in GLOBAL_WINDOW_ALLOWED:
            offenders[name] = hits[0][:120]
    assert not offenders, offenders


def test_priority_window_accounting():
    """The driver's correctness gate checks only the first 50 names of
    ``queries()``.  The order is computed (``plans/gate.py``): every
    must-gate query (never driver-green, or its fingerprint changed since
    its last green row) sits inside the window, or fills it; every
    ``GATE_MANIFEST.json`` entry is backed by a green row of the round it
    names; and every registered query is ordered, so none leaps the head.
    """
    import json
    import pathlib

    import __spark_entry__ as entrymod
    from conte_to_fresco_etl_spark.plans import catalog, gate

    registered = list(entrymod.queries())
    must = gate.must_gate()
    if len(must) <= 50:
        assert set(must) <= set(registered[:50]), sorted(set(must) - set(registered[:50]))
    else:
        assert registered[:50] == must[:50]

    repo = pathlib.Path(__file__).resolve().parent.parent
    manifest = json.loads((repo / "GATE_MANIFEST.json").read_text())
    for name, entry in manifest.items():
        assert name in catalog.QUERIES, f"manifest names unregistered {name}"
        rows = json.loads((repo / f"CORRECTNESS_r{entry['round']:02d}.json").read_text())
        row = rows.get(name, {})
        assert (
            row.get("rows_match")
            and row.get("schema_match")
            and row.get("hash_match", True)
            and not row.get("err")
        ), f"{name}: no green row in CORRECTNESS_r{entry['round']:02d}.json"

    assert sorted(registered) == sorted(catalog.QUERIES)
    assert list(entrymod.oracle_sql()) == [n for n in registered if n in catalog.ORACLES]
    assert registered[: len(must)] == must
    rounds = [manifest[n]["round"] for n in registered[len(must):]]
    assert rounds == sorted(rounds), "green queries must run stalest round first"


#: For BNLJ broadcast sides that are NOT structurally 1-row/limited —
#: keyed (grouped) aggregates over a bounded domain, literal tables
#: arriving as Scan ExistingRDD, hash-sampled query batches: the side
#: must match one of these REGISTERED plan-text patterns, each a
#: precise statement of WHY the domain is bounded.  ``__pid`` offsets
#: tables are accepted globally.  Registering a pattern here is the
#: conscious "this domain is bounded" decision the old prose
#: annotations made — but now a corrupted entry (pointing a data-sized
#: side at the BNLJ) FAILS the structural test instead of surviving on
#: stale prose: raw FileScan-rooted data matches none of these.
BNLJ_BOUNDED_PATTERNS: dict[str, tuple[str, ...]] = {
    # 9-row literal Benford first-digit probability table
    "q_benford": ("Scan ExistingRDD[digit#",),
    # aggregated bloom bitmap: ONE localCheckpointed row
    "q_decontaminate_bloom": ("Scan ExistingRDD[__bm#",),
    # daily (date_trunc) collapse: |days|-sized by construction
    "q_theil_sen": ("date_trunc(day",),
    "q_hodges_lehmann": ("date_trunc(day",),
    # per-source KMV sketch stats / k=64-capped postings: |sources| rows
    "q_kmv_overlap": ("keys=[g#",),
    # quasi-identifier value-domain spine (bounded attribute grid)
    "q_t_closeness": ("keys=[__v#",),
    # rating-band marginals: |bands| <= 5
    "q_weighted_kappa": ("keys=[rb#", "keys=[ra#"),
    "q_cramers_v": ("keys=[rb#", "keys=[ra#"),
    # calibration-bin lattice: width_bucket caps bins at ~20
    "q_isotonic_calibration": ("keys=[bin#",),
    # bounded 10x24 (priority x hour) cell grid self-join — BOTH keys
    # named (multi-key registration: each dimension is bounded)
    "q_kendall_tau": ("keys=[x#&&, y#",),
    # 1-in-100 hash-sampled anchor batch (vec_id % 100 = 0)
    "q_hard_negatives": ("% 100) = 0",),
    # recall probe: the <=250-doc id-capped pair sample (the literal
    # cap is pushed to the scan, so it shows in PushedFilters)
    "q_lsh_recall": ("LessThan(doc_id,250)",),
    # Kendall-W item spine: the distinct (user_id % 20) buckets —
    # a <= 20-row domain by construction
    "q_kendall_w": ("keys=[__i#",),
    # Naive-Bayes class-stat table: keyed on the class label — a
    # |classes|-row domain (5 langs) by construction.  Since the r13
    # single-collapse rewrite the only label-keyed aggregate still
    # VISIBLE in the broadcast side is cls (grouped on __m_y; the
    # doc-count aggregate is behind a localCheckpoint scan)
    "q_naive_bayes": ("keys=[__m_y#",),
    # centroid-vector table: keyed on the cluster label — a |labels|-row
    # domain by construction (r13 array-expression rewrite)
    "q_davies_bouldin": ("keys=[__g#",),
}


def _plan_tree_text(df) -> str:
    """Serialize a DataFrame's executed plan as WELL-FORMED tree text
    (one node per line, uniform 3-space child indentation) by walking
    the JVM plan tree directly.  Spark's own ``toString`` prints a
    cached relation's inner AdaptiveSparkPlan with its OWN base
    indentation — which can jump SHALLOWER than the enclosing tree and
    silently swallow sibling subtrees from any text parser (the
    full-suite q_cosine_sim_join flake: the staged posting cache's
    nested print ate the BNLJ's broadcast child).  Walking the tree
    makes parent/child structure exact; wrapper nodes with empty
    ``children()`` (query stages, cached scans, reused exchanges,
    adaptive plans) are resolved through their accessor methods."""
    lines: list[str] = []

    def rec(node, depth: int) -> None:
        try:
            simple = node.simpleString(1000)
        except Exception:  # noqa: BLE001 — very old API fallback
            simple = node.nodeName()
        lines.append("   " * depth + "+- " + simple)
        kids = []
        try:
            ch = node.children()
            kids = [ch.apply(i) for i in range(ch.size())]
        except Exception:  # noqa: BLE001
            kids = []
        if not kids:
            # wrapper nodes: resolve the real child through accessors
            for acc in ("child", "plan", "executedPlan", "inputPlan"):
                try:
                    inner = getattr(node, acc)()
                    if inner is not None:
                        kids = [inner]
                        break
                except Exception:  # noqa: BLE001
                    continue
            if not kids:
                try:  # InMemoryTableScanExec -> cached physical plan
                    inner = node.relation().cachedPlan()
                    if inner is not None:
                        kids = [inner]
                except Exception:  # noqa: BLE001
                    pass
        for k in kids:
            rec(k, depth + 1)

    rec(df._jdf.queryExecution().executedPlan(), 0)
    return "\n".join(lines)


def _bnlj_unbounded_broadcasts(
    plan: str, extra_keys: tuple[str, ...] = ()
) -> list[str]:
    """Return the BroadcastNestedLoopJoin nodes in a physical plan whose
    broadcast side is NOT structurally bounded.  Bounded means the
    broadcast subtree's root path (through cardinality-preserving unary
    nodes) reaches one of: a global ``keys=[]`` aggregate (1 row), a
    Limit / TakeOrderedAndProject (k rows), a LocalTableScan (literal),
    an aggregate grouped by an explicitly registered bounded-domain key
    (``__pid`` offsets tables are accepted globally), or a join all of
    whose sides are themselves bounded (scalar x scalar crosses).

    This replaces trusting the BNLJ_ALLOWED prose: at 100 TB an
    accidental data-sized BNLJ side is the difference between minutes
    and weeks, so boundedness must be a property of the PLAN, not of a
    comment."""
    # Spark prints a cached relation's inner AdaptiveSparkPlan
    # (isFinalPlan=true) with its OWN base indentation, which can jump
    # SHALLOWER than the enclosing tree and corrupt parent/child depth
    # inference for everything after it.  Excise such nested blocks:
    # the inner print runs until a line carrying an outer tree-bar
    # (':' before the block's base column) or climbing above the base
    # depth resumes the real tree.  The excised content is the cached
    # plan body — its boundedness, when needed, is carried by a
    # registered per-query pattern instead.
    raw = plan.split("\n")

    def _rdepth(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-"))

    pruned: list[str] = []
    i = 0
    while i < len(raw):
        ln = raw[i]
        if (
            ln.lstrip(" :+-").startswith("AdaptiveSparkPlan isFinalPlan=true")
            and i + 1 < len(raw)
            and raw[i + 1].strip()
            and _rdepth(raw[i + 1]) < _rdepth(ln)
        ):
            pruned.append(ln)  # keep the node itself (as a leaf)
            base = _rdepth(raw[i + 1])
            j = i + 1
            while j < len(raw):
                l2 = raw[j]
                if l2.strip() and (
                    ":" in l2[: max(0, base - 1)] or _rdepth(l2) < base
                ):
                    break
                j += 1
            i = j
            continue
        pruned.append(ln)
        i += 1

    # AQE section headers break parent/child depth inference in
    # correctly-indented (top-level) prints too — drop them
    lines = [
        ln for ln in pruned
        if not ln.lstrip(" :+-").startswith(("== Final Plan ==",
                                             "== Initial Plan ==",
                                             "== Current Plan =="))
    ]

    def _depth(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-"))

    def _node(ln: str) -> str:
        b = ln.lstrip(" :+-")
        if b.startswith("*("):
            b = b.split(") ", 1)[-1]
        return b

    def _subtree_idx(idx: int) -> list[int]:
        d = _depth(lines[idx])
        out = []
        for j in range(idx + 1, len(lines)):
            if lines[j].strip() and _depth(lines[j]) <= d:
                break
            out.append(j)
        return out

    def _children(idx: int) -> list[int]:
        sub = [j for j in _subtree_idx(idx) if lines[j].strip()]
        if not sub:
            return []
        dmin = min(_depth(lines[j]) for j in sub)
        return [j for j in sub if _depth(lines[j]) == dmin]

    _PASS_THROUGH = (
        "Project", "Filter", "BroadcastExchange", "Exchange", "Sort ",
        "Sort[", "Window", "Coalesce", "ColumnarToRow", "InputAdapter",
        "WholeStageCodegen", "AQEShuffleRead", "InMemoryTableScan",
        "InMemoryRelation", "AdaptiveSparkPlan",
    )
    # query-stage markers print their real child at the SAME text depth
    # (no +- marker shift), so a stage line may appear childless with
    # the content as its sibling — treat the marker itself as neutral
    _STAGE_MARKERS = ("ResultQueryStage", "ShuffleQueryStage",
                      "BroadcastQueryStage", "TableCacheQueryStage")

    def _keyed_agg_allowed(ln: str) -> bool:
        if "Aggregate(keys=[" not in ln:
            return False
        keys = ln.split("Aggregate(keys=[", 1)[1].split("]", 1)[0]
        if not keys:
            return False
        return any(a in keys for a in ("__pid", "__bpid"))

    def _literal_range_bounded(b: str) -> bool:
        # Range (1, 20, step=1, splits=8): statically sized — bounded
        # when the literal span is dimension-scale
        if not b.startswith("Range ("):
            return False
        try:
            inner = b.split("Range (", 1)[1].split(")", 1)[0]
            start, end = [int(x.strip()) for x in inner.split(",")[:2]]
            return (end - start) <= 100_000
        except (ValueError, IndexError):
            return False

    def _bounded(idx: int) -> bool:
        ln = lines[idx]
        b = _node(ln)
        if "Aggregate(keys=[], " in ln or "Aggregate(keys=[]," in ln:
            return True
        if _keyed_agg_allowed(ln):
            return True
        if b.startswith(("CollectLimit", "GlobalLimit", "LocalLimit",
                         "TakeOrderedAndProject")):
            return True
        if b.startswith(("LocalTableScan", "Scan OneRowRelation")):
            return True
        if _literal_range_bounded(b):
            return True
        if ("Join" in b) or b.startswith(("CartesianProduct", "Expand")):
            kids = _children(idx)
            return bool(kids) and all(_bounded(k) for k in kids)
        if b.startswith("ReusedExchange"):
            # leaf reference to an exchange defined elsewhere: cheap
            # conservative fallback — accept only if every
            # BroadcastExchange subtree in the plan is bounded
            return all(
                _bounded(j)
                for j, l2 in enumerate(lines)
                if _node(l2).startswith("BroadcastExchange")
            )
        if b.startswith(_STAGE_MARKERS):
            kids = _children(idx)
            # childless marker: real content parsed as a sibling and
            # checked there
            return (not kids) or all(_bounded(k) for k in kids)
        if b.startswith(_PASS_THROUGH):
            kids = _children(idx)
            return bool(kids) and all(_bounded(k) for k in kids)
        return False

    offenses = []
    for i, ln in enumerate(lines):
        if "BroadcastNestedLoopJoin" not in ln:
            continue
        kids = _children(i)
        # the BNLJ line names its own build side — use it; fall back to
        # locating the BroadcastExchange child, then to checking every
        # side (strictest)
        sides = kids
        if len(kids) == 2:
            if "BuildRight" in ln:
                sides = [kids[1]]
            elif "BuildLeft" in ln:
                sides = [kids[0]]
            else:

                def _is_bcast_side(idx: int) -> bool:
                    j = idx
                    while True:
                        b = _node(lines[j])
                        if b.startswith(("BroadcastExchange",
                                         "BroadcastQueryStage",
                                         "ReusedExchange")):
                            return True
                        kk = _children(j)
                        if len(kk) != 1:
                            return False
                        j = kk[0]

                bcast = [k for k in kids if _is_bcast_side(k)]
                sides = bcast if bcast else kids
        for k in sides:
            if _bounded(k):
                continue
            side_text = "\n".join(
                [lines[k]] + [lines[j] for j in _subtree_idx(k)]
            )

            def _pattern_matches(p: str) -> bool:
                if "&&" in p:
                    # explicit multi-key registration: every fragment
                    # must land on ONE line — the registrant names
                    # each key of the bounded grid (e.g. kendall_tau's
                    # 10x24 (priority, hour) cell aggregate)
                    frags = p.split("&&")
                    return any(
                        all(f in ln2 for f in frags)
                        for ln2 in side_text.split("\n")
                    )
                if p not in side_text:
                    return False
                if not p.startswith("keys=["):
                    return True
                # A bounded-DOMAIN key pattern must match a SINGLE-key
                # aggregate: the same prefix also appears in multi-key
                # aggregates (e.g. naive_bayes' (class, token) model
                # collapse shares its first key with the |classes|-row
                # cls aggregate), and a (bounded x data-sized) key pair
                # is NOT bounded by the registered key alone (ADVICE
                # r13).  Registered domains are plain columns, so a
                # ", " inside the printed key list means multi-key.
                for ln2 in side_text.split("\n"):
                    if p in ln2:
                        keys = ln2.split("keys=[", 1)[1].split("]", 1)[0]
                        if ", " not in keys:
                            return True
                return False

            if extra_keys and any(_pattern_matches(p) for p in extra_keys):
                continue  # registered bounded-domain pattern matched
            offenses.append(_node(ln)[:80] + " <- " + _node(lines[k])[:60])
    return offenses


def test_no_unplanned_cartesian_or_nested_loop_joins(spark):
    """Every catalog query's physical plan: zero CartesianProduct
    anywhere; BroadcastNestedLoopJoin only where a 1-row scalar or a
    bounded sample/literal side makes it the right plan — and (r9) the
    boundedness of every allow-listed BNLJ's broadcast side is verified
    STRUCTURALLY against the plan, not trusted from the annotation."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    sf = "/root/testdata/sf0.001"
    offenders = {}
    for name in sorted(qs):
        df = qs[name](spark, sf)
        # the well-formed tree serialization — session caches staged by
        # earlier tests make Spark's own toString() unparseable (nested
        # cached-plan prints at the WRONG indentation)
        plan = _plan_tree_text(df)
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan:
            if name not in BNLJ_ALLOWED:
                offenders[name] = "BroadcastNestedLoopJoin (not allow-listed)"
            else:
                bad = _bnlj_unbounded_broadcasts(
                    plan, BNLJ_BOUNDED_PATTERNS.get(name, ())
                )
                if bad:
                    offenders[name] = f"unbounded BNLJ side: {bad[0]}"
    assert not offenders, offenders


def test_bnlj_structural_check_catches_corruption(spark):
    """A data-sized broadcast side pointed at a BNLJ must FAIL the
    structural check (the self-verification the r8 prose annotations
    could not give), while the legitimate scalar-cross and offsets
    shapes pass."""
    # real file-scan-rooted data (a literal Range would legitimately
    # pass the static-size rule)
    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        F.col("user_id").alias("id"), (F.col("user_id") % 30).alias("v")
    )
    # corrupted: non-equi join against a broadcast of RAW data
    raw = df.select(F.col("id").alias("id2"), F.col("v").alias("v2"))
    bad = df.join(F.broadcast(raw), F.col("v") < F.col("v2"))
    plan_bad = _plan_tree_text(bad)
    assert "BroadcastNestedLoopJoin" in plan_bad
    assert _bnlj_unbounded_broadcasts(plan_bad), plan_bad
    # legitimate: scalar cross (keys=[] aggregate broadcast side)
    tot = df.agg(F.sum("v").alias("m"))
    good = df.crossJoin(F.broadcast(tot))
    plan_good = _plan_tree_text(good)
    assert "BroadcastNestedLoopJoin" in plan_good
    assert not _bnlj_unbounded_broadcasts(plan_good), plan_good
    # legitimate: keyed aggregate side under a REGISTERED bounded key
    grp = df.groupBy("v").agg(F.count("*").alias("c"))
    keyed = df.join(
        F.broadcast(grp.select(F.col("v").alias("vb"), "c")),
        F.col("v") < F.col("vb"),
    )
    plan_keyed = _plan_tree_text(keyed)
    assert "BroadcastNestedLoopJoin" in plan_keyed
    assert _bnlj_unbounded_broadcasts(plan_keyed)  # unregistered: fails
    # registered bounded-domain pattern: ok
    assert not _bnlj_unbounded_broadcasts(plan_keyed, ("keys=[v#",))
    # a registered pattern must NOT rescue the raw-data corruption
    assert _bnlj_unbounded_broadcasts(plan_bad, ("keys=[v#",))


def test_prefix_sums_matches_global_window(spark):
    """parallelism.prefix_sums == the single-task global cumulative
    window, bit-for-bit, for integer and decimal columns with
    adversarial key distributions (duplicount ties live in the sum
    columns, never the order key)."""
    import random

    from pyspark.sql import Window

    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    rng = random.Random(42)
    rows = [
        (k, rng.randint(-50, 50), round(rng.uniform(0, 9), 4))
        for k in rng.sample(range(100000), 500)
    ]
    df = spark.createDataFrame(rows, "k long, a long, b double").select(
        "k", "a", F.col("b").cast("decimal(18,4)").alias("b")
    )
    got = {
        r["k"]: (r["cum_a"], r["cum_b"])
        for r in prefix_sums(df.repartition(13), "k", ["a", "b"]).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    expect = {
        r["k"]: (r["ca"], r["cb"])
        for r in df.select(
            "k",
            F.sum("a").over(w).alias("ca"),
            F.sum("b").over(w).alias("cb"),
        ).collect()
    }
    assert got == expect


def test_prefix_max_matches_global_window_incl_exclusive(spark):
    """prefix_max == the global running max in both directions, and
    the exclusive scan yields NULL for the first row and the strict
    predecessor max elsewhere."""
    import random

    from pyspark.sql import Window

    from conte_to_fresco_etl_spark.parallelism import prefix_max

    rng = random.Random(7)
    rows = [(k, rng.randint(-1000, 1000)) for k in rng.sample(range(50000), 400)]
    df = spark.createDataFrame(rows, "k long, v long")
    for desc in (False, True):
        order = F.col("k").desc() if desc else F.col("k").asc()
        w = Window.orderBy(order).rowsBetween(Window.unboundedPreceding, 0)
        wx = Window.orderBy(order).rowsBetween(Window.unboundedPreceding, -1)
        expect = {
            r["k"]: (r["m"], r["mx"])
            for r in df.select(
                "k",
                F.max("v").over(w).alias("m"),
                F.max("v").over(wx).alias("mx"),
            ).collect()
        }
        inc = {
            r["k"]: r["cum_max"]
            for r in prefix_max(
                df.repartition(9), "k", "v", descending=desc
            ).collect()
        }
        exc = {
            r["k"]: r["cum_max"]
            for r in prefix_max(
                df.repartition(9), "k", "v", descending=desc, exclusive=True
            ).collect()
        }
        assert inc == {k: m for k, (m, _) in expect.items()}
        assert exc == {k: mx for k, (_, mx) in expect.items()}


def test_kth_element_and_exact_median_match_row_number(spark):
    """parallelism.kth_element / exact_median == the single-task
    row_number spelling, bit-for-bit, across odd/even counts, heavy
    ties, negative values, and a single-row input — and the plan has
    NO unpartitioned Window node at all (that is the point)."""
    import random

    from pyspark.sql import Window

    from conte_to_fresco_etl_spark.parallelism import exact_median, kth_element

    rng = random.Random(99)
    cases = [
        [round(rng.uniform(-5, 5), 2) for _ in range(n)]
        for n in (1, 2, 7, 400)
    ]
    cases.append([1.5] * 50 + [2.5] * 49)  # tie-heavy, even
    cases.append([-3.0] * 7 + [4.0])       # tie-heavy, mostly one value
    for vals in cases:
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "i long, v double"
        ).repartition(7)
        med = exact_median(df, "v").collect()[0]
        w = Window.orderBy(F.col("v").asc(), F.col("i").asc())
        ranked = df.withColumn("rn", F.row_number().over(w))
        m = len(vals)
        lo, hi = (m + 1) // 2, -(-(m + 1) // 2)
        expect_rows = [
            r["v"] for r in ranked.filter(
                F.col("rn").isin(lo, hi)
            ).collect()
        ]
        expect = sum(expect_rows) / len(expect_rows)
        assert med["m"] == m
        assert med["med_v"] == expect, (vals[:8], med["med_v"], expect)
        # arbitrary rank probe: the 3rd element (when it exists)
        if m >= 3:
            third = kth_element(
                df, "v", lambda mm: [F.lit(3)], out_col="third"
            ).collect()[0]
            expect3 = [r["v"] for r in ranked.filter(F.col("rn") == 3).collect()][0]
            assert third["third"] == expect3
    # plan hygiene: no unpartitioned window anywhere in the selection
    plan = _physical(exact_median(
        spark.range(100).select((F.col("id") % 9).alias("v")), "v"
    ))
    assert not _unpartitioned_window_offenses(plan), plan
