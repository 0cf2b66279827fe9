"""Validation utility tests (P7 sample, J4 semi-join, J5 interval
violations, A6 observed drop metrics)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from conte_to_fresco_etl_spark.validation import (
    drop_required_nulls_observed,
    interval_violations,
    sample_jobs,
    ts_rows_for_jobs,
)


@pytest.fixture(scope="module")
def frames(spark):
    d = datetime.datetime
    ts = spark.createDataFrame(
        [
            ("JOB1", d(2015, 3, 1, 10)),
            ("JOB1", d(2015, 3, 1, 11)),
            ("JOB1", d(2015, 3, 1, 23)),  # outside
            ("JOB2", d(2015, 3, 2, 5)),
            ("JOB3", d(2015, 3, 3, 1)),  # no matching job
        ],
        "`Job Id` string, Timestamp timestamp",
    )
    jobs = spark.createDataFrame(
        [
            ("JOB1", d(2015, 3, 1, 9), d(2015, 3, 1, 12)),
            ("JOB2", d(2015, 3, 2, 0), d(2015, 3, 2, 23)),
        ],
        "jobID string, start timestamp, end timestamp",
    )
    return ts, jobs


def test_sample_jobs_seeded(spark, frames):
    _, jobs = frames
    a = {r["jobID"] for r in sample_jobs(jobs, fraction=0.5, seed=7).collect()}
    b = {
        r["jobID"]
        for r in sample_jobs(
            jobs.repartition(3), fraction=0.5, seed=7
        ).collect()
    }
    assert a == b  # hash sample: stable across runs AND partitionings
    c = {r["jobID"] for r in sample_jobs(jobs, fraction=1.0, seed=7).collect()}
    assert c == {"JOB1", "JOB2"}  # fraction 1.0 keeps everything


def test_semi_join_filter(spark, frames):
    ts, jobs = frames
    sampled = jobs.select("jobID").filter(F.col("jobID") == "JOB1")
    out = ts_rows_for_jobs(ts, sampled)
    assert out.count() == 3
    assert out.columns == ts.columns  # semi-join adds no columns


def test_interval_violations(spark, frames):
    ts, jobs = frames
    rows = {r["jobID"]: r for r in interval_violations(ts, jobs).collect()}
    assert rows["JOB1"]["n_ts"] == 3
    assert rows["JOB1"]["n_outside"] == 1
    assert rows["JOB1"]["pct_outside"] == pytest.approx(33.3333)
    assert rows["JOB2"]["n_outside"] == 0
    assert "JOB3" not in rows  # inner join: unmatched ts rows don't count


def test_observed_drop_metrics(spark):
    df = spark.createDataFrame(
        [("a", 1), (None, 2), ("c", None), ("d", 4)],
        "k string, v int",
    )
    out, obs = drop_required_nulls_observed(df, ["k", "v"])
    kept = out.collect()
    assert {r["k"] for r in kept} == {"a", "d"}
    assert obs.get == {"total": 4, "kept": 2}


def test_cardinality_report(spark, frames):
    from conte_to_fresco_etl_spark.validation import cardinality_report

    ts, _ = frames
    row = cardinality_report(ts, ["Job Id"]).first()
    assert row["n_rows"] == 5
    # HLL++ at rsd=0.05 is exact at this cardinality
    assert row["approx_Job Id"] == 3


def test_convert_csv_to_parquet(spark, tmp_path):
    from conte_to_fresco_etl_spark.sources.readers import (
        convert_csv_to_parquet,
    )

    src = tmp_path / "in.csv"
    src.write_text("a,b\n1,x\n2,y\n")
    out = str(tmp_path / "out")
    convert_csv_to_parquet(spark, str(src), out)
    back = spark.read.parquet(out)
    assert back.count() == 2
    assert set(back.columns) == {"a", "b"}


def test_cap_per_group_prefilter_matches_plain(spark, sf_dir):
    """The verified-prefilter scale path returns EXACTLY the plain
    window result, including when a tiny safety factor forces the
    per-group fallback; groups smaller than the cap pass through."""
    from conte_to_fresco_etl_spark.validation import cap_per_group

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kw = dict(group_col="source", key_col="doc_id", cap=15)
    plain = {(r["doc_id"], r["rk"]) for r in cap_per_group(docs, **kw).collect()}
    pre = {
        (r["doc_id"], r["rk"])
        for r in cap_per_group(docs, **kw, prefilter_safety=4.0).collect()
    }
    assert plain == pre
    # safety < 1 starves most groups -> verification must fall back
    starved = {
        (r["doc_id"], r["rk"])
        for r in cap_per_group(docs, **kw, prefilter_safety=0.2).collect()
    }
    assert plain == starved
    # every source capped at 15; sources under the cap keep all rows
    counts = (
        cap_per_group(docs, **kw).groupBy("source").count().collect()
    )
    assert all(r["count"] <= 15 for r in counts)


def test_temperature_sample_flattens_mixture(spark, sf_dir):
    from pyspark.sql import functions as F

    from conte_to_fresco_etl_spark.validation import temperature_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    before = {r["lang"]: r["count"] for r in docs.groupBy("lang").count().collect()}
    out = temperature_sample(docs, group_col="lang", key_col="doc_id",
                             alpha=0.5, seed=7)
    after = {r["lang"]: r["count"] for r in out.groupBy("lang").count().collect()}
    n_min = min(before.values())
    smallest = min(before, key=before.get)
    biggest = max(before, key=before.get)
    assert after[smallest] == before[smallest]      # smallest keeps all
    # dominant group shrinks toward sqrt(n_min * n)
    import math
    expect = before[biggest] * math.sqrt(n_min / before[biggest])
    assert abs(after[biggest] - expect) / expect < 0.25
    # ratio between extremes flattens
    assert after[biggest] / after[smallest] < before[biggest] / before[smallest]


def test_sampling_edge_cases(spark):
    from pyspark.sql import functions as F

    from conte_to_fresco_etl_spark.validation import (
        cap_per_group,
        stratified_sample,
    )

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(40)],
        "doc_id long, lang string",
    )
    # fraction 0 drops the stratum entirely; fraction 1 keeps all
    out = stratified_sample(
        docs, strata_col="lang", fractions={"en": 0.0}, key_col="doc_id"
    )
    assert out.filter(F.col("lang") == "en").count() == 0
    assert out.filter(F.col("lang") == "de").count() == 20
    # cap larger than every group is the identity (plus rk)
    capped = cap_per_group(docs, group_col="lang", key_col="doc_id", cap=999)
    assert capped.count() == 40


def test_mixture_weights_hand_computed(spark):
    import math

    from conte_to_fresco_etl_spark.validation import mixture_weights

    docs = spark.createDataFrame(
        [
            (1, "a b c d", "web"),      # 4 tokens
            (2, "a b c d e", "web"),    # 5 tokens -> web total 9
            (3, "x y z w", "books"),    # 4 tokens -> books total 4
        ],
        "doc_id long, text string, source string",
    )
    out = {
        r["source"]: r
        for r in mixture_weights(
            docs, group_col="source", alpha=0.5, token_budget=100
        ).collect()
    }
    s = math.sqrt(9.0) + math.sqrt(4.0)
    assert out["web"]["n_docs"] == 2 and out["web"]["n_tokens"] == 9
    assert out["books"]["n_docs"] == 1 and out["books"]["n_tokens"] == 4
    assert abs(out["web"]["weight"] - 3.0 / s) < 1e-12
    assert abs(out["books"]["weight"] - 2.0 / s) < 1e-12
    # weights sum to 1; epochs = weight * budget / tokens
    assert abs(sum(r["weight"] for r in out.values()) - 1.0) < 1e-12
    assert abs(out["books"]["epochs"] - (2.0 / s) * 100 / 4.0) < 1e-12
    # alpha=1 is natural frequency: weight proportional to tokens
    nat = {
        r["source"]: r["weight"]
        for r in mixture_weights(docs, group_col="source", alpha=1.0).collect()
    }
    assert abs(nat["web"] - 9.0 / 13.0) < 1e-12


def test_assign_splits_deterministic_and_proportional(spark):
    from conte_to_fresco_etl_spark.validation import assign_splits

    docs = spark.createDataFrame(
        [(i,) for i in range(2000)], "doc_id long"
    )
    out = assign_splits(docs, weights={"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert 1500 < counts["train"] < 1700
    # partition-invariant: same assignment under any physical layout
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in assign_splits(
            docs.repartition(13), weights={"train": 0.8, "val": 0.1, "test": 0.1}
        ).collect()
    }
    assert a == b
    # growth-stable: restricting the corpus never moves a survivor
    c = {
        r["doc_id"]: r["split"]
        for r in assign_splits(
            docs.filter("doc_id < 500"),
            weights={"train": 0.8, "val": 0.1, "test": 0.1},
        ).collect()
    }
    assert all(a[k] == v for k, v in c.items())


def test_score_proportional_sample(spark):
    from conte_to_fresco_etl_spark.validation import (
        score_proportional_sample,
    )

    rows = (
        [(i, 0.0) for i in range(0, 500)]
        + [(i, 1.0) for i in range(500, 1000)]
        + [(i, 0.5) for i in range(1000, 3000)]
    )
    df = spark.createDataFrame(rows, "doc_id long, score double")
    kept = score_proportional_sample(df, "score").collect()
    by_band = {0: 0, 1: 0, 2: 0}
    for r in kept:
        by_band[0 if r["doc_id"] < 500 else (1 if r["doc_id"] < 1000 else 2)] += 1
    assert by_band[0] == 0          # score 0 never survives
    assert by_band[1] == 500       # score 1 always survives
    assert 850 < by_band[2] < 1150  # ~half of 2000
    # deterministic under repartitioning
    again = {
        r["doc_id"]
        for r in score_proportional_sample(df.repartition(7), "score").collect()
    }
    assert again == {r["doc_id"] for r in kept}


def test_referential_audit_orphans_nulls_and_empty(spark):
    """Orphan keys/rows counted; NULL fks never violate; an empty child
    yields a zero row instead of failing."""
    from conte_to_fresco_etl_spark.validation import referential_audit

    child = spark.createDataFrame(
        [(1,), (1,), (2,), (99,), (99,), (99,), (None,)], "fk int"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk int")
    empty = child.filter("fk > 1000")
    out = {
        r["edge"]: r
        for r in referential_audit(
            [
                ("c->p", child, "fk", parent, "pk"),
                ("empty->p", empty, "fk", parent, "pk"),
            ]
        ).collect()
    }
    r = out["c->p"]
    assert (r["n_rows"], r["n_fk_keys"]) == (6, 3)  # NULL excluded
    assert (r["n_orphan_keys"], r["n_orphan_rows"]) == (1, 3)  # key 99
    assert r["orphan_rate"] == 0.5
    e = out["empty->p"]
    assert (e["n_rows"], e["n_fk_keys"], e["n_orphan_rows"]) == (0, 0, 0)
    assert e["orphan_rate"] == 0.0


def test_referential_audit_keeps_same_label_edges_apart(spark):
    """Two same-label, same-key-type edges over different children give
    two rows, each equal to that edge audited alone (the fused path must
    not merge their key sets)."""
    from conte_to_fresco_etl_spark.validation import referential_audit

    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk int")
    a = spark.createDataFrame([(1,), (1,), (7,)], "fk int")
    b = spark.createDataFrame([(2,), (8,), (8,), (9,)], "fk int")
    edges = [("dup", a, "fk", parent, "pk"), ("dup", b, "fk", parent, "pk")]
    both = sorted(tuple(r) for r in referential_audit(edges).collect())
    alone = sorted(
        tuple(referential_audit([e]).collect()[0]) for e in edges
    )
    assert len(both) == 2
    assert both == alone


def test_compaction_plan_greedy_bins(spark):
    """Bins close once the running size crosses the target; a straddling
    file stays in the bin it started in; undersized tails flagged."""
    from conte_to_fresco_etl_spark.validation import compaction_plan

    files = [
        ("p", 1, 60), ("p", 2, 50),   # bin 0: cum_before 0, 60
        ("p", 3, 70),                 # cum_before 110 -> bin 1
        ("p", 4, 10),                 # cum_before 180 -> bin 1
        ("p", 5, 30),                 # cum_before 190 -> bin 1
        ("p", 6, 5),                  # cum_before 220 -> bin 2 (tail)
        ("q", 7, 300),                # bin 0 alone (oversized file)
    ]
    df = spark.createDataFrame(files, "part string, k int, sz int")
    out = {
        (r["part"], r["bin"]): r
        for r in compaction_plan(df, "part", "sz", "k", 100).collect()
    }
    assert out[("p", 0)]["n_files"] == 2
    assert out[("p", 0)]["total_size"] == 110
    assert (out[("p", 1)]["n_files"], out[("p", 1)]["total_size"]) == (3, 110)
    assert out[("p", 2)]["total_size"] == 5 and out[("p", 2)]["undersized"]
    assert not out[("p", 0)]["undersized"]
    assert out[("q", 0)]["n_files"] == 1  # single oversized file, own bin
    assert (out[("p", 1)]["first_key"], out[("p", 1)]["last_key"]) == (3, 5)


def test_priority_sample_small_population_is_exact(spark):
    """Population <= k: tau = 0, every row sampled, est_w = w — the
    estimator degrades to the exact total."""
    from conte_to_fresco_etl_spark.validation import priority_sample

    df = spark.createDataFrame(
        [(i, float(i * 10)) for i in range(1, 6)], "doc_id INT, w DOUBLE"
    )
    out = priority_sample(df, "w", "doc_id", k=8).collect()
    assert len(out) == 5
    for r in out:
        assert r["est_w"] == r["w"]


def test_priority_sample_subset_sum_unbiased_over_seeds(spark):
    """Average the HT subset-sum estimate over many seeds: it must
    approach the true subset total (the DLT guarantee), while any
    single sample's plain (unweighted) subset sum generally does not."""
    from conte_to_fresco_etl_spark.validation import priority_sample

    rows = [(i, float(1 + (i * 7) % 13)) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id INT, w DOUBLE")
    subset = {i for i in range(60) if i % 3 == 0}
    true_total = sum(w for i, w in rows if i in subset)
    ests = []
    for seed in range(12):
        sample = priority_sample(df, "w", "doc_id", k=12, seed=seed).collect()
        ests.append(
            sum(r["est_w"] for r in sample if r["doc_id"] in subset)
        )
    avg = sum(ests) / len(ests)
    assert abs(avg - true_total) / true_total < 0.35
    # determinism: same seed twice -> identical sample
    s0 = priority_sample(df, "w", "doc_id", k=12, seed=3).collect()
    s1 = priority_sample(df, "w", "doc_id", k=12, seed=3).collect()
    assert sorted(map(tuple, s0)) == sorted(map(tuple, s1))
