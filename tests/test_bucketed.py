"""Bucketed-table contract: joins and aggregations on the bucket key
run WITHOUT an Exchange — the stored layout replaces the shuffle.

These are the plan assertions behind every "bucketed sort-merge join
in production" claim in SCALE.md: if a Spark upgrade or a session
conf ever silently re-introduces the shuffle, these tests fail.
"""

from __future__ import annotations

import shutil

import pytest

from conte_to_fresco_etl_spark.sources.bucketed import (
    read_table,
    write_bucketed,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    per_user = events.groupBy("user_id").count()
    write_bucketed(events, "ev_bkt", "user_id", n_buckets=4)
    write_bucketed(per_user, "usr_bkt", "user_id", n_buckets=4)
    yield "ev_bkt", "usr_bkt"
    spark.sql("DROP TABLE IF EXISTS ev_bkt")
    spark.sql("DROP TABLE IF EXISTS usr_bkt")


def test_bucketed_join_has_no_exchange(spark, sf_dir, bucketed_tables):
    """Co-bucketed equi-join: zero Exchange anywhere in the plan (the
    join reads both sides' stored hashpartitioning), and the result
    matches the plain shuffled join row-for-row."""
    ev_t, usr_t = bucketed_tables
    ev, usr = read_table(spark, ev_t), read_table(spark, usr_t)
    # merge hint: the dim side is broadcast-small at test scale, which
    # would make the assertion vacuous — at 100 TB BOTH sides are big
    # and SMJ is the plan under test
    joined = ev.join(usr.hint("merge"), "user_id")
    plan = _plan(joined.select("user_id", "event_type", "count"))
    assert "Exchange" not in plan, plan
    assert "SortMergeJoin" in plan, plan

    plain_ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    plain = plain_ev.join(
        plain_ev.groupBy("user_id").count(), "user_id"
    ).groupBy("event_type").count()
    got = joined.groupBy("event_type").count()
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_bucketed_groupby_has_no_exchange(spark, bucketed_tables):
    """Aggregation on the bucket key consumes the stored partitioning:
    no Exchange before the final aggregate."""
    ev_t, _ = bucketed_tables
    agg = read_table(spark, ev_t).groupBy("user_id").count()
    plan = _plan(agg)
    assert "Exchange" not in plan, plan


def test_cosine_posting_self_join_consumes_bucket_layout(
    spark, sf_dir, monkeypatch
):
    """The gated q_cosine_sim_join routed through bucketed storage
    (SPARK_GRAFT_BUCKETED=1): the posting self-join — the heaviest
    shuffle in the plan, carrying Σ df² pair inputs — becomes a
    SortMergeJoin reading two `Bucketed: true` scans with NO Exchange
    anywhere beneath it, and the results equal the default in-memory
    path row-for-row."""
    from conte_to_fresco_etl_spark.plans import catalog
    from conte_to_fresco_etl_spark.plans import catalog_text  # noqa: F401

    q = catalog.QUERIES["q_cosine_sim_join"]
    # the operator suffixes the table with the applicationId (so
    # concurrent sessions sharing a warehouse never race on one
    # location); compute the same derived name for cleanup
    import re

    app = spark.sparkContext.applicationId
    tbl = f"cosine_postings_bkt_{re.sub(r'[^0-9A-Za-z]', '_', app)}"
    # a stale location from a previous session's in-memory catalog
    # blocks saveAsTable even in overwrite mode — clear both layers
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    shutil.rmtree(f"{wh}/{tbl}", ignore_errors=True)
    monkeypatch.delenv("SPARK_GRAFT_BUCKETED", raising=False)
    default = sorted(map(tuple, q(spark, sf_dir).collect()))

    monkeypatch.setenv("SPARK_GRAFT_BUCKETED", "1")
    try:
        bucketed = q(spark, sf_dir)
        plan = _plan(bucketed)
        lines = plan.splitlines()
        smj = [
            i for i, ln in enumerate(lines)
            if "SortMergeJoin" in ln and "tok" in ln
        ]
        assert smj, plan
        scans = [
            i for i, ln in enumerate(lines)
            if "Bucketed: true" in ln and i > smj[0]
        ]
        assert len(scans) == 2, plan
        # the self-join subtree (SMJ line through its second bucketed
        # scan) must contain no Exchange of any kind: the stored
        # layout IS the partitioning
        subtree = "\n".join(lines[smj[0]: scans[1] + 1])
        assert "Exchange" not in subtree, subtree
        assert sorted(map(tuple, bucketed.collect())) == default
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_bucketed_cosine_table_is_keyed_by_what_shapes_it(spark, sf_dir):
    """Two calls with the same ``bucket_table`` name and the same
    parquet input but a different shingle size must each get their own
    stored posting table: the results differ, and each equals the
    unbucketed path (a name keyed only on the input's files and the
    bucket count handed the ngram_n=3 table to the ngram_n=2 call)."""
    from conte_to_fresco_etl_spark.operators.dedup import tfidf_cosine_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {}
    try:
        for n in (3, 2):
            plain = sorted(map(tuple, tfidf_cosine_pairs(
                docs, threshold=0.3, ngram_n=n).collect()))
            bucketed = sorted(map(tuple, tfidf_cosine_pairs(
                docs, threshold=0.3, ngram_n=n,
                bucket_table="cos_ngram_bkt").collect()))
            assert bucketed == plain, n
            got[n] = bucketed
        assert got[3] != got[2]
    finally:
        for t in spark.catalog.listTables():
            if t.name.startswith("cos_ngram_bkt"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_unbucketed_join_does_shuffle(spark, sf_dir):
    """Control: the same join off plain parquet files SHUFFLES — the
    exchange-free plans above come from the bucket layout, not from
    some session conf that would mask a regression."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    usr = ev.groupBy("user_id").count()
    import pyspark.sql.functions as F

    joined = ev.join(usr.hint("merge"), "user_id").groupBy(
        "event_type"
    ).agg(F.count("*").alias("n"))
    assert "Exchange" in _plan(joined)


def test_q9_fact_fact_join_consumes_bucket_layout(
    spark, sf_dir, monkeypatch
):
    """The gated q9_product_profit routed through bucketed storage
    (SPARK_GRAFT_BUCKETED=1): lineitem and orders — the only join
    whose two inputs both scale with the corpus — become a
    SortMergeJoin reading two `Bucketed: true` scans with NO Exchange
    in the join subtree (the broadcast dimension joins preserve the
    streamed side's distribution), and the results equal the default
    plain-scan path row-for-row."""
    import hashlib
    import re

    from conte_to_fresco_etl_spark.plans import catalog
    from conte_to_fresco_etl_spark.plans import catalog_tpch  # noqa: F401

    q = catalog.QUERIES["q9_product_profit"]
    app = re.sub(r"[^0-9A-Za-z]", "_", spark.sparkContext.applicationId)
    tok = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    tables = [f"q9_lineitem_bkt_{tok}_{app}", f"q9_orders_bkt_{tok}_{app}"]
    monkeypatch.delenv("SPARK_GRAFT_BUCKETED", raising=False)
    default = sorted(map(tuple, q(spark, sf_dir).collect()))

    monkeypatch.setenv("SPARK_GRAFT_BUCKETED", "1")
    try:
        bucketed = q(spark, sf_dir)
        plan = _plan(bucketed)
        lines = plan.splitlines()
        smj = [
            i for i, ln in enumerate(lines)
            if "SortMergeJoin" in ln and "orderkey" in ln
        ]
        assert smj, plan
        scans = [
            i for i, ln in enumerate(lines)
            if "Bucketed: true" in ln and i > smj[0]
        ]
        assert len(scans) == 2, plan
        # no SHUFFLE exchange in the join subtree (the stored layout
        # IS the partitioning); the dimension BroadcastExchanges are
        # intentional and preserve the streamed side's distribution
        subtree = "\n".join(lines[smj[0]: scans[-1] + 1])
        for shuffle in (
            "Exchange hashpartitioning",
            "Exchange rangepartitioning",
            "Exchange SinglePartition",
        ):
            assert shuffle not in subtree, subtree
        assert sorted(map(tuple, bucketed.collect())) == default
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
