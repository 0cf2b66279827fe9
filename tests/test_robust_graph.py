"""Semantics tests for the round-4 additions: native session windows,
median/MAD outliers, co-occurrence graphs + triangle counting,
weighted reservoir sampling, k-anonymity, and PMI collocations."""

from __future__ import annotations

import datetime as dt
import hashlib
import math

from pyspark.sql import functions as F

from conte_to_fresco_etl_spark.operators.graph import (
    cooccurrence_edges,
    triangle_count,
)
from conte_to_fresco_etl_spark.operators.pii import k_anonymity
from conte_to_fresco_etl_spark.operators.robust import mad_outliers
from conte_to_fresco_etl_spark.operators.sessions import (
    session_window_agg,
    sessionize_events,
)
from conte_to_fresco_etl_spark.operators.text_analysis import token_pmi
from conte_to_fresco_etl_spark.validation import weighted_sample_topk


def _ts(h, m=0, s=0):
    return dt.datetime(2024, 1, 1, h, m, s)


# ---------------------------------------------------------------------------
# native session_window
# ---------------------------------------------------------------------------


def test_session_window_exact_gap_boundary(spark):
    """Spark's session_window MERGES an event landing exactly ``gap``
    after its predecessor (boundary touch counts — the break is
    strictly ``>``), agreeing with sessionize_events; one second past
    the gap splits.  session_close = last event + gap."""
    rows = [
        (1, _ts(0, 0), 1),
        (1, _ts(0, 30), 2),        # exactly 30 min later -> MERGED
        (1, _ts(1, 0, 1), 3),      # 30 min 1 s later -> new session
    ]
    ev = spark.createDataFrame(rows, "user_id int, ts timestamp, event_id int")
    native = session_window_agg(ev, gap_minutes=30).orderBy("session_start")
    got = [(r["n_events"], r["session_start"], r["session_close"]) for r in native.collect()]
    assert got == [
        (2, _ts(0, 0), _ts(1, 0)),
        (1, _ts(1, 0, 1), _ts(1, 30, 1)),
    ]
    legacy = sessionize_events(ev, gap_minutes=30)
    assert legacy.count() == 2  # same membership under the `>` break


# ---------------------------------------------------------------------------
# MAD outliers
# ---------------------------------------------------------------------------


def test_mad_outliers_flags_known_value(spark):
    # group a: values 1..9 plus a wild 1000 -> med 5.5, mad ~2.5
    rows = [(i, "a", float(v)) for i, v in enumerate([1, 2, 3, 4, 5, 6, 7, 8, 9, 1000])]
    df = spark.createDataFrame(rows, "event_id int, event_type string, value double")
    out = mad_outliers(df, "event_type", "value", "event_id", k=3.5).collect()
    assert [r["event_id"] for r in out] == [9]
    r = out[0]
    # med of 1..9,1000 = 5.5; absdev med: |v-5.5| = 4.5,3.5,...,994.5 -> mad 2.5
    assert r["med"] == 5.5 and r["mad"] == 2.5
    assert r["robust_z"] == round(994.5 / (1.4826 * 2.5), 6)


def test_mad_outliers_zero_mad_degeneracy(spark):
    """>50% constant group: MAD = 0 -> ANY deviation flags, score NULL."""
    rows = [(i, "c", 5.0) for i in range(6)] + [(10, "c", 5.1)]
    df = spark.createDataFrame(rows, "event_id int, event_type string, value double")
    out = mad_outliers(df, "event_type", "value", "event_id", k=3.5).collect()
    assert [(r["event_id"], r["robust_z"]) for r in out] == [(10, None)]


# ---------------------------------------------------------------------------
# co-occurrence edges + triangle counting
# ---------------------------------------------------------------------------


def test_cooccurrence_edges_threshold_and_distinct(spark):
    rows = [
        (1, "x"), (2, "x"),          # 1-2 share x
        (1, "y"), (2, "y"),          # and y  -> n_shared 2
        (1, "y"),                    # duplicate posting ignored
        (2, "z"), (3, "z"),          # 2-3 share only z
    ]
    df = spark.createDataFrame(rows, "k int, ctx string")
    got = {
        (r["a"], r["b"]): r["n_shared"]
        for r in cooccurrence_edges(df, "k", "ctx", min_shared=2).collect()
    }
    assert got == {(1, 2): 2}


def test_triangle_count_k4_plus_pendant(spark):
    """K4 has 4 triangles, every vertex in 3; a pendant edge adds none.
    Edges arrive duplicated, reversed, and with a self-loop."""
    e = [(a, b) for a in range(4) for b in range(4) if a < b]
    e += [(b, a) for (a, b) in e]      # reversed duplicates
    e += [(2, 2), (3, 9)]              # self-loop + pendant
    df = spark.createDataFrame(e, "a int, b int")
    got = {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_count_string_and_large_ids(spark):
    """The orientation rank is a (degree, id) STRUCT comparison, so any
    comparable id type works — string doc ids and >2^32 / negative
    BIGINTs would collide or overflow under a packed-BIGINT rank."""
    tri = [("doc_a", "doc_b"), ("doc_b", "doc_c"), ("doc_a", "doc_c"),
           ("doc_c", "doc_d")]
    df = spark.createDataFrame(tri, "a string, b string")
    got = {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got == {"doc_a": 1, "doc_b": 1, "doc_c": 1}

    big = 1 << 40
    tri2 = [(-big, 0), (0, big), (-big, big), (big, big + 7)]
    df2 = spark.createDataFrame(tri2, "a long, b long")
    got2 = {r["node"]: r["n_triangles"] for r in triangle_count(df2).collect()}
    assert got2 == {-big: 1, 0: 1, big: 1}


def test_triangle_count_two_shared_edge_triangles(spark):
    # triangles (0,1,2) and (1,2,3) share edge 1-2
    df = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)], "a int, b int"
    )
    got = {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got == {0: 1, 1: 2, 2: 2, 3: 1}


# ---------------------------------------------------------------------------
# weighted sampling (A-ES)
# ---------------------------------------------------------------------------


def _es_key(seed: int, key: int, w: float) -> float:
    h = int(hashlib.md5(f"{seed}:{key}".encode()).hexdigest()[:15], 16)
    u = (h + 1.0) / float(16**15 + 1)
    return round(math.log(u) / w, 12)


def test_weighted_sample_matches_python_twin(spark):
    rows = [(i, float(1 + (i * 7) % 13)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id int, w double")
    got = [r["doc_id"] for r in
           weighted_sample_topk(df, "w", "doc_id", k=10, seed=42).collect()]
    expect = sorted(rows, key=lambda r: (-_es_key(42, r[0], r[1]), r[0]))[:10]
    assert got == [r[0] for r in expect]
    # partitioning-independent
    got8 = [r["doc_id"] for r in
            weighted_sample_topk(df.repartition(8), "w", "doc_id", k=10, seed=42).collect()]
    assert got8 == got


def test_weighted_sample_excludes_nonpositive_weights(spark):
    df = spark.createDataFrame(
        [(1, 0.0), (2, -3.0), (3, 5.0)], "doc_id int, w double"
    )
    got = [r["doc_id"] for r in
           weighted_sample_topk(df, "w", "doc_id", k=10).collect()]
    assert got == [3]


# ---------------------------------------------------------------------------
# k-anonymity
# ---------------------------------------------------------------------------


def test_k_anonymity_suppresses_small_classes(spark):
    rows = [(i, "en", "a") for i in range(5)] + [(99, "fr", "b")]
    df = spark.createDataFrame(rows, "doc_id int, lang string, source string")
    out = {r["doc_id"]: r for r in
           k_anonymity(df, ["lang", "source"], "doc_id", k=5).collect()}
    assert out[0]["lang"] == "en" and not out[0]["suppressed"]
    assert out[0]["group_n"] == 5
    assert out[99]["lang"] is None and out[99]["source"] is None
    assert out[99]["suppressed"] and out[99]["group_n"] == 1


def test_k_anonymity_null_quasi_values_join_back(spark):
    """Rows with NULL quasi values form their own groupBy class; the
    null-safe join-back must return their true class size, not
    group_n = NULL / suppressed = NULL."""
    rows = [(i, None, "a") for i in range(5)] + [(99, None, "b")]
    df = spark.createDataFrame(rows, "doc_id int, lang string, source string")
    out = {r["doc_id"]: r for r in
           k_anonymity(df, ["lang", "source"], "doc_id", k=5).collect()}
    assert out[0]["group_n"] == 5 and out[0]["suppressed"] is False
    assert out[0]["source"] == "a"
    assert out[99]["group_n"] == 1 and out[99]["suppressed"] is True
    assert out[99]["source"] is None


# ---------------------------------------------------------------------------
# PMI
# ---------------------------------------------------------------------------


def test_token_pmi_python_twin(spark):
    docs = [
        (0, "alpha beta gamma"),
        (1, "alpha beta"),
        (2, "alpha delta"),
        (3, "beta gamma"),
        (4, "alpha beta gamma delta"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = [
        (r["t1"], r["t2"], r["n_pair"], r["pmi"])
        for r in token_pmi(df, min_df=2, min_pair=2, k=10).collect()
    ]
    # python twin
    toksets = {i: set(t.split()) for i, t in docs}
    n = float(len(docs))
    dfreq: dict[str, int] = {}
    for ts in toksets.values():
        for t in ts:
            dfreq[t] = dfreq.get(t, 0) + 1
    vocab = {t for t, c in dfreq.items() if c >= 2}
    pairs: dict[tuple, int] = {}
    for ts in toksets.values():
        el = sorted(t for t in ts if t in vocab)
        for i in range(len(el)):
            for j in range(i + 1, len(el)):
                pairs[(el[i], el[j])] = pairs.get((el[i], el[j]), 0) + 1
    expect = [
        (a, b, c, round(math.log(c * n / (dfreq[a] * dfreq[b])), 6))
        for (a, b), c in pairs.items()
        if c >= 2
    ]
    expect.sort(key=lambda r: (-r[3], r[0], r[1]))
    assert got == expect[:10]


# ---------------------------------------------------------------------------
# token entropy
# ---------------------------------------------------------------------------


def test_token_entropy_python_twin(spark):
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        token_entropy,
    )

    docs = [
        (0, "a", "x x x y"),      # src a: p(x)=3/4, p(y)=1/4
        (1, "b", "p q r s"),      # src b: uniform over 4
    ]
    df = spark.createDataFrame(docs, "doc_id int, source string, text string")
    got = {r["source"]: r for r in token_entropy(df).collect()}

    def h(ps):
        from decimal import Decimal

        return round(-float(sum(Decimal(str(round(p * math.log(p), 12)))
                                for p in ps)), 6)

    assert got["a"]["n_tokens"] == 4 and got["a"]["n_types"] == 2
    assert got["a"]["ttr"] == 0.5
    assert got["a"]["entropy"] == h([0.75, 0.25])
    assert got["b"]["entropy"] == h([0.25] * 4)
    assert got["b"]["ttr"] == 1.0


# ---------------------------------------------------------------------------
# PSI drift
# ---------------------------------------------------------------------------


def test_psi_drift_identical_halves_zero(spark):
    from conte_to_fresco_etl_spark.operators.robust import psi_drift

    rows = [("t", float(v), c) for v in [10, 30, 60] for c in (False, True)]
    df = spark.createDataFrame(rows, "k string, value double, cur boolean")
    out = psi_drift(df, "k", "value", F.col("cur"), bin_width=25.0).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_ref"] == 3 and r["n_cur"] == 3 and r["n_bins"] == 3
    assert r["psi"] == 0.0  # identical distributions -> zero drift


def test_psi_drift_detects_shift(spark):
    from conte_to_fresco_etl_spark.operators.robust import psi_drift

    # reference all in bin 0, current all in bin 3 -> large PSI
    rows = [("t", 5.0, False)] * 50 + [("t", 90.0, True)] * 50
    df = spark.createDataFrame(rows, "k string, value double, cur boolean")
    r = psi_drift(df, "k", "value", F.col("cur"), bin_width=25.0).collect()[0]
    assert r["n_bins"] == 2
    # python twin with the same Laplace smoothing
    p = [(50 + 1) / 52.0, (0 + 1) / 52.0]
    q = [(0 + 1) / 52.0, (50 + 1) / 52.0]
    from decimal import Decimal

    expect = round(float(sum(
        Decimal(str(round((qi - pi) * math.log(qi / pi), 12)))
        for pi, qi in zip(p, q)
    )), 6)
    assert r["psi"] == expect
    assert r["psi"] > 0.25  # "broken" on the standard scale


# ---------------------------------------------------------------------------
# streaming session windows (batch/stream parity)
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# SCD-1 merge upsert
# ---------------------------------------------------------------------------


def test_merge_upsert_replace_insert_survive(spark):
    from conte_to_fresco_etl_spark.operators.scd import merge_upsert

    target = spark.createDataFrame(
        [(1, "old"), (2, "keep")], "k int, v string"
    )
    updates = spark.createDataFrame(
        [(1, "new"), (3, "insert")], "k int, v string"
    )
    got = {r["k"]: r["v"] for r in
           merge_upsert(target, updates, ["k"]).collect()}
    assert got == {1: "new", 2: "keep", 3: "insert"}


# ---------------------------------------------------------------------------
# property tests: randomized brute-force equivalence
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402

edge_lists = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)),
    min_size=0,
    max_size=30,
)


@settings(max_examples=8, deadline=None)
@given(edge_lists)
def test_triangle_count_matches_bruteforce(spark, edges):
    """Degree-ordered enumeration == brute-force triple scan on random
    multigraphs with loops and reversed duplicates."""
    df = spark.createDataFrame(edges, "a int, b int") if edges else (
        spark.createDataFrame([], "a int, b int")
    )
    got = {r["node"]: r["n_triangles"]
           for r in triangle_count(df).collect()}
    adj = set()
    for a, b in edges:
        if a != b:
            adj.add((min(a, b), max(a, b)))
    nodes = sorted({n for e in adj for n in e})
    expect: dict[int, int] = {}
    for i, x in enumerate(nodes):
        for y in nodes[i + 1:]:
            for z in nodes[nodes.index(y) + 1:]:
                if ((x, y) in adj and (x, z) in adj and (y, z) in adj):
                    for n in (x, y, z):
                        expect[n] = expect.get(n, 0) + 1
    assert got == expect


mad_groups = st.lists(
    st.tuples(
        st.integers(0, 1),
        st.integers(-80, 80).map(lambda q: q / 4.0),
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=8, deadline=None)
@given(mad_groups)
def test_mad_outliers_matches_python_twin(spark, rows):
    """Flag set == the Python median/MAD rule on arbitrary groups,
    including all-constant (mad=0) and single-row groups."""
    data = [(i, f"g{k}", v) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "event_id int, event_type string, value double"
    )
    got = {r["event_id"] for r in
           mad_outliers(df, "event_type", "value", "event_id", k=3.5).collect()}

    def median(xs):
        xs = sorted(xs)
        n = len(xs)
        mid = n // 2
        return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2.0

    expect = set()
    groups: dict[str, list] = {}
    for i, k, v in data:
        groups.setdefault(k, []).append((i, v))
    for k, members in groups.items():
        med = median([v for _, v in members])
        mad = median([abs(v - med) for _, v in members])
        for i, v in members:
            if abs(v - med) > 3.5 * 1.4826 * mad:
                expect.add(i)
    assert got == expect


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.integers(1, 400), min_size=1, max_size=40),
    st.integers(1, 8),
)
def test_weighted_sample_size_and_membership(spark, weights, k):
    """|sample| == min(k, n); members are exactly the top-k by the
    A-ES key — for ANY weight profile."""
    rows = [(i, float(w)) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "doc_id int, w double")
    got = [r["doc_id"] for r in
           weighted_sample_topk(df, "w", "doc_id", k=k, seed=7).collect()]
    assert len(got) == min(k, len(rows))
    expect = sorted(rows, key=lambda r: (-_es_key(7, r[0], r[1]), r[0]))
    assert got == [r[0] for r in expect[:k]]


# ---------------------------------------------------------------------------
# EWMA / correlation / chi-square
# ---------------------------------------------------------------------------


def test_ewma_truncated_chain_python_twin(spark):
    from conte_to_fresco_etl_spark.operators.gapfill import ewma_features

    vals = [10.0, 20.0, 40.0, 10.0, 30.0]
    rows = [(1, _ts(0, 5 * i), i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_id int, value double"
    )
    got = {r["event_id"]: r["ewma"]
           for r in ewma_features(df, alpha=0.5, depth=3).collect()}
    for t in range(len(vals)):
        lags = [vals[t - j] for j in range(3) if t - j >= 0]
        ws = [0.5 ** j for j in range(len(lags))]
        expect = round(
            sum(w * x for w, x in zip(ws, lags)) / sum(ws), 6
        )
        assert got[t] == expect, t


def test_grouped_corr_known_series(spark):
    from conte_to_fresco_etl_spark.operators.robust import grouped_corr

    rows = (
        [("pos", float(i), float(2 * i + 1)) for i in range(10)]
        + [("neg", float(i), float(-3 * i)) for i in range(10)]
        + [("flat", float(i), 7.0) for i in range(10)]
    )
    df = spark.createDataFrame(rows, "k string, x double, y double")
    got = {r["k"]: r["r"] for r in grouped_corr(df, "k", "x", "y").collect()}
    assert got["pos"] == 1.0
    assert got["neg"] == -1.0
    assert got["flat"] is None  # zero variance -> undefined


def test_chi_square_hand_built(spark):
    from conte_to_fresco_etl_spark.operators.robust import (
        chi_square_independence,
    )

    # 2x2 table: a1:(b1=30,b2=10), a2:(b1=10,b2=30) -> chi2 = 20·80·... 
    rows = (
        [("a1", "b1")] * 30 + [("a1", "b2")] * 10
        + [("a2", "b1")] * 10 + [("a2", "b2")] * 30
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = chi_square_independence(df, "a", "b").collect()[0]
    assert (r["n"], r["n_a"], r["n_b"], r["dof"]) == (80, 2, 2, 1)
    # every e = 40*40/80 = 20; chi2 = 4 * (10^2/20) = 20
    assert r["chi2"] == 20.0


def test_chi_square_absent_cell_mass(spark):
    from conte_to_fresco_etl_spark.operators.robust import (
        chi_square_independence,
    )

    # a2 never co-occurs with b2: the (a2,b2) cell is ABSENT from the
    # contingency counts and must still contribute its expected mass e
    rows = [("a1", "b1")] * 5 + [("a1", "b2")] * 5 + [("a2", "b1")] * 10
    df = spark.createDataFrame(rows, "a string, b string")
    r = chi_square_independence(df, "a", "b").collect()[0]
    import math as m

    o = {("a1", "b1"): 5, ("a1", "b2"): 5, ("a2", "b1"): 10,
         ("a2", "b2"): 0}
    row_t = {"a1": 10, "a2": 10}
    col_t = {"b1": 15, "b2": 5}
    expect = sum(
        (o[(a, b)] - row_t[a] * col_t[b] / 20.0) ** 2
        / (row_t[a] * col_t[b] / 20.0)
        for a in row_t for b in col_t
    )
    assert m.isclose(r["chi2"], round(expect, 6), abs_tol=2e-6)


# ---------------------------------------------------------------------------
# snapshot diff
# ---------------------------------------------------------------------------


def test_snapshot_diff_statuses(spark):
    from conte_to_fresco_etl_spark.operators.scd import snapshot_diff

    old = spark.createDataFrame(
        [(1, "fa"), (2, "fb"), (3, "fc"), (5, None)],
        "doc_id int, fingerprint string",
    )
    new = spark.createDataFrame(
        [(2, "fb"), (3, "fc2"), (4, "fd"), (5, None)],
        "doc_id int, fingerprint string",
    )
    got = {r["doc_id"]: r["status"]
           for r in snapshot_diff(old, new, "doc_id").collect()}
    # 1 removed, 2 unchanged (omitted), 3 changed, 4 added,
    # 5 null==null fingerprints -> unchanged (null-safe equality)
    assert got == {1: "removed", 3: "changed", 4: "added"}


def test_range_frame_uses_time_not_rows(spark):
    """Three events at 0:00/0:30/2:00 — the 2:00 row's trailing-hour
    frame holds only itself, though two rows precede it."""
    from conte_to_fresco_etl_spark.plans.catalog_analytics import (  # noqa: F401
        q_range_frame,
    )
    from pyspark.sql import Window

    rows = [(1, 0, _ts(0, 0), 1.0), (1, 1, _ts(0, 30), 2.0),
            (1, 2, _ts(2, 0), 4.0)]
    ev = spark.createDataFrame(
        rows, "user_id int, event_id int, ts timestamp, value double"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    got = {r["event_id"]: (r["n"], r["s"]) for r in ev.select(
        "event_id",
        F.count("*").over(w).alias("n"),
        F.sum("value").over(w).alias("s"),
    ).collect()}
    assert got == {0: (1, 1.0), 1: (2, 3.0), 2: (1, 4.0)}


# ---------------------------------------------------------------------------
# OOV rate / association rules
# ---------------------------------------------------------------------------


def test_oov_rate_counts_and_full_coverage(spark):
    from conte_to_fresco_etl_spark.operators.text_analysis import oov_rate

    docs = spark.createDataFrame(
        [(0, "a b zz"), (1, "a a a"), (2, "qq ww")],
        "doc_id int, text string",
    )
    vocab = spark.createDataFrame([("a",), ("b",)], "term string")
    got = {r["doc_id"]: (r["n_tokens"], r["n_oov"], r["oov_rate"])
           for r in oov_rate(docs, vocab).collect()}
    assert got == {
        0: (3, 1, round(1 / 3, 6)),
        1: (3, 0, 0.0),     # fully covered -> left join backfills 0
        2: (2, 2, 1.0),
    }


def test_association_rules_hand_built(spark):
    from conte_to_fresco_etl_spark.operators.graph import association_rules

    # baskets: u1{x,y}, u2{x,y}, u3{x,z}, u4{y}
    rows = [(1, "x"), (1, "y"), (2, "x"), (2, "y"),
            (3, "x"), (3, "z"), (4, "y"), (1, "x")]  # dup posting
    df = spark.createDataFrame(rows, "b int, i string")
    got = {(r["antecedent"], r["consequent"]):
           (r["n_pair"], r["support"], r["confidence"], r["lift"])
           for r in association_rules(df, "b", "i",
                                      min_support=0.5).collect()}
    # only x->y and y->x reach support 2/4
    assert got == {
        ("x", "y"): (2, 0.5, round(2 / 3, 6), round(2 * 4 / (3 * 3), 6)),
        ("y", "x"): (2, 0.5, round(2 / 3, 6), round(2 * 4 / (3 * 3), 6)),
    }


# ---------------------------------------------------------------------------
# streaming drift monitor
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# skew report / seasonal decomposition
# ---------------------------------------------------------------------------


def test_key_skew_report_hot_key(spark):
    from conte_to_fresco_etl_spark.operators.robust import key_skew_report

    rows = [(1,)] * 90 + [(2,)] * 5 + [(3,)] * 5
    df = spark.createDataFrame(rows, "k int")
    r = key_skew_report(df, "k").collect()[0]
    assert (r["n_rows"], r["n_keys"], r["max_n"]) == (100, 3, 90)
    # balanced share = 100/3; the hot key is 2.7x that
    assert r["skew_ratio"] == round(90 / (100 / 3), 6)
    assert r["p50_n"] == 5.0


def test_seasonal_decompose_reconstructs_value(spark):
    from conte_to_fresco_etl_spark.operators.gapfill import (
        seasonal_decompose,
    )

    # user 1: hour 0 mean 10, hour 1 mean 30 -> level 20
    rows = [
        (1, 0, _ts(0, 0), 8.0), (1, 1, _ts(0, 30), 12.0),
        (1, 2, _ts(1, 0), 30.0), (1, 3, _ts(1, 30), 30.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, event_id int, ts timestamp, value double"
    )
    got = {r["event_id"]: r for r in seasonal_decompose(df).collect()}
    assert got[0]["level"] == 20.0
    assert got[0]["seasonal"] == -10.0 and got[2]["seasonal"] == 10.0
    assert got[0]["residual"] == -2.0 and got[1]["residual"] == 2.0
    assert got[2]["residual"] == 0.0
    # components + level reconstruct the value exactly on round numbers
    for r in got.values():
        assert r["level"] + r["seasonal"] + r["residual"] == r["value"]


# ---------------------------------------------------------------------------
# prefix-filtered Jaccard join
# ---------------------------------------------------------------------------

doc_corpus = st.lists(
    st.lists(
        st.sampled_from("abcdefghij"), min_size=1, max_size=6
    ).map(lambda ws: " ".join(ws)),
    min_size=2,
    max_size=10,
)


@settings(max_examples=8, deadline=None)
@given(doc_corpus, st.sampled_from([0.5, 0.6, 0.8]))
def test_jaccard_prefix_join_matches_bruteforce(spark, texts, t):
    """Prefix filtering loses NOTHING: results equal the brute-force
    all-pairs Jaccard at every threshold (the PPJoin completeness
    theorem, exercised on random corpora with duplicate tokens)."""
    from conte_to_fresco_etl_spark.operators.dedup import (
        jaccard_prefix_join,
    )

    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {(r["a"], r["b"]): (r["n_common"], r["jaccard"])
           for r in jaccard_prefix_join(df, threshold=t, ngram_n=1).collect()}
    sets = {i: set(x.split()) for i, x in docs}
    expect = {}
    for i in sets:
        for j in sets:
            if i < j:
                inter = len(sets[i] & sets[j])
                union = len(sets[i] | sets[j])
                if union and inter / union >= t:
                    expect[(i, j)] = (inter, round(inter / union, 6))
    assert got == expect


# ---------------------------------------------------------------------------
# Benford / latency / cross-correlation
# ---------------------------------------------------------------------------


def test_benford_conforming_vs_uniform(spark):
    from conte_to_fresco_etl_spark.operators.robust import (
        BENFORD_P,
        benford_screen,
    )

    # "conforming": counts proportional to Benford p (n=10000 scaled)
    rows = []
    for d in range(1, 10):
        rows += [("good", float(d))] * round(BENFORD_P[d] * 1000)
    # "fabricated": all first digits equal
    rows += [("bad", 5.0)] * 1000
    df = spark.createDataFrame(rows, "k string, value double")
    got = {r["k"]: r for r in benford_screen(df, "k", "value").collect()}
    assert got["good"]["chi2_stat"] < 2.0
    assert got["bad"]["chi2_stat"] > 1000.0
    assert got["bad"]["max_dev"] > 0.6


def test_benford_digit_extraction_spans_magnitudes(spark):
    from conte_to_fresco_etl_spark.operators.robust import benford_screen

    # 0.02, 2.0, 200.0 all have first digit 2; 9999 -> 9
    rows = [("k", v) for v in [0.02, 2.0, 200.0, 9999.0]]
    df = spark.createDataFrame(rows, "k string, value double")
    r = benford_screen(df, "k", "value").collect()[0]
    assert r["n"] == 4
    # digit-2 observed 3/4 vs expected ~0.176 -> max_dev ≈ 0.574
    assert r["max_dev"] == round(abs(3 / 4 - 0.17609125905568124), 6)


def test_conversion_latency_hand_built(spark):
    from conte_to_fresco_etl_spark.operators.funnel import (
        conversion_latency,
    )

    rows = [
        (1, "view", _ts(0, 0)), (1, "click", _ts(0, 10)),   # 600 s
        (2, "view", _ts(1, 0)), (2, "click", _ts(0, 30)),   # click BEFORE view: no conversion
        (2, "click", _ts(1, 20)),                           # 1200 s
        (3, "view", _ts(2, 0)),                             # never clicks
    ]
    df = spark.createDataFrame(rows, "user_id int, event_type string, ts timestamp")
    r = conversion_latency(df).collect()[0]
    assert r["n_converted"] == 2
    assert r["p50_s"] == 900.0 and r["max_s"] == 1200.0


def test_lagged_cross_correlation_shifted_series(spark):
    from conte_to_fresco_etl_spark.operators.gapfill import (
        lagged_cross_correlation,
    )

    # purchases = views shifted by exactly 1 hour -> r(1) == 1
    rows = []
    counts = [1, 5, 2, 8, 3, 9, 4, 7]
    for h, c in enumerate(counts):
        rows += [("view", _ts(h, 0, 1))] * c
        if h + 1 < 24:
            rows += [("purchase", _ts(h + 1, 0, 1))] * c
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    got = {r["lag_hours"]: r["r"]
           for r in lagged_cross_correlation(df, ts_col="ts").collect()}
    assert got[1] == 1.0
    assert got[0] is None or abs(got[0]) < 1.0  # not the aligned lag


@settings(max_examples=6, deadline=None)
@given(doc_corpus, st.sampled_from([0.4, 0.6]))
def test_jaccard_prefix_join_shingled_matches_bruteforce(spark, texts, t):
    """Shingled (n=3) form equals brute-force 3-gram-set Jaccard —
    including docs shorter than the shingle width (empty sets, no
    pairs)."""
    from conte_to_fresco_etl_spark.operators.dedup import (
        jaccard_prefix_join,
    )

    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {(r["a"], r["b"]): (r["n_common"], r["jaccard"])
           for r in jaccard_prefix_join(df, threshold=t, ngram_n=3).collect()}
    sets = {}
    for i, x in docs:
        ws = x.split()
        sets[i] = {" ".join(ws[j:j + 3]) for j in range(len(ws) - 2)}
    expect = {}
    for i in sets:
        for j in sets:
            if i < j and sets[i] and sets[j]:
                inter = len(sets[i] & sets[j])
                union = len(sets[i] | sets[j])
                if inter / union >= t:
                    expect[(i, j)] = (inter, round(inter / union, 6))
    assert got == expect


def test_grouped_linreg_known_line(spark):
    from conte_to_fresco_etl_spark.operators.robust import grouped_linreg

    rows = (
        [("line", float(i), float(3 * i + 7)) for i in range(10)]
        + [("constx", 5.0, float(i)) for i in range(5)]
        + [("consty", float(i), 4.0) for i in range(5)]
    )
    df = spark.createDataFrame(rows, "k string, x double, y double")
    got = {r["k"]: r for r in grouped_linreg(df, "k", "x", "y").collect()}
    assert got["line"]["slope"] == 3.0
    assert got["line"]["intercept"] == 7.0
    assert got["line"]["r2"] == 1.0
    assert got["constx"]["slope"] is None       # vx = 0: undefined
    assert got["consty"]["slope"] == 0.0        # flat line fits exactly
    assert got["consty"]["r2"] is None          # vy = 0


def test_winsorize_clamps_only_tails(spark):
    from conte_to_fresco_etl_spark.operators.robust import winsorize

    rows = [(i, "k", float(v)) for i, v in
            enumerate([1, 2, 3, 4, 5, 6, 7, 8, 9, 1000])]
    df = spark.createDataFrame(rows, "event_id int, k string, value double")
    out = {r["event_id"]: r for r in
           winsorize(df, "k", "value", 0.1, 0.9).collect()}
    # p10 of 1..9,1000 = 1.9; p90 = 9·0.9+... quantile_cont: index 0.9*9=8.1 -> 9 + 0.1*(1000-9)=108.1
    assert out[0]["clipped"] and out[0]["value_w"] == out[0]["lo"]
    assert out[9]["clipped"] and out[9]["value_w"] == out[9]["hi"]
    # middle values pass through bit-identical and unflagged
    for i in range(1, 9):
        assert not out[i]["clipped"] and out[i]["value_w"] == float(i + 1)


def test_centroid_similarity_orthogonal_and_identical(spark):
    from conte_to_fresco_etl_spark.operators.similarity import (
        centroid_similarity,
    )

    rows = [
        (0, [1.0, 0.0], 0), (1, [1.0, 0.0], 0),   # label 0 -> e_x
        (2, [0.0, 1.0], 1),                       # label 1 -> e_y
        (3, [2.0, 0.0], 2),                       # label 2 -> 2·e_x
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>, label int")
    got = {(r["label_a"], r["label_b"]): r["cosine"]
           for r in centroid_similarity(df).collect()}
    assert got[(0, 1)] == 0.0   # orthogonal
    assert got[(0, 2)] == 1.0   # parallel
    assert got[(1, 2)] == 0.0


def test_containment_detects_quotation_jaccard_misses(spark):
    from conte_to_fresco_etl_spark.operators.dedup import (
        containment_pairs,
        jaccard_prefix_join,
    )

    short = "alpha beta gamma delta epsilon"
    long_ = short + " " + " ".join(f"w{i} x{i} y{i}" for i in range(20))
    df = spark.createDataFrame(
        [(0, short), (1, long_)], "doc_id int, text string"
    )
    cont = {(r["a"], r["b"]): r["containment"]
            for r in containment_pairs(df, threshold=0.8).collect()}
    # every shingle of the short doc appears in the long one
    assert cont[(0, 1)] == 1.0
    assert (1, 0) not in cont  # reverse direction far below threshold
    # Jaccard at the same bar sees nothing
    assert jaccard_prefix_join(df, threshold=0.8).count() == 0


def test_point_in_time_join_every_fact_matches_once(spark, sf_dir):
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    out = qs["q_point_in_time"](spark, sf_dir)
    n_facts = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("user_id") < 8)
        .count()
    )
    rows = out.collect()
    assert len(rows) == n_facts                      # exactly one version per fact
    assert len({r["event_id"] for r in rows}) == n_facts  # no double-match
    for r in rows:
        assert r["valid_from"] <= r["ts"]            # version valid AT the fact


def test_rolling_distinct_counts_types_in_time_frame(spark):
    """collect_set over a microsecond RANGE frame == COUNT(DISTINCT)
    by time: the 2:00 event's trailing hour excludes both earlier
    events despite two preceding rows."""
    from pyspark.sql import Window

    rows = [(1, 0, _ts(0, 0), "a"), (1, 1, _ts(0, 30), "b"),
            (1, 2, _ts(0, 45), "a"), (1, 3, _ts(2, 0), "c")]
    ev = spark.createDataFrame(
        rows, "user_id int, event_id int, ts timestamp, event_type string"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    got = {r["event_id"]: r["n"] for r in ev.select(
        "event_id",
        F.size(F.collect_set("event_type").over(w)).alias("n"),
    ).collect()}
    assert got == {0: 1, 1: 2, 2: 2, 3: 1}


def test_cumulative_reach_monotone_and_totals(spark, sf_dir):
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    rows = qs["q_cumulative_reach"](spark, sf_dir).orderBy("d").collect()
    n_users = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id").distinct().count()
    )
    assert rows[-1]["cumulative_reach"] == n_users   # everyone counted once
    assert sum(r["n_new"] for r in rows) == n_users
    seen = 0
    for r in rows:
        seen += r["n_new"]
        assert r["cumulative_reach"] == seen          # running sum exact


# ---------------------------------------------------------------------------
# stream-static point-in-time enrichment
# ---------------------------------------------------------------------------


def test_stream_static_point_in_time_enrichment(spark, tmp_path):
    """A fact STREAM joins the static SCD2 dimension on the same
    half-open validity condition as the batch probe — every streamed
    fact attaches exactly the version valid at its timestamp (the
    streaming side of q_point_in_time)."""
    from conte_to_fresco_etl_spark.operators.scd import scd2_intervals

    hist = [
        (1, _ts(0, 0), 100, "bronze"),
        (1, _ts(1, 0), 101, "silver"),   # upgrade at 1:00
        (1, _ts(3, 0), 102, "gold"),     # upgrade at 3:00
    ]
    dim = scd2_intervals(
        spark.createDataFrame(
            hist, "user_id int, ts timestamp, event_id int, event_type string"
        )
    ).select(
        F.col("user_id").alias("d_user"),
        F.col("event_type").alias("state"),
        "valid_from",
        "valid_to",
    )

    facts = [
        (1, _ts(0, 30), 1.0),   # bronze
        (1, _ts(1, 0), 2.0),    # exactly at upgrade -> silver (half-open)
        (1, _ts(2, 59), 3.0),   # silver
        (1, _ts(9, 0), 4.0),    # gold (open-ended current version)
    ]
    src = str(tmp_path / "facts")
    spark.createDataFrame(
        facts, "user_id int, ts timestamp, value double"
    ).write.parquet(src)
    stream = spark.readStream.schema(
        "user_id int, ts timestamp, value double"
    ).parquet(src)

    enriched = stream.join(
        dim,
        (stream["user_id"] == dim["d_user"])
        & (stream["ts"] >= dim["valid_from"])
        & (dim["valid_to"].isNull() | (stream["ts"] < dim["valid_to"])),
    ).select("user_id", "ts", "value", "state")
    q = (
        enriched.writeStream.format("memory")
        .queryName("pit_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["value"]: r["state"]
           for r in spark.sql("select * from pit_stream").collect()}
    assert got == {1.0: "bronze", 2.0: "silver", 3.0: "silver", 4.0: "gold"}


def test_ngram_novelty_credits_first_occurrence(spark):
    """Shingle credit goes to the LOWEST doc id; an exact repeat scores
    0 novelty and a fresh doc scores 1."""
    from conte_to_fresco_etl_spark.operators.dedup import shingle_postings
    from pyspark.sql import functions as F2

    docs = [
        (0, "a b c d e"),          # 3 shingles, all first -> 1.0
        (1, "a b c d e"),          # exact repeat -> 0.0
        (2, "x y z w"),            # fresh -> 1.0
        (3, "a b c x y z"),        # 'a b c'+'x y z' seen; 'b c x','c x y' new
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    posts = shingle_postings(df)
    firsts = posts.groupBy("tok").agg(F2.min("__id").alias("first_id"))
    nov = (
        posts.join(firsts, "tok")
        .groupBy("__id")
        .agg(
            (
                F2.sum(
                    F2.when(F2.col("first_id") == F2.col("__id"), 1).otherwise(0)
                ).cast("double")
                / F2.count("*")
            ).alias("novelty")
        )
    )
    got = {r["__id"]: r["novelty"] for r in nov.collect()}
    assert got[0] == 1.0 and got[1] == 0.0 and got[2] == 1.0
    assert got[3] == 0.5  # 2 of 4 shingles first-seen here


# ---------------------------------------------------------------------------
# round 5: embedding outliers, hard negatives, score propagation, DSIR
# ---------------------------------------------------------------------------


def test_embedding_outliers_flags_far_vector(spark):
    from conte_to_fresco_etl_spark.operators.similarity import (
        embedding_outliers,
    )

    rows = [
        (0, [1.0, 0.0], 7),
        (1, [1.0, 0.2], 7),
        (2, [9.0, 9.0], 7),   # far from label-7 centroid
        (3, [0.0, 1.0], 8),
        (4, [0.0, 1.0], 8),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = embedding_outliers(df, k_per_label=1).collect()
    got = {r["label"]: r for r in out}
    assert got[7]["vec_id"] == 2 and got[7]["rk"] == 1
    # label 8 is two identical vectors: dist2 == 0 for both, tie -> id 3
    assert got[8]["vec_id"] == 3 and got[8]["dist2"] == 0.0


def test_hard_negative_topk_excludes_same_label(spark):
    from conte_to_fresco_etl_spark.operators.similarity import (
        hard_negative_topk,
    )
    from pyspark.sql import functions as F

    rows = [
        (0, [1.0, 0.0], 1),          # anchor
        (1, [0.99, 0.1], 1),         # same label: excluded even if closest
        (2, [0.9, 0.3], 2),          # hard negative
        (3, [0.0, 1.0], 2),          # easy negative
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = hard_negative_topk(df, F.col("vec_id") == 0, k=2).collect()
    assert [r["neighbor_id"] for r in out] == [2, 3]
    assert all(r["neighbor_label"] == 2 for r in out)
    assert out[0]["cosine"] > out[1]["cosine"]


def test_score_propagation_mixes_neighbor_mean(spark):
    from conte_to_fresco_etl_spark.operators.graph import score_propagation

    scores = spark.createDataFrame(
        [(1, 1.0), (2, 0.0), (3, 0.5), (9, 0.25)],
        "doc_id int, quality double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "id_a int, id_b int"
    )
    got = {r["doc_id"]: r for r in score_propagation(scores, pairs).collect()}
    # node 1: own 1.0, neighbors mean (0.0 + 0.5)/2 = 0.25 -> 0.625
    assert got[1]["smoothed"] == 0.625 and got[1]["n_neighbors"] == 2
    # node 2: own 0.0, neighbor 1.0 -> 0.5
    assert got[2]["smoothed"] == 0.5 and got[2]["n_neighbors"] == 1
    # isolated node keeps its score
    assert got[9]["smoothed"] == 0.25 and got[9]["n_neighbors"] == 0


def test_dsir_logweights_prefers_target_like_docs(spark):
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        dsir_logweights,
    )
    from pyspark.sql import functions as F

    rows = [
        (0, "alpha alpha beta", "en"),    # target docs: alpha-heavy
        (1, "alpha beta alpha", "en"),
        (2, "gamma gamma delta", "fr"),   # source-only tokens
        (3, "alpha alpha alpha", "fr"),   # target-like but not in target
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_logweights(df, F.col("lang") == "en").collect()
    }
    # target-like doc 3 outscores source-typical doc 2
    assert got[3] > got[2]
    assert got[0] > got[2]
    assert all(r is not None for r in got.values()) and len(got) == 4


def test_lsh_recall_report_perfect_on_exact_duplicates(spark):
    from conte_to_fresco_etl_spark.operators.dedup import lsh_recall_report

    base = "the quick brown fox jumps over the lazy dog " * 4
    rows = [
        (0, base),
        (1, base),                      # exact duplicate of 0
        (2, "completely different content about spark and parquet " * 4),
        (3, "unrelated third text with its own words entirely " * 4),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = lsh_recall_report(df).collect()[0]
    # identical docs share identical signatures: always a candidate
    assert r["n_true"] == 1 and r["n_hit"] == 1 and r["recall"] == 1.0
    assert r["prec"] is not None and 0.0 < r["prec"] <= 1.0


def test_lsh_recall_report_null_rates_on_empty_truth(spark):
    from conte_to_fresco_etl_spark.operators.dedup import lsh_recall_report

    rows = [(0, "alpha beta gamma delta " * 3), (1, "zeta eta theta iota " * 3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = lsh_recall_report(df).collect()[0]
    assert r["n_true"] == 0 and r["recall"] is None


def test_classification_metrics_hand_computed(spark):
    from conte_to_fresco_etl_spark.operators.robust import (
        classification_metrics,
    )

    # gold: a,a,a,b,b,c ; pred: a,a,b,b,b,b
    rows = [("a", "a"), ("a", "a"), ("a", "b"),
            ("b", "b"), ("b", "b"), ("c", "b")]
    df = spark.createDataFrame(rows, "g string, p string")
    r = classification_metrics(df, "g", "p").collect()[0]
    assert r["n"] == 6 and r["n_classes"] == 3
    # accuracy = 4/6
    assert r["accuracy"] == round(4 / 6, 6)
    # per-class: a: prec 2/2, rec 2/3; b: prec 2/4, rec 2/2; c: prec 0 (no
    # preds... pred_n=0 -> 0), rec 0/1 = 0
    mp = (1.0 + 0.5 + 0.0) / 3
    mr = (2 / 3 + 1.0 + 0.0) / 3
    f_a = 2 * 1.0 * (2 / 3) / (1.0 + 2 / 3)
    f_b = 2 * 0.5 * 1.0 / 1.5
    mf = (round(f_a, 12) + round(f_b, 12) + 0.0) / 3
    assert r["macro_precision"] == round(mp, 6)
    assert r["macro_recall"] == round(mr, 6)
    assert abs(r["macro_f1"] - mf) < 1e-6
    # kappa: po = 4/6, pe = (3*2 + 2*4 + 1*0)/36 = 14/36
    po, pe = 4 / 6, 14 / 36
    assert r["kappa"] == round((po - pe) / (1 - pe), 6)


def test_classification_metrics_degenerate_single_class(spark):
    from conte_to_fresco_etl_spark.operators.robust import (
        classification_metrics,
    )

    df = spark.createDataFrame([("a", "a")] * 5, "g string, p string")
    r = classification_metrics(df, "g", "p").collect()[0]
    # perfect single-class predictions: pe = 1 -> kappa undefined
    assert r["accuracy"] == 1.0 and r["macro_f1"] == 1.0
    assert r["kappa"] is None


def test_group_reservoir_uniform_and_stable(spark):
    from conte_to_fresco_etl_spark.validation import group_reservoir

    rows = [(f"g{i % 3}", i) for i in range(300)]
    df = spark.createDataFrame(rows, "grp string, k int")
    out = group_reservoir(df, "grp", "k", k=10, seed=7)
    got = {(r["grp"], r["k"]) for r in out.collect()}
    assert len(got) == 30
    # partitioning-independence
    got8 = {
        (r["grp"], r["k"])
        for r in group_reservoir(
            df.repartition(8), "grp", "k", k=10, seed=7
        ).collect()
    }
    assert got8 == got
    # python twin: per group, 10 smallest md5 hashes
    import hashlib

    def h(k):
        return int(hashlib.md5(f"7:{k}".encode()).hexdigest()[:15], 16)

    expect = set()
    for g in ("g0", "g1", "g2"):
        members = sorted(
            (k for gg, k in rows if gg == g), key=lambda k: (h(k), k)
        )[:10]
        expect |= {(g, k) for k in members}
    assert got == expect


def test_cusum_drift_detects_level_shift(spark):
    from conte_to_fresco_etl_spark.operators.robust import cusum_drift

    # 6 days flat at 10, then 6 days shifted to 20: cusum_pos should
    # climb monotonically through the second half
    rows = []
    for d in range(12):
        val = 10.0 if d < 6 else 20.0
        rows.append((dt.datetime(2024, 1, 1 + d, 12), "a", val))
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    out = sorted(
        cusum_drift(df).collect(), key=lambda r: r["day"]
    )
    # target = 15; y = -5 for days 1-6 so S runs -5..-30; with S_0 = 0
    # in the running max, cusum_neg(day6) = max(0, -5..) - (-30) = 30
    # == the recursive fold's C_6 = 6*5
    assert out[5]["cusum_neg"] == 30.0 and out[5]["cusum_pos"] == 0.0
    pos_tail = [r["cusum_pos"] for r in out[6:]]
    assert pos_tail == sorted(pos_tail) and pos_tail[-1] == 30.0


def test_mannwhitney_matches_scipy_formula(spark):
    import math

    from conte_to_fresco_etl_spark.operators.robust import mannwhitney_u

    a = [1.0, 2.0, 3.0, 7.0, 8.0]
    b = [4.0, 5.0, 6.0, 6.0, 9.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    r = mannwhitney_u(df, "g", "v", "a", "b").collect()[0]
    # python twin with midranks
    allv = sorted(a + b)
    def midrank(x):
        lo = sum(1 for y in allv if y < x)
        eq = sum(1 for y in allv if y == x)
        return lo + (eq + 1) / 2.0
    r_a = sum(midrank(x) for x in a)
    u_a = r_a - len(a) * (len(a) + 1) / 2.0
    assert r["n_a"] == 5 and r["n_b"] == 5
    assert r["u_a"] == u_a and r["u_b"] == len(a) * len(b) - u_a
    n = len(allv)
    tie = sum(t**3 - t for t in [2])  # one tie group of size 2 (6.0)
    var = len(a) * len(b) / 12.0 * ((n + 1) - tie / (n * (n - 1)))
    z = (u_a - len(a) * len(b) / 2.0) / math.sqrt(var)
    assert abs(r["z"] - round(z, 6)) < 1e-6


def test_mannwhitney_all_tied_null_z(spark):
    from conte_to_fresco_etl_spark.operators.robust import mannwhitney_u

    rows = [("a", 5.0)] * 3 + [("b", 5.0)] * 3
    df = spark.createDataFrame(rows, "g string, v double")
    r = mannwhitney_u(df, "g", "v", "a", "b").collect()[0]
    assert r["z"] is None  # zero variance: every value identical


def test_ks_test_detects_shape_difference(spark):
    from conte_to_fresco_etl_spark.operators.robust import ks_test

    # a: uniform 1..10 ; b: all mass at 5.5 -> D should be large
    rows = [("a", float(i)) for i in range(1, 11)] + [("b", 5.5)] * 10
    df = spark.createDataFrame(rows, "g string, v double")
    r = ks_test(df, "g", "v", "a", "b").collect()[0]
    # at v=5: F_a = 0.5, F_b = 0 -> gap 0.5 ; at 5.5: F_a=0.5, F_b=1 -> 0.5
    # max gap 0.5, first attained at v=5.0
    assert r["n_a"] == 10 and r["n_b"] == 10
    assert r["d_stat"] == 0.5 and r["at_value"] == 5.0


def test_ks_test_identical_distributions_zero(spark):
    from conte_to_fresco_etl_spark.operators.robust import ks_test

    rows = [("a", float(i % 5)) for i in range(20)] + [
        ("b", float(i % 5)) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    r = ks_test(df, "g", "v", "a", "b").collect()[0]
    assert r["d_stat"] == 0.0


def test_mixture_diversity_uniform_vs_concentrated(spark):
    import math

    from conte_to_fresco_etl_spark.validation import mixture_diversity

    uniform = spark.createDataFrame(
        [(f"s{i % 4}",) for i in range(400)], "source string"
    )
    r = mixture_diversity(uniform, "source").collect()[0]
    assert r["n_groups"] == 4 and r["gini"] == 0.0
    assert r["entropy"] == round(math.log(4), 6)
    assert abs(r["effective_groups"] - 4.0) < 1e-4

    skewed = spark.createDataFrame(
        [("big",)] * 97 + [("tiny",)] * 3, "source string"
    )
    r2 = mixture_diversity(skewed, "source").collect()[0]
    # sorted asc: tiny(3) i=1, big(97) i=2; gini = (1*(-1)*3 + 1*97)/(2*100)
    assert r2["gini"] == round(((-1) * 3 + 1 * 97) / 200, 6)
    assert r2["effective_groups"] < 1.3


def test_cusum_drift_equals_recursive_fold(spark):
    """The windows form must equal the classic per-day recursion
    C_t = max(0, C_{t-1} + y_t) for both sides."""
    from conte_to_fresco_etl_spark.operators.robust import cusum_drift

    vals = [12.0, 9.0, 15.0, 15.0, 21.0, 8.0, 30.0, 10.0]
    rows = [
        (dt.datetime(2024, 2, 1 + d, 8), "x", v) for d, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    out = sorted(cusum_drift(df).collect(), key=lambda r: r["day"])
    target = round(sum(vals) / len(vals), 6)
    cp = cn = 0.0
    for r, v in zip(out, vals):
        y = round(v, 6) - target
        cp = max(0.0, cp + y)
        cn = max(0.0, cn - y)
        assert abs(r["cusum_pos"] - round(cp, 6)) < 1e-9, r
        assert abs(r["cusum_neg"] - round(cn, 6)) < 1e-9, r


# ---------------------------------------------------------------------------
# Welch's t-test / Poisson bootstrap / Count-Min sketch (round-6 additions)
# ---------------------------------------------------------------------------

def test_welch_ttest_matches_hand_computation(spark):
    from conte_to_fresco_etl_spark.operators.robust import welch_ttest

    a = [4.0, 5.0, 6.0, 7.0, 8.0]
    b = [1.0, 2.0, 3.0, 4.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b] + [("c", 99.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = welch_ttest(df, "g", "v", "a", "b").collect()[0]
    ma, mb = sum(a) / len(a), sum(b) / len(b)
    va = sum((x - ma) ** 2 for x in a) / (len(a) - 1)
    vb = sum((x - mb) ** 2 for x in b) / (len(b) - 1)
    se2a, se2b = va / len(a), vb / len(b)
    t = (ma - mb) / math.sqrt(se2a + se2b)
    dfw = (se2a + se2b) ** 2 / (
        se2a**2 / (len(a) - 1) + se2b**2 / (len(b) - 1)
    )
    assert out["n_a"] == 5 and out["n_b"] == 4
    assert out["mean_a"] == round(ma, 6)
    assert out["mean_b"] == round(mb, 6)
    assert abs(out["t_stat"] - t) < 1e-6
    assert abs(out["df"] - dfw) < 1e-6


def test_welch_ttest_degenerate_inputs(spark):
    from conte_to_fresco_etl_spark.operators.robust import welch_ttest

    # group b has one row -> t/df NULL, means still reported
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 5.0)], "g string, v double"
    )
    out = welch_ttest(df, "g", "v", "a", "b").collect()[0]
    assert out["t_stat"] is None and out["df"] is None
    assert out["mean_b"] == 5.0
    # zero variance in both groups -> NULL, no division crash
    df2 = spark.createDataFrame(
        [("a", 3.0)] * 4 + [("b", 3.0)] * 4, "g string, v double"
    )
    out2 = welch_ttest(df2, "g", "v", "a", "b").collect()[0]
    assert out2["t_stat"] is None
    # empty group -> NULL stats, zero count
    out3 = welch_ttest(df2, "g", "v", "a", "zzz").collect()[0]
    assert out3["n_b"] == 0 and out3["t_stat"] is None


def test_poisson_bootstrap_ci_brackets_mean_and_is_deterministic(spark):
    from conte_to_fresco_etl_spark.operators.robust import (
        poisson_bootstrap_ci,
    )

    rows = [(i, "k", float(10 + (i * 37) % 20)) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, key string, v double")
    out1 = poisson_bootstrap_ci(df, "key", "v", "id").collect()[0]
    out2 = poisson_bootstrap_ci(df, "key", "v", "id").collect()[0]
    assert out1 == out2  # hash-seeded: bit-identical across runs
    assert out1["n"] == 400 and out1["n_replicates"] == 50
    # the interval brackets the sample mean and is reasonably tight
    assert out1["ci_lo"] <= out1["mean"] <= out1["ci_hi"]
    spread = out1["ci_hi"] - out1["ci_lo"]
    assert 0 < spread < 3.0  # sd~5.8/sqrt(400) -> ~1.1 expected width
    # a different seed moves the replicate draws
    out3 = poisson_bootstrap_ci(df, "key", "v", "id", seed="other").collect()[
        0
    ]
    assert (out3["ci_lo"], out3["ci_hi"]) != (out1["ci_lo"], out1["ci_hi"])


def test_count_min_never_underestimates_and_orders(spark):
    from conte_to_fresco_etl_spark.operators.rollup import count_min_topk

    rows = [(f"tok{i % 37}",) for i in range(3000)] + [("rare",)]
    df = spark.createDataFrame(rows, "item string")
    out = count_min_topk(df, "item", k=10, depth=4, width=64).collect()
    assert len(out) == 10
    exacts = [r["exact_n"] for r in out]
    assert exacts == sorted(exacts, reverse=True)
    for r in out:
        assert r["cms_n"] >= r["exact_n"]  # CMS one-sided error
        assert r["overestimate"] == r["cms_n"] - r["exact_n"]
    # wider sketch -> no more error than the narrow one on every item
    wide = {
        r["item"]: r["overestimate"]
        for r in count_min_topk(df, "item", k=10, depth=4, width=4096).collect()
    }
    assert all(v == 0 for v in wide.values())  # 38 items, 4096 buckets


def test_changepoint_finds_level_shift(spark):
    from conte_to_fresco_etl_spark.operators.robust import (
        changepoint_binary_seg,
    )

    # 10 days at ~10, then 10 days at ~50: split must land on day 10
    rows = []
    for d in range(20):
        level = 10.0 if d < 10 else 50.0
        for k in range(5):
            rows.append((dt.datetime(2024, 3, 1 + d, 6 + k), level + k))
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = changepoint_binary_seg(df, "ts", "value").collect()[0]
    assert out["n_days"] == 20
    assert out["split_day"] == dt.date(2024, 3, 10)
    assert out["mean_left"] == 60.0  # 5 rows/day * (10..14 avg 12) = 60
    assert out["mean_right"] == 260.0
    assert out["score"] > 0


def test_snm_pairs_blocking_and_jaccard(spark):
    from conte_to_fresco_etl_spark.operators.dedup import (
        snm_candidate_pairs,
    )

    docs = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),   # exact dup of 1
        (3, "alpha beta gamma delta different"),  # near dup, same prefix
        (4, "zzz totally unrelated content here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in snm_candidate_pairs(df, window=3).collect()
    }
    # docs 1-3 share a block and sort adjacently; 4 is alone in its block
    assert (1, 2) in out and out[(1, 2)] == 1.0
    assert any(p in out for p in [(1, 3), (2, 3)])
    assert all(4 not in p for p in out)
    for j in out.values():
        assert 0.0 <= j <= 1.0


value_lists = st.lists(
    st.floats(0.0, 1000.0, allow_nan=False, width=32),
    min_size=2,
    max_size=40,
)


def _q4(v: float) -> float:
    """Quantize like Spark's cast(v AS DECIMAL(18,4)): HALF_UP."""
    import decimal

    return float(
        decimal.Decimal(repr(v)).quantize(
            decimal.Decimal("0.0001"), rounding=decimal.ROUND_HALF_UP
        )
    )


def _r6(v: float) -> float:
    """Round like Spark's F.round(v, 6): HALF_UP, not banker's."""
    import decimal

    return float(
        decimal.Decimal(repr(v)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )


@settings(max_examples=6, deadline=None)
@given(value_lists, value_lists)
def test_welch_ttest_antisymmetric_and_bruteforce(spark, xs, ys):
    """Swapping the groups negates t, preserves df; both match the
    textbook formulas on random inputs (including tied/constant
    lists, where the operator must return NULL instead of NaN)."""
    from conte_to_fresco_etl_spark.operators.robust import welch_ttest

    rows = [("a", float(v)) for v in xs] + [("b", float(v)) for v in ys]
    df = spark.createDataFrame(rows, "g string, v double")
    ab = welch_ttest(df, "g", "v", "a", "b").collect()[0]
    ba = welch_ttest(df, "g", "v", "b", "a").collect()[0]
    assert ab["n_a"] == ba["n_b"] and ab["mean_a"] == ba["mean_b"]
    if ab["t_stat"] is None:
        assert ba["t_stat"] is None
        return
    assert abs(ab["t_stat"] + ba["t_stat"]) < 2e-6
    assert abs(ab["df"] - ba["df"]) < 2e-6
    # brute force (on the decimal-quantized values the operator sums;
    # Spark's decimal cast rounds HALF_UP, not banker's)
    qx = [_q4(v) for v in xs]
    qy = [_q4(v) for v in ys]
    ma, mb = sum(qx) / len(qx), sum(qy) / len(qy)
    va = sum((round(v * v, 12) for v in qx)) / 1 - len(qx) * ma * ma
    va /= len(qx) - 1
    vb = (sum(round(v * v, 12) for v in qy) - len(qy) * mb * mb) / (
        len(qy) - 1
    )
    t = (ma - mb) / math.sqrt(va / len(qx) + vb / len(qy))
    assert abs(ab["t_stat"] - t) < 1e-4


@settings(max_examples=6, deadline=None)
@given(st.lists(st.integers(0, 500), min_size=1, max_size=60),
       st.integers(1, 8))
def test_count_min_dominates_exact_on_random_streams(spark, items, width_pow):
    from conte_to_fresco_etl_spark.operators.rollup import count_min_topk

    df = spark.createDataFrame(
        [(f"t{v}",) for v in items], "item string"
    )
    out = count_min_topk(df, "item", k=5, depth=3, width=2**width_pow)
    from collections import Counter

    truth = Counter(f"t{v}" for v in items)
    for r in out.collect():
        assert r["exact_n"] == truth[r["item"]]
        assert r["cms_n"] >= r["exact_n"]


@settings(max_examples=5, deadline=None)
@given(st.lists(st.floats(1.0, 100.0, allow_nan=False, width=16),
                min_size=4, max_size=25))
def test_changepoint_split_matches_bruteforce(spark, vals):
    """Argmax split == O(n²) brute force on random daily series."""
    from conte_to_fresco_etl_spark.operators.robust import (
        changepoint_binary_seg,
    )

    rows = [
        (dt.datetime(2024, 5, 1) + dt.timedelta(days=d, hours=3), float(v))
        for d, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = changepoint_binary_seg(df, "ts", "value").collect()[0]
    q = [_q4(v) for v in vals]
    n = len(q)
    best = None
    for i in range(1, n):
        ml, mr = sum(q[:i]) / i, sum(q[i:]) / (n - i)
        score = round(abs(ml - mr) * math.sqrt(i * (n - i) / n), 6)
        day = dt.date(2024, 5, 1) + dt.timedelta(days=i - 1)
        if best is None or (score, -i) > (best[0], -best[1]):
            best = (score, i, day)
    assert out["n_days"] == n
    assert out["split_day"] == best[2]
    assert abs(out["score"] - best[0]) < 1e-6


def test_l_diversity_flags_homogeneous_classes(spark):
    from conte_to_fresco_etl_spark.operators.pii import l_diversity

    rows = (
        [("c1", "x") for _ in range(6)]                 # homogeneous
        + [("c2", s) for s in ["a", "b", "c", "a"]]     # diverse
        + [("c3", None), ("c3", None), ("c3", "a")]     # NULL is a value
    )
    df = spark.createDataFrame(rows, "cls string, sv string")
    out = {r["cls"]: r for r in l_diversity(df, ["cls"], "sv", l=3).collect()}
    assert out["c1"]["group_n"] == 6 and out["c1"]["n_sensitive"] == 1
    assert not out["c1"]["meets_l"] and out["c1"]["top_frac"] == 1.0
    assert out["c2"]["n_sensitive"] == 3 and out["c2"]["meets_l"]
    assert out["c2"]["top_frac"] == 0.5
    assert out["c3"]["n_sensitive"] == 2 and not out["c3"]["meets_l"]


def test_calibration_bins_perfect_and_miscalibrated(spark):
    from conte_to_fresco_etl_spark.operators.robust import calibration_bins

    # perfectly calibrated: score 0.25 bin has 25% positives, etc.
    rows = []
    for score, pos_frac in [(0.25, 0.25), (0.75, 0.75)]:
        for i in range(100):
            rows.append((score, i < pos_frac * 100))
    df = spark.createDataFrame(rows, "score double, y boolean")
    out = {r["bin"]: r for r in calibration_bins(df, "score", "y").collect()}
    assert set(out) == {2, 7}
    for b in out.values():
        assert b["n"] == 100 and b["gap"] == 0.0
        assert b["mean_score"] == b["positive_rate"]
    # overconfident scorer: score 0.9 but only 30% positive -> gap 0.6
    rows2 = [(0.9, i < 30) for i in range(100)]
    df2 = spark.createDataFrame(rows2, "score double, y boolean")
    (r2,) = calibration_bins(df2, "score", "y").collect()
    assert r2["bin"] == 9 and r2["gap"] == 0.6
    # score exactly 1.0 clamps into the top bin
    df3 = spark.createDataFrame([(1.0, True)], "score double, y boolean")
    assert calibration_bins(df3, "score", "y").collect()[0]["bin"] == 9


def test_cuped_removes_variance_from_correlated_covariate(spark):
    from conte_to_fresco_etl_spark.operators.robust import cuped_adjustment

    # per user: first-half level u, second-half level u + noise ->
    # x and y strongly correlated -> large variance reduction
    rows = []
    for u in range(40):
        base = float(10 + u)
        for k in range(3):
            rows.append((u, dt.datetime(2024, 1, 1 + k, 8), base))
            rows.append(
                (u, dt.datetime(2024, 2, 1 + k, 8), base + (u % 3) * 0.5)
            )
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = cuped_adjustment(df, "user_id", "ts", "value").collect()[0]
    assert out["n_keys"] == 40
    assert out["theta"] is not None and out["theta"] > 0.9
    assert out["var_adj"] < out["var_y"]
    assert out["reduction_pct"] > 90.0
    # constant covariate -> var(x)=0 -> NULL theta, no crash
    const = spark.createDataFrame(
        [(u, dt.datetime(2024, 1, 1, 8), 5.0) for u in range(10)]
        + [(u, dt.datetime(2024, 2, 1, 8), float(u)) for u in range(10)],
        "user_id long, ts timestamp, value double",
    )
    out2 = cuped_adjustment(const, "user_id", "ts", "value").collect()[0]
    assert out2["theta"] is None and out2["var_adj"] is None


def test_permutation_test_separates_shifted_from_identical(spark):
    from conte_to_fresco_etl_spark.operators.robust import permutation_test

    # clearly shifted groups -> small p; same distribution -> large p
    rows = [(i, "a", 10.0 + (i % 5)) for i in range(100)] + [
        (1000 + i, "b", 30.0 + (i % 5)) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    out = permutation_test(df, "g", "v", "a", "b", "id").collect()[0]
    assert out["n_a"] == 100 and out["n_b"] == 100
    assert out["obs_diff"] == -20.0
    assert out["p_value"] <= 2.0 / 51.0  # no replicate as extreme
    assert out["n_perms"] == 50
    same = [(i, "a" if i % 2 else "b", float(10 + i % 7)) for i in range(200)]
    df2 = spark.createDataFrame(same, "id long, g string, v double")
    out2 = permutation_test(df2, "g", "v", "a", "b", "id").collect()[0]
    assert out2["p_value"] > 0.2
    # deterministic across runs
    out3 = permutation_test(df2, "g", "v", "a", "b", "id").collect()[0]
    assert out2 == out3


# ---------------------------------------------------------------------------
# Fellegi-Sunter record linkage
# ---------------------------------------------------------------------------

def test_fellegi_sunter_score_matches_hand_computation(spark):
    """Weights = log2(m/u) / log2((1-m)/(1-u)) with u = sum(freq^2)/n^2
    from the data; NULL fields agree null-safely; the duplicate pair
    outscores the rest and the score equals the Python recomputation."""
    import math

    from conte_to_fresco_etl_spark.operators.linkage import (
        FieldComparison,
        fellegi_sunter_pairs,
    )
    from pyspark.sql import functions as F

    rows = [
        # (id, block, city, band) — 1/2 same entity, 3 a near miss,
        # 4 has NULL city (pairs with nobody on city except NULL)
        (1, 0, "springfield", 5),
        (2, 0, "springfield", 5),
        (3, 0, "springfield", 7),
        (4, 0, None, 5),
        (5, 1, "shelbyville", 5),
    ]
    df = spark.createDataFrame(rows, "id int, blk int, city string, band int")
    fields = [
        FieldComparison("city", F.col("city"), 0.9),
        FieldComparison("band", F.col("band"), 0.8),
    ]
    out = {
        (r["id_a"], r["id_b"]): r
        for r in fellegi_sunter_pairs(df, "id", ["blk"], fields).collect()
    }
    # block 0 -> C(4,2)=6 pairs, block 1 -> none
    assert len(out) == 6

    def u_of(vals):
        from collections import Counter

        n = len(vals)
        s = sum(c * c for c in Counter(vals).values())
        return min(max(s / (n * n), 1e-9), 1.0 - 1e-9)

    u_city = u_of([r[2] for r in rows])
    u_band = u_of([r[3] for r in rows])

    def w(m, u, agree):
        x = m / u if agree else (1.0 - m) / (1.0 - u)
        return round(math.log2(x), 12)

    exp_12 = round(w(0.9, u_city, True) + w(0.8, u_band, True), 6)
    assert out[(1, 2)]["score"] == exp_12
    assert out[(1, 2)]["agree_city"] and out[(1, 2)]["agree_band"]
    # near miss: band differs
    assert out[(1, 3)]["score"] == round(
        w(0.9, u_city, True) + w(0.8, u_band, False), 6
    )
    # NULL city disagrees with a present city, null-safely
    assert not out[(1, 4)]["agree_city"]
    assert out[(1, 2)]["score"] == max(r["score"] for r in out.values())


def test_fellegi_sunter_constant_field_clamped(spark):
    """A constant field (u -> 1) must not produce infinite weights:
    the clamp keeps both logs finite."""
    from conte_to_fresco_etl_spark.operators.linkage import (
        FieldComparison,
        fellegi_sunter_pairs,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, 0, "x"), (2, 0, "x"), (3, 0, "x")], "id int, blk int, v string"
    )
    out = fellegi_sunter_pairs(
        df, "id", ["blk"], [FieldComparison("v", F.col("v"), 0.9)]
    ).collect()
    assert len(out) == 3
    assert all(abs(r["score"]) < 1e3 and r["score"] is not None for r in out)


def test_t_closeness_hand_computed_emd(spark):
    """Two-value domain: class A is all 0s, class B is all 1s, global is
    50/50 — both classes sit at EMD 0.5 from the population; a balanced
    class sits at 0.  k=2 so the (k-1) normalizer is 1."""
    from conte_to_fresco_etl_spark.operators.pii import t_closeness

    rows = (
        [("A", 0)] * 4 + [("B", 1)] * 4 + [("C", 0)] * 2 + [("C", 1)] * 2
    )
    df = spark.createDataFrame(rows, "grp string, v int")
    out = {
        r["grp"]: r for r in t_closeness(df, ["grp"], "v", t_max=0.3).collect()
    }
    # global: 6 zeros / 6 ones.  Class A: cum diffs at v=0: |1-0.5|=0.5,
    # at v=1: 0 -> t = 0.5.
    assert out["A"]["t_dist"] == 0.5 and not out["A"]["within_t"]
    assert out["B"]["t_dist"] == 0.5 and not out["B"]["within_t"]
    assert out["C"]["t_dist"] == 0.0 and out["C"]["within_t"]
    assert out["A"]["n_class"] == 4 and out["C"]["n_class"] == 4


def test_t_closeness_single_value_domain_defined(spark):
    """k=1 (every row shares one sensitive value): the (k-1) divisor is
    zero — the audit must return t=0 (distributions identical), not
    crash or NULL."""
    from conte_to_fresco_etl_spark.operators.pii import t_closeness

    df = spark.createDataFrame(
        [("A", 7), ("A", 7), ("B", 7)], "grp string, v int"
    )
    out = t_closeness(df, ["grp"], "v").collect()
    assert {r["t_dist"] for r in out} == {0.0}
    assert all(r["within_t"] for r in out)


def test_label_propagation_respects_communities(spark):
    """Two dense triangles joined by one bridge edge: connected
    components would merge them; LPA keeps two communities, each
    labeled by its smallest member."""
    from conte_to_fresco_etl_spark.operators.graph import label_propagation

    edges = [
        (1, 2), (2, 3), (1, 3),      # triangle A
        (4, 5), (5, 6), (4, 6),      # triangle B
        (3, 4),                       # bridge
    ]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = {r["node"]: r["label"] for r in label_propagation(df).collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6}
    # triangle A converges to its min label 1; triangle B converges to
    # 3 (the min-label tiebreak pulls the bridge node's label across,
    # hand-traced over the 3 synchronous rounds) — but the two
    # communities stay DISTINCT, which is the property components lack
    assert out[1] == out[2] == out[3] == 1
    assert out[4] == out[5] == out[6] == 3


def test_bh_fdr_matches_statsmodels_convention(spark):
    """BH step-up on a known p-value ladder: adjusted values equal the
    hand-computed min_{j>=i}(p_j * m / j) with the cap at 1, and the
    discovery set is exactly the classic step-up rejection set."""
    from conte_to_fresco_etl_spark.operators.robust import bh_fdr

    ps = [0.001, 0.008, 0.039, 0.041, 0.042, 0.06, 0.074, 0.205, 0.212,
          0.216, 0.222, 0.251, 0.269, 0.275, 0.34, 0.341, 0.384, 0.569,
          0.594, 0.696, 0.762, 0.94, 0.942, 0.975, 0.986]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(ps)], "h int, p double"
    )
    out = {r["h"]: r for r in bh_fdr(df, "p", ["h"], q=0.05).collect()}
    m = len(ps)
    raws = [round(p * m / (i + 1), 12) for i, p in enumerate(ps)]
    adj, run = [], 1.0
    for r in reversed(raws):
        run = min(run, r)
        adj.append(run)
    adj = [round(min(a, 1.0), 6) for a in reversed(adj)]
    for i in range(m):
        assert out[i]["p_adjusted"] == adj[i]
        assert out[i]["rank"] == i + 1
    # step-up at q=.05: only p=0.001 survives (adj p2 = 0.008*25/2 = 0.1)
    assert {h for h, r in out.items() if r["discovery"]} == {0}
    # monotone non-decreasing in rank
    seq = [out[i]["p_adjusted"] for i in range(m)]
    assert all(a <= b for a, b in zip(seq, seq[1:]))


@settings(max_examples=6, deadline=None)
@given(st.lists(st.floats(0.0, 50.0, allow_nan=False, width=16),
                min_size=1, max_size=20))
def test_mann_kendall_matches_bruteforce(spark, vals):
    """S, tie-corrected variance, continuity-corrected z, and the
    deterministic Theil-Sen median all match an O(n²) brute force on
    random series (including constant series, where z must be NULL)."""
    from conte_to_fresco_etl_spark.operators.robust import mann_kendall_trend

    rows = [("g", float(d), float(v)) for d, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, t double, v double")
    out = mann_kendall_trend(df, "g", "t", "v").collect()[0]

    n = len(vals)
    s = 0
    slopes = []
    for i in range(n):
        for j in range(i + 1, n):
            d = vals[j] - vals[i]
            s += (d > 0) - (d < 0)
            slopes.append((_r6(d / (j - i)), float(i), float(j)))
    from collections import Counter

    ties = Counter(vals)
    tie_term = sum(tn * (tn - 1) * (2 * tn + 5) for tn in ties.values())
    var_s = (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0

    assert out["n_buckets"] == n
    assert out["s_stat"] == s
    assert abs(out["var_s"] - _r6(var_s)) < 1e-9
    if n < 2 or var_s <= 0:
        assert out["z"] is None
    else:
        z = (
            (s - 1) / math.sqrt(var_s)
            if s > 0
            else ((s + 1) / math.sqrt(var_s) if s < 0 else 0.0)
        )
        assert abs(out["z"] - _r6(z)) < 1e-9
    if not slopes:
        assert out["sen_slope"] is None
    else:
        ordered = sorted(slopes)
        m = len(ordered)
        lo = ordered[(m + 1) // 2 - 1][0]
        hi = ordered[(m + 2) // 2 - 1][0]
        assert abs(out["sen_slope"] - _r6((lo + hi) / 2.0)) < 1e-9


@settings(max_examples=6, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 1), st.integers(0, 8)),
                min_size=1, max_size=40))
def test_roc_auc_matches_pairwise_count(spark, pts):
    """Midrank AUC == the pairwise definition
    (#(pos>neg) + 0.5·ties) / (n_pos·n_neg) on random tied data, and
    NULL when either class is empty."""
    from conte_to_fresco_etl_spark.operators.robust import roc_auc

    rows = [("g", int(y), float(s)) for y, s in pts]
    df = spark.createDataFrame(rows, "g string, y int, s double")
    out = roc_auc(df, "g", "y", "s").collect()[0]

    pos = [s for y, s in pts if y == 1]
    neg = [s for y, s in pts if y == 0]
    assert out["n_pos"] == len(pos) and out["n_neg"] == len(neg)
    if not pos or not neg:
        assert out["auc"] is None
        return
    wins = sum(
        1.0 if p > q_ else (0.5 if p == q_ else 0.0)
        for p in pos
        for q_ in neg
    )
    assert abs(out["auc"] - _r6(wins / (len(pos) * len(neg)))) < 1e-9


@settings(max_examples=10, deadline=None)
@given(
    st.text(alphabet="abcde -", min_size=0, max_size=14),
    st.text(alphabet="abcde -", min_size=0, max_size=14),
)
def test_jaro_winkler_matches_duckdb_builtin(s1, s2):
    """The Python JW kernel agrees with DuckDB's independently-written
    jaro_winkler_similarity to 6 decimals on arbitrary strings — the
    property that makes q_jaro_linkage's oracle a true cross-check."""
    import duckdb

    from conte_to_fresco_etl_spark.operators.linkage import jaro_winkler

    d = duckdb.execute(
        "select jaro_winkler_similarity(?, ?)", [s1, s2]
    ).fetchone()[0]
    assert round(jaro_winkler(s1, s2), 6) == round(d, 6)


def test_jaro_winkler_pairs_blocking_and_threshold(spark):
    """Pairs only form inside blocks; scores match known JW values;
    the threshold filters on the rounded score."""
    from conte_to_fresco_etl_spark.operators.linkage import (
        jaro_winkler,
        jaro_winkler_pairs,
    )

    rows = [
        ("b1", 1, "martha"),
        ("b1", 2, "marhta"),
        ("b1", 3, "zzzzzz"),
        ("b2", 4, "martha"),   # other block: never pairs with 1/2
    ]
    df = spark.createDataFrame(rows, "blk string, k long, s string")
    out = jaro_winkler_pairs(
        df, id_col="k", text_col="s", block_cols=["blk"], threshold=0.9
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["key_a"], r["key_b"]) == (1, 2)
    assert r["jw"] == round(jaro_winkler("martha", "marhta"), 6) == 0.961111


def test_snm_window_pairs_linear_and_normalized(spark):
    """SNM candidates: exactly n·(w−1) minus (w−1)·(w)/2 per-partition
    tail losses, ids least/greatest-normalized, no duplicate pairs,
    and neighbors follow the SORT-KEY order, not the id order."""
    from conte_to_fresco_etl_spark.operators.linkage import snm_window_pairs

    # sort key deliberately anti-correlated with id; two prefix
    # partitions ("a…" and "b…") so boundary behavior is exercised.
    rows = [
        (1, "a9"), (2, "a7"), (3, "a5"), (4, "a3"), (5, "a1"),
        (6, "b2"), (7, "b4"),
    ]
    df = spark.createDataFrame(rows, "id long, k string")
    out = snm_window_pairs(
        df, "id", F.col("k"), window=3, part_len=1
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    # partition a sorted by k: ids 5,4,3,2,1 -> lead1 {45,34,23,12},
    # lead2 {35,24,13}; partition b: 6,7 -> lead1 {67}. All normalized.
    assert pairs == {
        (4, 5), (3, 4), (2, 3), (1, 2), (3, 5), (2, 4), (1, 3), (6, 7),
    }
    assert len(out) == len(pairs)  # no duplicate candidates
    assert all(r["id_a"] < r["id_b"] for r in out)


def test_snm_multipass_recovers_boundary_pair(spark):
    """The SNM partition-boundary blind spot and its standard remedy:
    two records adjacent in sort order but split by the prefix
    partition ("abQQ" | "acQQ" with part_len=2) produce NO candidate
    in a single pass; ``passes=2`` re-sorts under the half-rotated key
    ("QQab" | "QQac" — same "QQ" prefix, adjacent) and recovers the
    pair, while never dropping anything pass 1 found."""
    from conte_to_fresco_etl_spark.operators.linkage import snm_window_pairs

    rows = [
        (1, "abQQ"),
        (2, "acQQ"),
        # filler sharing pass-1 prefixes so the blind-spot rows are
        # not alone for trivial reasons
        (3, "abAA"),
        (4, "acZZ"),
    ]
    df = spark.createDataFrame(rows, "id long, k string")
    single = {
        (r["id_a"], r["id_b"])
        for r in snm_window_pairs(
            df, "id", F.col("k"), window=2, part_len=2
        ).collect()
    }
    # pass 1 sorts {3,1} under "ab" and {2,4} under "ac": the true
    # neighbors 1-2 straddle the boundary and are MISSED
    assert single == {(1, 3), (2, 4)}
    multi_rows = snm_window_pairs(
        df, "id", F.col("k"), window=2, part_len=2, passes=2
    ).collect()
    multi = {(r["id_a"], r["id_b"]) for r in multi_rows}
    assert (1, 2) in multi          # boundary pair recovered
    assert single <= multi          # pass 1 candidates all kept
    assert len(multi_rows) == len(multi)  # union-dedup: no dup pairs


def test_fellegi_sunter_candidates_path_matches_block_path(spark):
    """Scoring externally-supplied candidates must produce the same
    scores as the equality-block path restricted to those pairs."""
    from conte_to_fresco_etl_spark.operators.linkage import (
        FieldComparison,
        fellegi_sunter_pairs,
    )

    rows = [
        (1, "x", "u"), (2, "x", "u"), (3, "x", "v"), (4, "y", "u"),
    ]
    df = spark.createDataFrame(rows, "id long, blk string, f string")
    fields = [FieldComparison("f", F.col("f"), 0.9)]
    blocked = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in fellegi_sunter_pairs(df, "id", ["blk"], fields).collect()
    }
    cand = spark.createDataFrame(
        [(1, 2), (1, 3)], "id_a long, id_b long"
    )
    scored = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in fellegi_sunter_pairs(
            df, "id", [], fields, candidates=cand
        ).collect()
    }
    assert set(scored) == {(1, 2), (1, 3)}
    assert scored[(1, 2)] == blocked[(1, 2)]
    assert scored[(1, 3)] == blocked[(1, 3)]


def test_kcore_cascading_peel(spark):
    """4-clique {1,2,3,4} with a pendant path 4-5-6: at k=2 the path
    peels in CASCADE (6 first, then 5), which a single-pass degree
    filter would miss; the clique survives with in-core degree 3."""
    from conte_to_fresco_etl_spark.operators.graph import kcore

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)],
        "a long, b long",
    )
    got = {r["node"]: r for r in kcore(edges, k=2).collect()}
    assert len(got) == 6
    for n in (1, 2, 3):
        assert got[n]["in_core"] and got[n]["core_deg"] == 3
    assert got[4]["in_core"] and got[4]["core_deg"] == 3  # pendant edge gone
    for n in (5, 6):
        assert not got[n]["in_core"] and got[n]["core_deg"] == 0


def test_kaplan_meier_textbook_example(spark):
    """The classic small-sample KM check: durations with interleaved
    censoring, hand-computed product-limit values."""
    from conte_to_fresco_etl_spark.operators.robust import kaplan_meier

    # (duration, observed): events at 1, 3, 5; censored at 2, 4.
    rows = [(1, True), (2, False), (3, True), (4, False), (5, True)]
    df = spark.createDataFrame(rows, "t INT, obs BOOLEAN")
    out = {r["duration"]: r for r in kaplan_meier(df, "t", "obs").collect()}
    assert sorted(out) == [1, 2, 3, 4, 5]
    # n_risk: reverse cumulative subject counts
    assert [out[t]["n_risk"] for t in [1, 2, 3, 4, 5]] == [5, 4, 3, 2, 1]
    # S(1) = 4/5; censor at 2 leaves S unchanged; S(3) = 4/5 * 2/3;
    # S(5): the last subject fails with d = n -> exact 0.
    assert out[1]["survival"] == round(4 / 5, 6)
    assert out[2]["survival"] == round(4 / 5, 6)
    assert out[3]["survival"] == round(4 / 5 * 2 / 3, 6)
    assert out[4]["survival"] == round(4 / 5 * 2 / 3, 6)
    assert out[5]["survival"] == 0.0
    assert out[5]["std_err"] == 0.0
    # Greenwood at t=3: S * sqrt(1/(5*4) + 1/(3*2))
    import math

    exp_se = (4 / 5 * 2 / 3) * math.sqrt(1 / 20 + 1 / 6)
    assert abs(out[3]["std_err"] - exp_se) < 1e-6


def test_kaplan_meier_all_censored_is_flat_one(spark):
    from conte_to_fresco_etl_spark.operators.robust import kaplan_meier

    df = spark.createDataFrame(
        [(3, False), (7, False), (7, False)], "t INT, obs BOOLEAN"
    )
    out = kaplan_meier(df, "t", "obs").collect()
    assert all(r["survival"] == 1.0 for r in out)
    assert all(r["n_events"] == 0 for r in out)
    assert sum(r["n_censored"] for r in out) == 3


def test_isotonic_calibration_pools_adjacent_violators(spark):
    """Bin rates (1, 0, 1) with equal weight pool to (0.5, 0.5, 1) —
    the textbook PAVA merge — and the output is non-decreasing."""
    from conte_to_fresco_etl_spark.operators.robust import (
        isotonic_calibration,
    )

    # n_bins=4 on scores {0.05, 0.3, 0.55}: bins 0, 1, 2 with one
    # positive, one negative, one positive respectively (two rows each)
    rows = [
        (0.05, 1), (0.06, 1),
        (0.30, 0), (0.31, 0),
        (0.55, 1), (0.56, 1),
    ]
    df = spark.createDataFrame(rows, "score DOUBLE, y INT")
    out = {
        r["bin"]: r
        for r in isotonic_calibration(df, "score", "y", n_bins=4).collect()
    }
    assert sorted(out) == [0, 1, 2]
    assert out[0]["raw_rate"] == 1.0
    assert out[1]["raw_rate"] == 0.0
    assert out[2]["raw_rate"] == 1.0
    assert out[0]["iso_rate"] == 0.5
    assert out[1]["iso_rate"] == 0.5
    assert out[2]["iso_rate"] == 1.0


def test_isotonic_calibration_monotone_input_unchanged(spark):
    from conte_to_fresco_etl_spark.operators.robust import (
        isotonic_calibration,
    )

    rows = [(0.1, 0), (0.1, 0), (0.5, 0), (0.5, 1), (0.9, 1), (0.9, 1)]
    df = spark.createDataFrame(rows, "score DOUBLE, y INT")
    out = {
        r["bin"]: r
        for r in isotonic_calibration(df, "score", "y", n_bins=2).collect()
    }
    # already monotone: iso == raw everywhere
    for r in out.values():
        assert r["iso_rate"] == r["raw_rate"]


def test_ips_offpolicy_hand_computed(spark):
    """Two actions logged 3:1 in one slice; uniform target (K=2).
    Weights: w(a)= (1/2)/(3/4) = 2/3, w(b) = (1/2)/(1/4) = 2."""
    from conte_to_fresco_etl_spark.operators.robust import ips_offpolicy

    rows = [
        ("s", "a", 1.0), ("s", "a", 1.0), ("s", "a", 1.0),
        ("s", "b", 5.0),
    ]
    df = spark.createDataFrame(rows, "sl STRING, act STRING, r DOUBLE")
    out = ips_offpolicy(df, "sl", "act", "r").collect()
    assert len(out) == 1
    r = out[0]
    assert r["n"] == 4
    # IPS = (3*(2/3)*1 + 2*5)/4 = 12/4 = 3; Σw = 3*(2/3)+2 = 4 → SNIPS 3
    assert abs(r["ips_value"] - 3.0) < 1e-6
    assert abs(r["snips_value"] - 3.0) < 1e-6
    # ESS = (Σw)²/Σw² = 16 / (3*(4/9) + 4) = 16/(16/3) = 3
    assert abs(r["ess"] - 3.0) < 1e-6


def test_ips_offpolicy_uniform_logger_is_identity(spark):
    """When the logger already plays uniform, every w = 1: IPS = SNIPS
    = plain mean, ESS = n."""
    from conte_to_fresco_etl_spark.operators.robust import ips_offpolicy

    rows = [("s", "a", 2.0), ("s", "b", 4.0), ("s", "a", 2.0),
            ("s", "b", 4.0)]
    df = spark.createDataFrame(rows, "sl STRING, act STRING, r DOUBLE")
    r = ips_offpolicy(df, "sl", "act", "r").collect()[0]
    assert abs(r["ips_value"] - 3.0) < 1e-6
    assert abs(r["snips_value"] - 3.0) < 1e-6
    assert abs(r["ess"] - 4.0) < 1e-6


def test_conformal_intervals_order_statistic_and_coverage(spark):
    """10 calibration residuals 1..10, alpha=0.1: k = ceil(11*0.9) = 10
    -> q = 10th smallest = 10; alpha=0.5: k = ceil(11*0.5) = 6 -> q=6.
    Coverage counts test residuals <= q."""
    from conte_to_fresco_etl_spark.operators.robust import (
        conformal_intervals,
    )

    rows = [("g", "cal", 0.0, float(i)) for i in range(1, 11)]
    rows += [("g", "test", 0.0, 4.0), ("g", "test", 0.0, 7.0),
             ("g", "test", 0.0, 20.0)]
    df = spark.createDataFrame(
        rows, "g STRING, split STRING, pred DOUBLE, value DOUBLE"
    )
    r10 = conformal_intervals(df, "g", "pred", "value", alpha=0.1).collect()[0]
    assert r10["n_cal"] == 10 and r10["n_test"] == 3
    assert r10["q_alpha"] == 10.0
    assert abs(r10["coverage"] - 2 / 3) < 1e-6
    r50 = conformal_intervals(df, "g", "pred", "value", alpha=0.5).collect()[0]
    assert r50["q_alpha"] == 6.0
    assert abs(r50["coverage"] - 1 / 3) < 1e-6


def test_conformal_intervals_small_cal_split_is_null(spark):
    """k = ceil((n+1)(1-alpha)) > n_cal -> no achievable quantile:
    explicit NULLs, not a silent wrong band."""
    from conte_to_fresco_etl_spark.operators.robust import (
        conformal_intervals,
    )

    rows = [("g", "cal", 0.0, 1.0), ("g", "cal", 0.0, 2.0),
            ("g", "test", 0.0, 1.5)]
    df = spark.createDataFrame(
        rows, "g STRING, split STRING, pred DOUBLE, value DOUBLE"
    )
    r = conformal_intervals(df, "g", "pred", "value", alpha=0.1).collect()[0]
    assert r["n_cal"] == 2
    assert r["q_alpha"] is None and r["coverage"] is None


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.booleans()),
        min_size=1,
        max_size=25,
    )
)
def test_kaplan_meier_matches_bruteforce(spark, subjects):
    """KM against a direct O(n²) product-limit computation over random
    censored samples, including tie pileups and extinction."""
    from conte_to_fresco_etl_spark.operators.robust import kaplan_meier

    df = spark.createDataFrame(subjects, "t INT, obs BOOLEAN")
    got = {r["duration"]: r for r in kaplan_meier(df, "t", "obs").collect()}

    times = sorted({t for t, _ in subjects})
    assert sorted(got) == times
    s = 1.0
    extinct = False
    for t in times:
        d = sum(1 for tt, oo in subjects if tt == t and oo)
        c = sum(1 for tt, oo in subjects if tt == t and not oo)
        n_risk = sum(1 for tt, _ in subjects if tt >= t)
        r = got[t]
        assert (r["n_events"], r["n_censored"], r["n_risk"]) == (d, c, n_risk)
        if d >= n_risk:
            extinct = True
        if not extinct:
            s *= 1.0 - d / n_risk
            assert abs(r["survival"] - s) < 1e-5
        else:
            assert r["survival"] == 0.0


def test_randomized_response_debiasing_identity(spark):
    """With p=1 (never lie) the estimate equals the truth exactly; at
    p=0.75 the debias formula inverts the observed rate exactly for
    whatever flips the seeded hash produced."""
    from conte_to_fresco_etl_spark.operators.pii import randomized_response

    rows = [("s", i, i % 3 == 0) for i in range(60)]
    df = spark.createDataFrame(rows, "g STRING, id INT, flag BOOLEAN")
    exact = randomized_response(
        df, "g", "flag", "id", p_true=1.0, seed="t"
    ).collect()[0]
    assert exact["reported_rate"] == exact["true_rate"]
    assert exact["estimated_rate"] == exact["true_rate"]

    noisy = randomized_response(
        df, "g", "flag", "id", p_true=0.75, seed="t"
    ).collect()[0]
    # debias identity: est = (obs - 0.25) / 0.5, on the rounded values
    assert (
        abs(noisy["estimated_rate"]
            - (noisy["reported_rate"] - 0.25) / 0.5) < 5e-6
    )
    # determinism: same seed, same release
    again = randomized_response(
        df, "g", "flag", "id", p_true=0.75, seed="t"
    ).collect()[0]
    assert again["reported_rate"] == noisy["reported_rate"]


def _pava_fitted(bins):
    """Sequential weighted pool-adjacent-violators over [(n, pos)] in
    bin order — the textbook algorithm the minimax identity must equal."""
    blocks = []
    for n, pos in bins:
        blocks.append([n, pos, 1])
        while len(blocks) > 1 and (
            blocks[-2][1] / blocks[-2][0] > blocks[-1][1] / blocks[-1][0]
        ):
            b = blocks.pop()
            blocks[-1][0] += b[0]
            blocks[-1][1] += b[1]
            blocks[-1][2] += b[2]
    fitted = []
    for w, s, k in blocks:
        fitted.extend([s / w] * k)
    return fitted


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(1, 6), st.integers(0, 6)).map(
            lambda t: (t[0], min(t[0], t[1]))
        ),
        min_size=1,
        max_size=8,
    )
)
def test_isotonic_matches_sequential_pava(spark, bins):
    """The minimax-lattice isotonic fit equals the sequential PAVA
    sweep on random weighted bin tables."""
    from conte_to_fresco_etl_spark.operators.robust import (
        isotonic_calibration,
    )

    rows = []
    for i, (n, pos) in enumerate(bins):
        for j in range(n):
            rows.append((i / 8.0 + 0.01, 1 if j < pos else 0))
    df = spark.createDataFrame(rows, "score DOUBLE, y INT")
    got = {
        r["bin"]: r["iso_rate"]
        for r in isotonic_calibration(df, "score", "y", n_bins=8).collect()
    }
    want = _pava_fitted(bins)
    assert sorted(got) == list(range(len(bins)))
    for i, w in enumerate(want):
        assert abs(got[i] - round(w, 6)) <= 1e-6


def test_modularity_two_triangles_with_bridge(spark):
    """Two triangles joined by one bridge edge, communities = the
    triangles: m = 7, each community has e_c = 3 and d_c = 7, so each
    contributes 3/7 - (7/14)^2 = 3/7 - 1/4; Q ~ 0.357 (strong)."""
    from conte_to_fresco_etl_spark.operators.graph import modularity

    pairs = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    p = spark.createDataFrame(pairs, "id_a INT, id_b INT")
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4)],
        "node INT, label INT",
    )
    out = {r["label"]: r for r in modularity(p, labels).collect()}
    for lbl in (1, 4):
        r = out[lbl]
        assert r["n_nodes"] == 3
        assert r["internal_edges"] == 3
        assert r["degree_sum"] == 7
        assert abs(r["contribution"] - (3 / 7 - 0.25)) < 1e-6
    q = sum(r["contribution"] for r in out.values())
    # the one-community partition scores 0 by construction: e=m, d=2m
    one = spark.createDataFrame(
        [(n, 9) for n in range(1, 7)], "node INT, label INT"
    )
    r1 = modularity(p, one).collect()[0]
    assert r1["contribution"] == 0.0
    assert q > r1["contribution"]


def test_eb_shrinkage_pulls_small_samples_toward_prior(spark):
    """A 1/1 key must not outrank a 95/100 key after shrinkage, order
    between them must flip, and shrunk rates stay between the raw rate
    and the corpus mean."""
    from conte_to_fresco_etl_spark.operators.robust import eb_shrinkage

    rows = []
    # 20 keys with 50 trials each at ~30% success (stable prior mass)
    for key in range(20):
        for t in range(50):
            rows.append((key, 1 if (t * 7 + key) % 10 < 3 else 0))
    rows += [(100, 1)]                      # 1/1 wonder
    rows += [(101, 1)] * 95 + [(101, 0)] * 5  # 95/100 veteran
    df = spark.createDataFrame(rows, "k INT, s INT")
    out = {r["k"]: r for r in eb_shrinkage(df, "k", "s").collect()}
    assert out[100]["raw_rate"] == 1.0 > out[101]["raw_rate"]
    assert out[100]["shrunk_rate"] < out[101]["shrunk_rate"]
    assert out[100]["alpha"] is not None and out[100]["beta"] is not None
    # shrinkage moves toward the prior mean, never past the raw rate
    prior_mean = out[100]["alpha"] / (out[100]["alpha"] + out[100]["beta"])
    assert prior_mean <= out[100]["shrunk_rate"] <= out[100]["raw_rate"]


def test_eb_shrinkage_degenerate_prior_falls_back_to_raw(spark):
    """All keys share one exact rate -> zero variance -> NULL prior,
    shrunk = raw."""
    from conte_to_fresco_etl_spark.operators.robust import eb_shrinkage

    rows = [(k, s) for k in range(5) for s in (1, 0)]
    df = spark.createDataFrame(rows, "k INT, s INT")
    for r in eb_shrinkage(df, "k", "s").collect():
        assert r["alpha"] is None and r["beta"] is None
        assert r["shrunk_rate"] == r["raw_rate"] == 0.5


def test_markov_absorption_hand_chain(spark):
    """Chain a -> b (0.5) / a -> lose (0.5); b -> win (0.8) / b -> lose
    (0.2): p_win(b) = 0.8, p_win(a) = 0.5 * 0.8 = 0.4; win/lose pinned
    to 1/0."""
    from conte_to_fresco_etl_spark.operators.graph import markov_absorption

    rows = [
        ("a", "b", 0.5), ("a", "lose", 0.5),
        ("b", "win", 0.8), ("b", "lose", 0.2),
    ]
    t = spark.createDataFrame(rows, "src STRING, dst STRING, prob DOUBLE")
    out = {
        r["state"]: r["p_win"]
        for r in markov_absorption(t, "win", "lose", iterations=6).collect()
    }
    assert out["win"] == 1.0 and out["lose"] == 0.0
    assert abs(out["b"] - 0.8) < 1e-9
    assert abs(out["a"] - 0.4) < 1e-9


def test_markov_absorption_cycle_converges(spark):
    """A self-loop (a -> a 0.5, a -> win 0.5) needs the geometric sum:
    after K rounds p_win(a) = 1 - 0.5^K -> close to 1."""
    from conte_to_fresco_etl_spark.operators.graph import markov_absorption

    rows = [("a", "a", 0.5), ("a", "win", 0.5)]
    t = spark.createDataFrame(rows, "src STRING, dst STRING, prob DOUBLE")
    out = {
        r["state"]: r["p_win"]
        for r in markov_absorption(
            t, "win", "lose", iterations=12
        ).collect()
    }
    assert abs(out["a"] - (1.0 - 0.5**12)) < 1e-6


def test_msprt_hand_computed_and_monotone_reject(spark):
    """mSPRT on a planted series: log-lambda matches the closed form
    computed by hand, a strong persistent effect eventually rejects,
    and the reject decision is MONOTONE (once true, stays true) even
    when later days pull the running sum back toward zero."""
    import math

    import pytest

    from conte_to_fresco_etl_spark.operators.robust import msprt

    # variant A constant +delta above variant B for 8 days, then two
    # days of reversal that shrink the cumulative sum
    diffs = [2.0, 2.0, 2.0, 2.0, 2.1, 1.9, 2.0, 2.0, -2.0, -2.0]
    rows = []
    for i, d in enumerate(diffs):
        ts = f"2024-03-{i + 1:02d} 12:00:00"
        rows.append((ts, 0, 10.0 + d))
        rows.append((ts, 1, 10.0))
    df = spark.createDataFrame(
        rows, "ts string, variant int, value double"
    ).select(
        F.to_timestamp("ts").alias("ts"), "variant", "value"
    )
    tau2 = 1.0
    out = {
        r["n_days"]: r
        for r in msprt(df, "variant", "value", "ts", 0, 1, tau2=tau2)
        .collect()
    }
    assert len(out) == 10

    # hand computation from the same quantized daily diffs — sigma^2
    # at day t is the RUNNING variance of the first t diffs (each
    # replayed decision sees only past data)
    dq = [round(d, 6) for d in diffs]
    sn = 0.0
    expect_reject = False
    for t, d in enumerate(dq, start=1):
        sn += d
        head = dq[:t]
        if t >= 2:
            m = sum(head) / t
            var2 = (sum(x * x for x in head) - t * m * m) / (t - 1)
        else:
            var2 = 0.0
        if t >= 2 and var2 > 0:
            ll = 0.5 * math.log(var2 / (var2 + t * tau2)) + (
                tau2 * sn * sn / (2 * var2 * (var2 + t * tau2))
            )
            assert out[t]["log_lambda"] == pytest.approx(
                round(ll, 6), abs=2e-6
            ), t
            if round(ll, 6) >= math.log(20.0):
                expect_reject = True
        else:
            # t=1 and the constant-diff prefix (zero running variance)
            # emit no likelihood ratio
            assert out[t]["log_lambda"] is None, t
        assert bool(out[t]["reject_h0"]) is expect_reject, t
    # the planted effect did reject, and the reversal days did not
    # un-reject (always-valid decisions are one-way doors)
    assert expect_reject
    assert out[10]["cum_diff"] < out[8]["cum_diff"]
    assert out[10]["reject_h0"]


msprt_series = st.lists(
    st.tuples(
        st.integers(-60, 60).map(lambda q: q / 4.0),   # variant-A values
        st.integers(-60, 60).map(lambda q: q / 4.0),   # variant-B values
        st.integers(1, 3),                             # A obs per day
        st.integers(1, 3),                             # B obs per day
    ),
    min_size=2,
    max_size=12,
)


@settings(max_examples=8, deadline=None)
@given(msprt_series)
def test_msprt_matches_python_twin(spark, series):
    """The distributed mSPRT equals a pure-Python twin computed from
    the same quantization discipline (values DECIMAL(18,4), daily
    diffs ROUND(6), quantize-then-square variance) on random
    multi-observation days."""
    import math

    from conte_to_fresco_etl_spark.operators.robust import msprt

    rows, diffs = [], []
    for i, (va, vb, na, nb) in enumerate(series):
        ts = f"2024-05-{i + 1:02d} 01:00:00"
        for j in range(na):
            rows.append((ts, 0, va + j))      # distinct values, exact sums
        for j in range(nb):
            rows.append((ts, 1, vb + j))
        ma = sum(va + j for j in range(na)) / na
        mb = sum(vb + j for j in range(nb)) / nb
        diffs.append(round(ma - mb, 6))
    df = spark.createDataFrame(
        rows, "ts string, variant int, value double"
    ).select(F.to_timestamp("ts").alias("ts"), "variant", "value")
    got = {
        r["n_days"]: r
        for r in msprt(df, "variant", "value", "ts", 0, 1, tau2=1.0)
        .collect()
    }
    sn = 0.0
    for t, d in enumerate(diffs, start=1):
        sn += d
        assert got[t]["cum_diff"] == round(sn, 6)
        head = diffs[:t]
        if t >= 2:
            m = sum(head) / t
            var2 = (sum(x * x for x in head) - t * m * m) / (t - 1)
        else:
            var2 = 0.0
        if t >= 2 and var2 > 0:
            ll = 0.5 * math.log(var2 / (var2 + t)) + sn * sn / (
                2 * var2 * (var2 + t)
            )
            assert abs(got[t]["log_lambda"] - round(ll, 6)) <= 2e-6, t
        else:
            assert got[t]["log_lambda"] is None


def test_logreg_gd_matches_python_twin_and_learns(spark):
    """The distributed GD trajectory equals a pure-Python twin (same
    z-scoring, ROUND(9) gradient quantization, identical update
    expression) on a fixed dataset, and a separable problem is
    actually learned: high accuracy, dominant true feature, nuisance
    weight near zero."""
    import math

    import pytest

    from conte_to_fresco_etl_spark.operators.robust import (
        logistic_regression_gd,
    )

    # y = 1 iff x1 > 0; x2 is pure noise (deterministic pseudo-noise)
    data = [
        (i, (i % 7) - 3.0, ((i * 37) % 11) / 11.0 - 0.5)
        for i in range(40)
    ]
    df = spark.createDataFrame(data, "i long, x1 double, x2 double")
    out = {
        r["term"]: r["value"]
        for r in logistic_regression_gd(
            df,
            {"x1": F.col("x1"), "x2": F.col("x2")},
            F.col("x1") > 0,
            lr=1.0,
            steps=6,
        ).collect()
    }

    # pure twin with the operator's quantization discipline
    rows = [
        (1 if x1 > 0 else 0, round(x1, 6), round(x2, 6))
        for _, x1, x2 in data
    ]
    n = float(len(rows))
    feats = []
    for j in (1, 2):
        s1 = sum(r[j] for r in rows)       # exact: values are 6-dec
        s2 = sum(r[j] * r[j] for r in rows)
        mu = s1 / n
        var = (s2 - n * mu * mu) / n
        sd = max(math.sqrt(max(var, 0.0)), 1e-9)
        feats.append([(r[j] - mu) / sd for r in rows])
    xs = [
        (y, round(f1, 6), round(f2, 6))
        for (y, _, _), f1, f2 in zip(rows, feats[0], feats[1])
    ]
    b, w1, w2 = 0.0, 0.0, 0.0
    for _ in range(6):
        gb = g1 = g2 = 0.0
        for y, f1, f2 in xs:
            p = 1.0 / (1.0 + math.exp(-(b + w1 * f1 + w2 * f2)))
            r_ = p - y
            gb += round(r_, 9)
            g1 += round(r_ * f1, 9)
            g2 += round(r_ * f2, 9)
        b -= 1.0 * (gb / n)
        w1 -= 1.0 * (g1 / n)
        w2 -= 1.0 * (g2 / n)
    assert out["intercept"] == pytest.approx(round(b, 6), abs=2e-6)
    assert out["x1"] == pytest.approx(round(w1, 6), abs=2e-6)
    assert out["x2"] == pytest.approx(round(w2, 6), abs=2e-6)
    # it learned: separable by x1, nuisance x2 stays small
    assert out["accuracy"] >= 0.95
    assert out["x1"] > 1.0
    assert abs(out["x2"]) < 0.3
    assert out["log_loss"] < 0.45


def test_cohens_kappa_textbook(spark):
    """Classic 2x2: 20+15 agreements, 5+10 disagreements out of 50:
    po=0.7, pe=0.5, kappa=0.4."""
    from conte_to_fresco_etl_spark.operators.robust import cohens_kappa

    rows = (
        [("x", "x")] * 20 + [("y", "y")] * 15
        + [("x", "y")] * 5 + [("y", "x")] * 10
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = cohens_kappa(df, F.col("a"), F.col("b")).collect()[0]
    assert (r["n"], r["po"], r["pe"], r["kappa"]) == (50, 0.7, 0.5, 0.4)


def test_cohens_kappa_constant_raters_null(spark):
    """Both raters constant => pe = 1: kappa must be NULL, not a
    division crash."""
    from conte_to_fresco_etl_spark.operators.robust import cohens_kappa

    df = spark.createDataFrame([("x", "x")] * 5, "a string, b string")
    r = cohens_kappa(df, F.col("a"), F.col("b")).collect()[0]
    assert r["po"] == 1.0 and r["pe"] == 1.0 and r["kappa"] is None


def test_fleiss_kappa_hand_computed(spark):
    """Two items, two raters each: unanimous item (P=1) + split item
    (P=0) with pooled shares 3/4, 1/4: p_bar=0.5, pe=0.625,
    kappa=-1/3."""
    import pytest

    from conte_to_fresco_etl_spark.operators.robust import fleiss_kappa

    rows = [(1, "A"), (1, "A"), (2, "A"), (2, "B")]
    df = spark.createDataFrame(rows, "item long, cat string")
    r = fleiss_kappa(df, "item", "cat").collect()[0]
    assert (r["n_items"], r["n_ratings"]) == (2, 4)
    assert r["p_bar"] == 0.5 and r["p_e"] == 0.625
    assert r["kappa"] == pytest.approx(round(-1 / 3, 6), abs=1e-9)


def test_mcnemar_hand_computed_and_degenerate(spark):
    """Discordant counts 6 vs 2: chi2 = (|6-2|-1)^2/8 = 1.125; a
    fully-concordant input yields NULL chi2."""
    from conte_to_fresco_etl_spark.operators.robust import mcnemar_test

    rows = []
    sid = 0
    for a, b, n in [(1, 1, 4), (0, 0, 3), (1, 0, 6), (0, 1, 2)]:
        for _ in range(n):
            rows.append((sid, bool(a), bool(b)))
            sid += 1
    df = spark.createDataFrame(rows, "s long, ca boolean, cb boolean")
    r = mcnemar_test(df, "s", F.col("ca"), F.col("cb")).collect()[0]
    assert (r["n_subjects"], r["n01"], r["n10"]) == (15, 2, 6)
    assert r["chi2"] == 1.125

    conc = spark.createDataFrame(
        [(1, True, True), (2, False, False)],
        "s long, ca boolean, cb boolean",
    )
    assert (
        mcnemar_test(conc, "s", F.col("ca"), F.col("cb"))
        .collect()[0]["chi2"]
        is None
    )


def test_cochran_q_matches_formula_twin(spark):
    """Cochran's Q on a small positives table equals the formula
    computed directly in Python (and subjects positive on all or no
    treatments cancel in the denominator)."""
    import pytest

    from conte_to_fresco_etl_spark.operators.robust import cochran_q

    k = 3
    positives = {
        1: ["t1", "t2", "t3"],   # all-positive: denominator-neutral
        2: ["t1"],
        3: ["t1", "t2"],
        4: ["t2"],
        5: ["t1"],
    }
    rows = [(s, t) for s, ts in positives.items() for t in ts]
    df = spark.createDataFrame(rows, "s long, t string")
    r = cochran_q(df, "s", "t", k=k).collect()[0]
    g = {"t1": 4, "t2": 3, "t3": 1}
    ls = [len(v) for v in positives.values()]
    num = (k - 1) * (k * sum(x * x for x in g.values()) - sum(g.values()) ** 2)
    den = k * sum(ls) - sum(x * x for x in ls)
    assert r["n_subjects"] == 5 and r["k"] == 3
    assert r["q_stat"] == pytest.approx(round(num / den, 6), abs=1e-9)


def test_cronbach_alpha_matches_numpy_twin(spark):
    """alpha on a dense 4-subject x 3-item design equals the numpy
    population-variance formula; a missing cell scores 0 exactly as
    the dense matrix would."""
    import numpy as np
    import pytest

    from conte_to_fresco_etl_spark.operators.robust import cronbach_alpha

    mat = np.array(
        [[3.0, 4.0, 2.0], [5.0, 6.0, 5.0], [1.0, 2.0, 0.0], [4.0, 4.0, 4.0]]
    )
    rows = [
        (s, f"i{i}", float(mat[s, i]))
        for s in range(4)
        for i in range(3)
        if not (s == 2 and i == 2)  # the 0.0 cell stays ABSENT
    ]
    df = spark.createDataFrame(rows, "s long, item string, v double")
    r = cronbach_alpha(df, "s", "item", F.col("v")).collect()[0]
    k = 3
    item_vars = mat.var(axis=0)          # population (ddof=0)
    total_var = mat.sum(axis=1).var()
    alpha = k / (k - 1) * (1 - item_vars.sum() / total_var)
    assert (r["n_subjects"], r["k"]) == (4, 3)
    assert r["alpha"] == pytest.approx(round(alpha, 6), abs=2e-6)


def test_spearman_rho_matches_pandas_midranks(spark):
    """rho with ties equals Pearson over pandas' average-method ranks
    (the exact midrank definition); a constant axis yields NULL."""
    import numpy as np
    import pandas as pd
    import pytest

    from conte_to_fresco_etl_spark.operators.robust import spearman_rho

    xs = [1.0, 2.0, 2.0, 3.0, 5.0, 5.0, 5.0, 8.0]
    ys = [3.0, 1.0, 4.0, 4.0, 2.0, 7.0, 7.0, 9.0]
    df = spark.createDataFrame(list(zip(xs, ys)), "x double, y double")
    r = spearman_rho(df, F.col("x"), F.col("y")).collect()[0]
    rx = pd.Series(xs).rank(method="average")
    ry = pd.Series(ys).rank(method="average")
    expect = np.corrcoef(rx, ry)[0, 1]
    assert r["n"] == 8
    assert r["rho"] == pytest.approx(round(expect, 6), abs=2e-6)

    const = spark.createDataFrame(
        [(1.0, float(v)) for v in ys], "x double, y double"
    )
    assert (
        spearman_rho(const, F.col("x"), F.col("y")).collect()[0]["rho"]
        is None
    )


def test_kendall_tau_b_matches_bruteforce_twin(spark):
    """tau-b on a tied dataset equals the O(n^2) raw-pair definition
    computed directly in Python."""
    import itertools

    import pytest

    from conte_to_fresco_etl_spark.operators.robust import kendall_tau_b

    xs = [0, 0, 1, 1, 1, 2, 2, 3, 3, 0]
    ys = [1, 2, 1, 3, 3, 2, 4, 4, 1, 1]
    df = spark.createDataFrame(list(zip(xs, ys)), "x long, y long")
    r = kendall_tau_b(df, F.col("x"), F.col("y")).collect()[0]
    c = d = 0
    n = len(xs)
    for i, j in itertools.combinations(range(n), 2):
        s = (xs[i] - xs[j]) * (ys[i] - ys[j])
        c += s > 0
        d += s < 0
    n0 = n * (n - 1) / 2
    tx = sum(
        t * (t - 1) / 2
        for t in [xs.count(v) for v in set(xs)]
    )
    ty = sum(
        t * (t - 1) / 2
        for t in [ys.count(v) for v in set(ys)]
    )
    expect = (c - d) / ((n0 - tx) * (n0 - ty)) ** 0.5
    assert (r["concordant"], r["discordant"]) == (c, d)
    assert r["tau_b"] == pytest.approx(round(expect, 6), abs=2e-6)


def test_partial_correlation_matches_numpy_twin(spark):
    """r_xy.z equals the numpy recipe (pairwise Pearson then the
    first-order formula), and regressing out a shared driver kills a
    spurious correlation: x and y both driven by z correlate raw but
    NOT partially."""
    import numpy as np
    import pytest

    from conte_to_fresco_etl_spark.operators.robust import (
        partial_correlation,
    )

    rng = np.random.default_rng(42)
    z = rng.normal(0, 1, 200)
    x = 2 * z + rng.normal(0, 0.3, 200)
    y = -3 * z + rng.normal(0, 0.3, 200)
    xq = np.round(x, 6); yq = np.round(y, 6); zq = np.round(z, 6)
    df = spark.createDataFrame(
        [(float(a), float(b), float(cc)) for a, b, cc in zip(x, y, z)],
        "x double, y double, z double",
    )
    r = partial_correlation(
        df, F.col("x"), F.col("y"), F.col("z")
    ).collect()[0]
    r_xy = np.corrcoef(xq, yq)[0, 1]
    r_xz = np.corrcoef(xq, zq)[0, 1]
    r_yz = np.corrcoef(yq, zq)[0, 1]
    expect = (r_xy - r_xz * r_yz) / (
        (1 - r_xz**2) * (1 - r_yz**2)
    ) ** 0.5
    assert r["partial_r"] == pytest.approx(round(expect, 6), abs=5e-6)
    assert abs(r["r_xy"]) > 0.9          # spurious raw correlation
    assert abs(r["partial_r"]) < 0.2     # gone once z is controlled


def test_theil_sen_matches_python_twin_and_resists_outlier(spark):
    """slope/intercept equal the all-pairs-median twin, and one wild
    outlier day barely moves the Theil-Sen slope while it would wreck
    least squares."""
    import statistics

    import pytest

    from conte_to_fresco_etl_spark.operators.robust import theil_sen

    days = list(range(10))
    vals = [10.0 + 2.0 * d for d in days]
    vals[7] = 500.0  # outlier day
    rows = []
    for d, v in zip(days, vals):
        rows.append((f"2024-06-{d + 1:02d} 10:00:00", v))
    df = spark.createDataFrame(rows, "ts string, value double").select(
        F.to_timestamp("ts").alias("ts"), "value"
    )
    out = theil_sen(df, "ts", "value").collect()[0]
    # consecutive calendar days: epoch-day deltas equal index deltas
    slopes = sorted(
        round((vals[j] - vals[i]) / (days[j] - days[i]), 9)
        for i in range(10)
        for j in range(i + 1, 10)
    )
    med = statistics.median(slopes)
    assert out["n_days"] == 10 and out["n_pairs"] == 45
    assert out["slope"] == pytest.approx(round(med, 6), abs=2e-6)
    assert abs(out["slope"] - 2.0) < 0.5  # robust to the outlier


def test_grubbs_flags_the_planted_day(spark):
    """The planted wild day is the argmax with side 'high', and the
    statistic matches the hand formula."""
    import statistics

    import pytest

    from conte_to_fresco_etl_spark.operators.robust import (
        grubbs_statistic,
    )

    vals = [10.0, 11.0, 9.0, 10.5, 50.0, 10.2, 9.8]
    rows = [
        (f"2024-07-{i + 1:02d} 01:00:00", v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "ts string, value double").select(
        F.to_timestamp("ts").alias("ts"), "value"
    )
    r = grubbs_statistic(df, "ts", "value").collect()[0]
    mu = sum(vals) / len(vals)
    sd = statistics.stdev(vals)
    g = round(abs(50.0 - mu), 9) / sd
    assert str(r["at_day"]).startswith("2024-07-05")
    assert r["side"] == "high"
    assert r["g_stat"] == pytest.approx(round(g, 6), abs=2e-6)


def test_brier_decomposition_identity_and_twin(spark):
    """brier ≈ reliability - resolution + uncertainty (the Murphy
    identity holds up to within-band variance quantization — exact
    when forecasts are band-constant, as here), and each component
    matches a numpy twin."""
    import numpy as np
    import pytest

    from conte_to_fresco_etl_spark.operators.robust import (
        brier_decomposition,
    )

    rng = np.random.default_rng(3)
    # band-constant forecasts => the identity is EXACT
    p = rng.choice([0.05, 0.25, 0.45, 0.85], size=300)
    y = (rng.random(300) < p).astype(int)
    df = spark.createDataFrame(
        [(float(a), bool(b)) for a, b in zip(p, y)],
        "p double, y boolean",
    )
    r = brier_decomposition(df, F.col("p"), F.col("y"), n_bins=10)
    row = r.collect()[0]
    brier = np.mean((p - y) ** 2)
    ybar = y.mean()
    rel = res = 0.0
    for band in np.unique(np.minimum((p * 10).astype(int), 9)):
        m = np.minimum((p * 10).astype(int), 9) == band
        rel += m.sum() * round(p[m].mean() - y[m].mean(), 9) ** 2
        res += m.sum() * round(y[m].mean() - ybar, 9) ** 2
    assert row["brier"] == pytest.approx(round(brier, 6), abs=2e-6)
    assert row["reliability"] == pytest.approx(
        round(rel / 300, 6), abs=2e-6
    )
    assert row["resolution"] == pytest.approx(
        round(res / 300, 6), abs=2e-6
    )
    assert row["uncertainty"] == pytest.approx(
        round(ybar * (1 - ybar), 6), abs=2e-6
    )
    assert row["brier"] == pytest.approx(
        row["reliability"] - row["resolution"] + row["uncertainty"],
        abs=5e-6,
    )


def test_cumulative_gains_perfect_ranker(spark):
    """A score that perfectly separates the classes captures 100% of
    positives in the top band: lift there = 1/frac_pop, and the final
    row is (1.0, 1.0, 1.0)."""
    from conte_to_fresco_etl_spark.operators.robust import (
        cumulative_gains,
    )

    rows = [(0.95, True)] * 10 + [(0.05, False)] * 90
    df = spark.createDataFrame(rows, "s double, y boolean")
    out = cumulative_gains(df, F.col("s"), F.col("y"), n_bins=10)
    got = {r["band"]: r for r in out.collect()}
    assert got[9]["cum_frac_pos"] == 1.0
    assert got[9]["cum_frac_pop"] == 0.1
    assert got[9]["lift"] == 10.0
    assert got[0]["cum_frac_pop"] == 1.0 and got[0]["lift"] == 1.0


def test_covariate_balance_detects_planted_imbalance(spark):
    """A covariate shifted by +1 sd in the treatment arm reports
    |smd| ≈ 1; a balanced covariate reports |smd| ≈ 0."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.robust import (
        covariate_balance,
    )

    rng = np.random.default_rng(11)
    t = np.arange(400) % 2 == 0
    bal = rng.normal(5, 1, 400)
    imb = rng.normal(0, 1, 400) + t * 1.0
    df = spark.createDataFrame(
        [
            (bool(a), float(b), float(c))
            for a, b, c in zip(t, bal, imb)
        ],
        "t boolean, bal double, imb double",
    )
    out = {
        r["covariate"]: r
        for r in covariate_balance(
            df, F.col("t"), {"bal": F.col("bal"), "imb": F.col("imb")}
        ).collect()
    }
    assert abs(out["bal"]["smd"]) < 0.25
    assert 0.7 < out["imb"]["smd"] < 1.3
    assert out["bal"]["n_t"] == 200 and out["bal"]["n_c"] == 200


def test_stratified_ate_recovers_constant_effect(spark):
    """With a constant +2 treatment effect and stratum-varying
    baselines, every stratum diff and the pooled ATE equal 2; strata
    missing an arm are excluded."""
    from conte_to_fresco_etl_spark.operators.robust import stratified_ate

    rows = []
    for s in range(3):
        base = 10.0 * s
        for i in range(10):
            rows.append((s, True, base + 2.0))
            rows.append((s, False, base))
    rows.append((9, True, 99.0))  # one-arm stratum: must drop
    df = spark.createDataFrame(rows, "s long, t boolean, v double")
    out = {
        r["stratum"]: r
        for r in stratified_ate(
            df, F.col("t"), F.col("v"), F.col("s")
        ).collect()
    }
    assert set(out) == {0, 1, 2, -1}
    for s in (0, 1, 2):
        assert out[s]["diff"] == 2.0
    assert out[-1]["diff"] == 2.0 and out[-1]["n"] == 60


def test_icc_high_vs_zero_clustering(spark):
    """Groups with far-apart means and tiny within-noise give
    icc ≈ 1; a design where group means coincide gives icc ≈ 0 (the
    estimator can dip slightly negative by construction)."""
    from conte_to_fresco_etl_spark.operators.robust import icc_oneway

    tight = [
        (g, 100.0 * g + d)
        for g in range(5)
        for d in (-0.1, 0.0, 0.1, 0.05)
    ]
    df = spark.createDataFrame(tight, "g long, v double")
    r = icc_oneway(df, "g", F.col("v")).collect()[0]
    assert r["m_groups"] == 5 and r["n"] == 20
    assert r["icc"] > 0.99

    flat = [(g, d) for g in range(5) for d in (1.0, 2.0, 3.0, 4.0)]
    df2 = spark.createDataFrame(flat, "g long, v double")
    r2 = icc_oneway(df2, "g", F.col("v")).collect()[0]
    assert r2["icc"] < 0.05


def test_friedman_matches_formula_and_detects_effect(spark):
    """A treatment consistently ranked last across every subject
    drives chi2 to the hand formula's value; incomplete subjects are
    excluded from n."""
    import pytest

    from conte_to_fresco_etl_spark.operators.robust import friedman_test

    rows = []
    for s in range(8):
        rows.append((s, "a", 1.0 + s))   # always lowest -> rank 1
        rows.append((s, "b", 5.0 + s))
        rows.append((s, "c", 9.0 + s))   # always highest -> rank 3
    rows.append((99, "a", 1.0))          # incomplete subject
    df = spark.createDataFrame(rows, "s long, t string, v double")
    r = friedman_test(df, "s", "t", F.col("v"), k=3).collect()[0]
    n, k = 8, 3
    r2 = (n * 1) ** 2 + (n * 2) ** 2 + (n * 3) ** 2
    chi2 = 12 / (n * k * (k + 1)) * r2 - 3 * n * (k + 1)
    assert r["n_subjects"] == 8
    assert r["chi2"] == pytest.approx(round(chi2, 6), abs=1e-9)


def test_pareto_front_matches_bruteforce(spark):
    """The distributed skyline equals the O(n²) dominance definition,
    keeps duplicate optima, and drops same-x dominated rows."""
    from conte_to_fresco_etl_spark.validation import pareto_front

    pts = [
        (1, 10, 1), (2, 8, 5), (3, 8, 3), (4, 5, 5), (5, 2, 9),
        (6, 10, 1), (7, 1, 1), (8, 2, 9), (9, 6, 5),
    ]
    df = spark.createDataFrame(pts, "id long, x long, y long")
    got = sorted(
        r["id"]
        for r in pareto_front(df, F.col("x"), F.col("y")).collect()
    )
    expect = sorted(
        i
        for (i, x, y) in pts
        if not any(
            qx >= x and qy >= y and (qx > x or qy > y)
            for (_, qx, qy) in pts
        )
    )
    assert got == expect
    assert 1 in got and 6 in got     # duplicate optima both kept
    assert 3 not in got              # same-x, lower y: dominated


def test_mood_median_detects_shift(spark):
    """Two groups straddling the pooled median drive a large chi2;
    identically-distributed groups give chi2 near 0; median is the
    exact lower order statistic."""
    from conte_to_fresco_etl_spark.operators.robust import (
        mood_median_test,
    )

    rows = [("lo", float(v)) for v in range(10)] + [
        ("hi", float(v + 10)) for v in range(10)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    r = mood_median_test(df, "g", F.col("v")).collect()[0]
    assert r["n"] == 20 and r["k_groups"] == 2
    assert r["median"] == 9.0  # lower median of 0..19
    assert r["chi2"] > 10

    same = spark.createDataFrame(
        [(g, float(v)) for g in ("a", "b") for v in range(10)],
        "g string, v double",
    )
    assert mood_median_test(same, "g", F.col("v")).collect()[0][
        "chi2"
    ] < 0.5


def test_runs_test_extremes(spark):
    """A perfectly alternating series maximizes runs (z > 0); a
    two-block trend minimizes them (z < 0); counts and the run total
    are exact."""
    from conte_to_fresco_etl_spark.operators.robust import runs_test

    def series(vals):
        rows = [
            (f"2024-01-{i + 1:02d} 01:00:00", float(v))
            for i, v in enumerate(vals)
        ]
        return spark.createDataFrame(
            rows, "ts string, value double"
        ).select(F.to_timestamp("ts").alias("ts"), "value")

    import math

    import pytest

    def twin(vals):
        n = len(vals)
        med = sorted(vals)[math.ceil(n / 2) - 1]
        s = [v > med for v in vals if v != med]
        runs = 1 + sum(a != b for a, b in zip(s, s[1:]))
        n1, n2 = sum(s), len(s) - sum(s)
        mu = 2 * n1 * n2 / (n1 + n2) + 1
        var = (
            2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
            / ((n1 + n2) ** 2 * (n1 + n2 - 1))
        )
        return n1, n2, runs, round((runs - mu) / var**0.5, 6)

    # alternating around the median (distinct values, one drops)
    alt_vals = [i * 0.1 if i % 2 == 0 else 100.0 + i for i in range(16)]
    alt = runs_test(series(alt_vals), "ts", "value").collect()[0]
    n1, n2, runs, z = twin(alt_vals)
    assert (alt["n_pos"], alt["n_neg"], alt["runs"]) == (n1, n2, runs)
    assert alt["z"] == pytest.approx(z, abs=2e-6)
    assert alt["z"] > 2.5  # oscillation: far more runs than chance

    # two-block trend: minimal runs
    blk_vals = [float(i) for i in range(8)] + [
        100.0 + i for i in range(8)
    ]
    blocks = runs_test(series(blk_vals), "ts", "value").collect()[0]
    n1, n2, runs, z = twin(blk_vals)
    assert blocks["runs"] == runs == 2
    assert blocks["z"] == pytest.approx(z, abs=2e-6)
    assert blocks["z"] < -3


def test_hodges_lehmann_matches_python_twin(spark):
    """HL equals the median of all Walsh averages computed in Python,
    and one wild day moves it far less than the mean."""
    import statistics

    import pytest

    from conte_to_fresco_etl_spark.operators.robust import hodges_lehmann

    vals = [10.0, 11.0, 9.5, 10.2, 300.0, 10.8, 9.9]
    rows = [
        (f"2024-02-{i + 1:02d} 01:00:00", v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "ts string, value double").select(
        F.to_timestamp("ts").alias("ts"), "value"
    )
    r = hodges_lehmann(df, "ts", "value").collect()[0]
    walsh = sorted(
        round((vals[i] + vals[j]) / 2, 9)
        for i in range(len(vals))
        for j in range(i, len(vals))
    )
    expect = statistics.median(walsh)
    assert r["n_pairs"] == len(walsh)
    assert r["hl"] == pytest.approx(round(expect, 6), abs=2e-6)
    assert abs(r["hl"] - 10.5) < 2  # robust to the 300 outlier


def test_pettitt_locates_planted_break(spark):
    """A clean level shift at day 8 of 16 is located exactly; the
    statistic matches the O(n²) sign-comparison definition and the
    p-value its closed form."""
    import math

    import pytest

    from conte_to_fresco_etl_spark.operators.robust import pettitt_test

    vals = [10.0 + i * 0.01 for i in range(8)] + [
        20.0 + i * 0.01 for i in range(8)
    ]
    rows = [
        (f"2024-03-{i + 1:02d} 01:00:00", v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "ts string, value double").select(
        F.to_timestamp("ts").alias("ts"), "value"
    )
    r = pettitt_test(df, "ts", "value").collect()[0]
    n = len(vals)

    def sgn(x):
        return (x > 0) - (x < 0)

    k_best, t_best = -1, None
    for t in range(1, n):
        u = sum(
            sgn(vals[i] - vals[j])
            for i in range(t)
            for j in range(t, n)
        )
        if abs(u) > k_best:
            k_best, t_best = abs(u), t
    assert r["k_stat"] == k_best
    assert str(r["at_day"]).startswith(f"2024-03-{t_best:02d}")
    p = min(2 * math.exp(-6 * k_best**2 / (n**3 + n**2)), 1.0)
    assert r["p_value"] == pytest.approx(round(p, 6), abs=1e-9)


def test_ndcg_perfect_and_inverted(spark):
    """A scorer identical to the gains gives ndcg = 1; a perfectly
    inverted scorer scores strictly less; all-zero gains give NULL."""
    from conte_to_fresco_etl_spark.operators.robust import ndcg_at_k

    rows = [(i, float(i), float(i % 5)) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, s double, g double")
    perfect = ndcg_at_k(
        df, "id", F.col("g"), F.col("g"), k=10
    ).collect()[0]
    assert perfect["ndcg"] == 1.0
    inverted = ndcg_at_k(
        df, "id", -F.col("g"), F.col("g"), k=10
    ).collect()[0]
    assert inverted["ndcg"] is not None and inverted["ndcg"] < 0.6
    zeros = ndcg_at_k(
        df, "id", F.col("s"), F.lit(0.0), k=10
    ).collect()[0]
    assert zeros["ndcg"] is None


def test_adamic_adar_hand_computed(spark):
    """AA on a hand graph: common neighbor z with degree d contributes
    1/ln(d); hub-mediated pairs score below rare-neighbor pairs."""
    import math

    import pytest

    from conte_to_fresco_etl_spark.operators.graph import adamic_adar

    # star hub h connects 1..4; plus a private bridge z between 1 and 2
    edges = [(h := 99, i) for i in (1, 2, 3, 4)] + [(50, 1), (50, 2)]
    df = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "a long, b long"
    )
    out = {(r["a"], r["b"]): r for r in adamic_adar(df).collect()}
    deg_h, deg_z = 4, 2
    # pair (1,2): common neighbors hub (deg 4) AND bridge (deg 2)
    expect12 = round(1 / math.log(deg_h), 9) + round(
        1 / math.log(deg_z), 9
    )
    assert out[(1, 2)]["n_common"] == 2
    assert out[(1, 2)]["aa_score"] == pytest.approx(
        round(expect12, 6), abs=1e-9
    )
    # pair (3,4): hub only — scores strictly lower
    assert out[(3, 4)]["n_common"] == 1
    assert out[(3, 4)]["aa_score"] < out[(1, 2)]["aa_score"]


def test_granger_detects_planted_lead(spark):
    """x leads y by one day (y_t = x_{t-1} + noise): the unrestricted
    model crushes RSS and F is large; with x as pure noise, F stays
    small."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.robust import granger_lag1

    rng = np.random.default_rng(5)
    n = 30
    x = rng.normal(50, 10, n)
    y = np.empty(n)
    y[0] = 50
    y[1:] = x[:-1] + rng.normal(0, 0.5, n - 1)
    rows = []
    for d in range(n):
        ts = f"2024-01-{d + 1:02d} 10:00:00"
        rows.append((ts, "click", float(y[d])))
        rows.append((ts, "view", float(x[d])))
    df = spark.createDataFrame(
        rows, "ts string, event_type string, value double"
    ).select(F.to_timestamp("ts").alias("ts"), "event_type", "value")
    r = granger_lag1(
        df,
        "ts",
        F.when(F.col("event_type") == "click", F.col("value")),
        F.when(F.col("event_type") == "view", F.col("value")),
    ).collect()[0]
    assert r["n"] == n - 1
    assert r["rss_u"] < r["rss_r"] * 0.1
    assert r["f_stat"] > 50

    noise = rng.normal(0, 1, n)
    rows2 = []
    for d in range(n):
        ts = f"2024-01-{d + 1:02d} 10:00:00"
        rows2.append((ts, "click", float(y[d])))
        rows2.append((ts, "view", float(noise[d])))
    df2 = spark.createDataFrame(
        rows2, "ts string, event_type string, value double"
    ).select(F.to_timestamp("ts").alias("ts"), "event_type", "value")
    r2 = granger_lag1(
        df2,
        "ts",
        F.when(F.col("event_type") == "click", F.col("value")),
        F.when(F.col("event_type") == "view", F.col("value")),
    ).collect()[0]
    assert r2["f_stat"] < 10


def test_cramers_v_extremes(spark):
    """Perfectly-dependent variables give V = 1; independent ones give
    V near 0; the full-grid chi-square counts zero cells' expectation."""
    from conte_to_fresco_etl_spark.operators.robust import cramers_v

    dep = spark.createDataFrame(
        [(i % 3, f"c{i % 3}") for i in range(90)], "a long, b string"
    )
    r = cramers_v(dep, F.col("a"), F.col("b")).collect()[0]
    assert (r["r"], r["c"]) == (3, 3)
    assert r["v"] == 1.0
    ind = spark.createDataFrame(
        [(i % 3, f"c{(i // 3) % 3}") for i in range(90)],
        "a long, b string",
    )
    r2 = cramers_v(ind, F.col("a"), F.col("b")).collect()[0]
    assert r2["v"] < 0.05 and r2["chi2"] < 1e-6


def test_weighted_kappa_orders_near_misses(spark):
    """Identical raters: wk = 1; off-by-one raters beat off-by-three
    raters (quadratic weights), and both beat independent ones."""
    from conte_to_fresco_etl_spark.operators.robust import weighted_kappa

    base = [i % 4 for i in range(200)]

    def wk(shift_fn):
        df = spark.createDataFrame(
            [(v, shift_fn(i, v)) for i, v in enumerate(base)],
            "a long, b long",
        )
        return weighted_kappa(df, F.col("a"), F.col("b")).collect()[0][
            "wkappa"
        ]

    assert wk(lambda i, v: v) == 1.0
    near = wk(lambda i, v: min(v + (i % 2), 3))
    far = wk(lambda i, v: 3 - v)
    assert near > far


# ---------------------------------------------------------------------------
# r9 batch 4: ANOVA / Levene / Jarque-Bera / Cliff's delta / Kuiper
# ---------------------------------------------------------------------------


def test_anova_matches_formula(spark):
    from conte_to_fresco_etl_spark.operators.robust import one_way_anova

    a = [1.0, 2.0, 3.0, 4.0]
    b = [3.0, 5.0, 7.0]
    c = [2.0, 2.0, 4.0, 4.0, 8.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b] + [
        ("c", v) for v in c
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    r = one_way_anova(df, "g", "v").collect()[0]
    groups = [a, b, c]
    n = sum(len(g) for g in groups)
    s = sum(sum(g) for g in groups)
    ssb = sum(sum(g) ** 2 / len(g) for g in groups) - s * s / n
    ssw = sum(sum(v * v for v in g) for g in groups) - sum(
        sum(g) ** 2 / len(g) for g in groups
    )
    k = len(groups)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert r["n"] == n and r["k_groups"] == k
    assert abs(r["ss_between"] - round(ssb, 6)) < 1e-6
    assert abs(r["ss_within"] - round(ssw, 6)) < 1e-6
    assert abs(r["f_stat"] - round(f, 6)) < 1e-6
    assert abs(r["eta_sq"] - round(ssb / (ssb + ssw), 6)) < 1e-6


def test_anova_degenerate_nulls(spark):
    from conte_to_fresco_etl_spark.operators.robust import one_way_anova

    # one group: k-1 = 0 -> f_stat NULL; all-constant: ssw = 0 -> NULL
    df1 = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0)], "g string, v double"
    )
    assert one_way_anova(df1, "g", "v").collect()[0]["f_stat"] is None
    df2 = spark.createDataFrame(
        [("a", 3.0), ("a", 3.0), ("b", 3.0)], "g string, v double"
    )
    assert one_way_anova(df2, "g", "v").collect()[0]["f_stat"] is None


def test_levene_flags_unequal_variances(spark):
    from conte_to_fresco_etl_spark.operators.robust import levene_test

    # equal spread -> W ~ 0; 10x spread in one group -> large W
    tight = [("a", float(v)) for v in (1, 2, 3, 4, 5)]
    same = [("b", float(v)) for v in (11, 12, 13, 14, 15)]
    wide = [("b", float(v)) for v in (-10, 0, 10, 20, 30)]
    w_same = levene_test(
        spark.createDataFrame(tight + same, "g string, v double"),
        "g", "v",
    ).collect()[0]["w_stat"]
    w_wide = levene_test(
        spark.createDataFrame(tight + wide, "g string, v double"),
        "g", "v",
    ).collect()[0]["w_stat"]
    assert w_same == 0.0  # identical |v - mean| profiles
    assert w_wide > 5.0  # 10x spread: far past the F(1,8) 5% point


def test_levene_matches_formula(spark):
    from conte_to_fresco_etl_spark.operators.robust import levene_test

    a = [1.0, 4.0, 6.0, 9.0]
    b = [2.0, 2.5, 3.0, 3.5, 4.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    r = levene_test(
        spark.createDataFrame(rows, "g string, v double"), "g", "v"
    ).collect()[0]
    za = [round(abs(v - sum(a) / len(a)), 6) for v in a]
    zb = [round(abs(v - sum(b) / len(b)), 6) for v in b]
    n, k = len(a) + len(b), 2
    s = sum(za) + sum(zb)
    sq = sum(za) ** 2 / len(za) + sum(zb) ** 2 / len(zb)
    ssb = sq - s * s / n
    ssw = sum(z * z for z in za + zb) - sq
    w = ((n - k) / (k - 1)) * (ssb / ssw)
    assert abs(r["w_stat"] - round(w, 6)) < 1e-5


def test_jarque_bera_symmetric_vs_skewed(spark):
    from conte_to_fresco_etl_spark.operators.robust import jarque_bera

    sym = [("s", float(v)) for v in (-2, -1, -1, 0, 0, 0, 1, 1, 2)]
    skw = [("k", float(v)) for v in (1, 1, 1, 1, 1, 2, 2, 3, 50)]
    df = spark.createDataFrame(sym + skw, "g string, v double")
    out = {r["group"]: r for r in jarque_bera(df, "g", "v").collect()}
    assert out["s"]["skewness"] == 0.0  # exactly symmetric sample
    assert abs(out["k"]["skewness"]) > 2.0
    assert out["k"]["jb_stat"] > out["s"]["jb_stat"]


def test_jarque_bera_matches_formula(spark):
    from conte_to_fresco_etl_spark.operators.robust import jarque_bera

    vals = [1.0, 2.0, 2.0, 3.0, 5.0, 8.0, 13.0]
    df = spark.createDataFrame(
        [("g", v) for v in vals], "g string, v double"
    )
    r = jarque_bera(df, "g", "v").collect()[0]
    n = len(vals)
    mean = sum(vals) / n
    m2 = sum((v - mean) ** 2 for v in vals) / n
    m3 = sum((v - mean) ** 3 for v in vals) / n
    m4 = sum((v - mean) ** 4 for v in vals) / n
    g1 = m3 / m2**1.5
    g2 = m4 / m2**2 - 3.0
    jb = n / 6.0 * (g1 * g1 + g2 * g2 / 4.0)
    assert abs(r["skewness"] - round(g1, 6)) < 1e-5
    assert abs(r["ex_kurtosis"] - round(g2, 6)) < 1e-5
    assert abs(r["jb_stat"] - round(jb, 6)) < 1e-5


def test_jarque_bera_constant_group_null(spark):
    from conte_to_fresco_etl_spark.operators.robust import jarque_bera

    df = spark.createDataFrame(
        [("g", 7.0)] * 5, "g string, v double"
    )
    r = jarque_bera(df, "g", "v").collect()[0]
    assert r["skewness"] is None and r["jb_stat"] is None


def test_cliffs_delta_counts_pairs(spark):
    from conte_to_fresco_etl_spark.operators.robust import cliffs_delta

    a = [3.0, 4.0, 5.0]
    b = [1.0, 2.0, 3.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    r = cliffs_delta(df, "g", "v", "a", "b").collect()[0]
    gt = sum(1 for x in a for y in b if x > y)
    lt = sum(1 for x in a for y in b if x < y)
    assert r["n_gt"] == gt and r["n_lt"] == lt
    assert r["cliffs_delta"] == round((gt - lt) / 9.0, 6)


def test_cliffs_delta_extremes(spark):
    from conte_to_fresco_etl_spark.operators.robust import cliffs_delta

    # complete separation -> +1 ; identical samples -> 0
    sep = [("a", 10.0), ("a", 11.0), ("b", 1.0), ("b", 2.0)]
    df = spark.createDataFrame(sep, "g string, v double")
    assert cliffs_delta(df, "g", "v", "a", "b").collect()[0][
        "cliffs_delta"
    ] == 1.0
    same = [("a", 5.0), ("a", 6.0), ("b", 5.0), ("b", 6.0)]
    df2 = spark.createDataFrame(same, "g string, v double")
    assert cliffs_delta(df2, "g", "v", "a", "b").collect()[0][
        "cliffs_delta"
    ] == 0.0


def test_kuiper_uniform_exact_small(spark):
    from conte_to_fresco_etl_spark.operators.robust import kuiper_uniform

    # n=4 on U(0,1): values 0.1 0.2 0.3 0.4 — ECDF runs ahead of the
    # diagonal: D+ at 0.4 (1.0 - 0.4 = 0.6), D- at 0.1 (0.1 - 0.0)
    df = spark.createDataFrame(
        [(0.1,), (0.2,), (0.3,), (0.4,)], "v double"
    )
    r = kuiper_uniform(df, "v", 0.0, 1.0).collect()[0]
    assert r["n"] == 4
    assert r["d_plus"] == 0.6
    assert r["d_minus"] == 0.1
    assert r["v_stat"] == 0.7


def test_kuiper_catches_wraparound_shift(spark):
    from conte_to_fresco_etl_spark.operators.robust import (
        ks_uniform, kuiper_uniform,
    )

    # mass split at BOTH ends of the cycle (a midnight-straddling
    # peak): KS sees two half-sized gaps, Kuiper adds them
    vals = [i / 100.0 for i in range(10)] + [
        (90 + i) / 100.0 for i in range(10)
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    v = kuiper_uniform(df, "v", 0.0, 1.0).collect()[0]["v_stat"]
    d = ks_uniform(df, "v", 0.0, 1.0).collect()[0]["d_stat"]
    assert v > d + 0.3  # Kuiper strictly more sensitive here


# ---------------------------------------------------------------------------
# r9 batch 5: Wilcoxon signed-rank / Durbin-Watson / Cochran-Armitage /
# periodogram
# ---------------------------------------------------------------------------


def test_wilcoxon_signed_rank_matches_formula(spark):
    import math

    from conte_to_fresco_etl_spark.operators.robust import (
        wilcoxon_signed_rank,
    )

    # keys with single observations per arm -> d = a - b directly
    diffs = [1.0, -2.0, 3.0, 3.0, -4.0, 5.0, 0.0]
    rows = []
    for i, d in enumerate(diffs):
        rows.append((i, "a", 10.0 + d))
        rows.append((i, "b", 10.0))
    df = spark.createDataFrame(rows, "k long, g string, v double")
    r = wilcoxon_signed_rank(df, "k", "g", "v", "a", "b").collect()[0]
    nz = [d for d in diffs if d != 0]
    n = len(nz)
    # midranks of |d|: |1|->1, |2|->2, |3|,|3|->3.5, |4|->5, |5|->6
    ranks = {1.0: 1, 2.0: 2, 3.0: 3.5, 4.0: 5, 5.0: 6}
    wp = sum(ranks[abs(d)] for d in nz if d > 0)
    tie = 2**3 - 2
    var = n * (n + 1) * (2 * n + 1) / 24.0 - tie / 48.0
    z = (wp - n * (n + 1) / 4.0) / math.sqrt(var)
    assert r["n_pairs"] == 7 and r["n_nonzero"] == 6
    assert r["w_plus"] == wp
    assert r["w_minus"] == n * (n + 1) / 2.0 - wp
    assert abs(r["z_stat"] - round(z, 6)) < 1e-6


def test_wilcoxon_all_zero_diffs(spark):
    from conte_to_fresco_etl_spark.operators.robust import (
        wilcoxon_signed_rank,
    )

    rows = [(i, g, 5.0) for i in range(4) for g in ("a", "b")]
    df = spark.createDataFrame(rows, "k long, g string, v double")
    r = wilcoxon_signed_rank(df, "k", "g", "v", "a", "b").collect()[0]
    assert r["n_pairs"] == 4 and r["n_nonzero"] == 0
    assert r["z_stat"] is None


def test_durbin_watson_alternating_vs_trending(spark):
    from conte_to_fresco_etl_spark.operators.robust import durbin_watson

    # alternating series -> strong negative autocorr -> DW near 4;
    # slow ramp -> strong positive autocorr -> DW near 0
    alt = [(1, i, i, 10.0 if i % 2 == 0 else -10.0) for i in range(20)]
    ramp = [(2, i, i, float(i)) for i in range(20)]
    df = spark.createDataFrame(
        alt + ramp, "key long, ts long, id long, v double"
    )
    out = {
        r["key"]: r["dw_stat"]
        for r in durbin_watson(df, "key", "ts", "id", "v").collect()
    }
    assert out[1] > 3.5
    assert out[2] < 0.5


def test_durbin_watson_matches_formula(spark):
    from conte_to_fresco_etl_spark.operators.robust import durbin_watson

    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
    df = spark.createDataFrame(
        [(1, i, i, v) for i, v in enumerate(vals)],
        "key long, ts long, id long, v double",
    )
    r = durbin_watson(df, "key", "ts", "id", "v").collect()[0]
    mean = sum(vals) / len(vals)
    e = [round(v - mean, 6) for v in vals]
    dw = sum((e[i] - e[i - 1]) ** 2 for i in range(1, len(e))) / sum(
        x * x for x in e
    )
    assert abs(r["dw_stat"] - round(dw, 6)) < 1e-6


def test_cochran_armitage_detects_trend(spark):
    from conte_to_fresco_etl_spark.operators.robust import cochran_armitage

    # success rate rises with the score -> strongly positive z
    rows = []
    for s, rate in [(0, 0.1), (1, 0.3), (2, 0.5), (3, 0.7)]:
        k = int(rate * 100)
        rows += [(s, True)] * k + [(s, False)] * (100 - k)
    df = spark.createDataFrame(rows, "s long, ok boolean")
    r = cochran_armitage(df, "s", "ok").collect()[0]
    assert r["n"] == 400 and r["k_levels"] == 4
    assert r["z_stat"] > 5.0
    # flat rates -> t = 0 exactly
    flat = [(s, i < 30) for s in range(4) for i in range(100)]
    df2 = spark.createDataFrame(flat, "s long, ok boolean")
    r2 = cochran_armitage(df2, "s", "ok").collect()[0]
    assert r2["t_stat"] == 0.0


def test_cochran_armitage_matches_formula(spark):
    import math

    from conte_to_fresco_etl_spark.operators.robust import cochran_armitage

    table = {0: (50, 5), 1: (40, 10), 2: (60, 30)}  # s -> (n, r)
    rows = []
    for s, (n, r_s) in table.items():
        rows += [(s, True)] * r_s + [(s, False)] * (n - r_s)
    df = spark.createDataFrame(rows, "s long, ok boolean")
    out = cochran_armitage(df, "s", "ok").collect()[0]
    n = sum(v[0] for v in table.values())
    rr = sum(v[1] for v in table.values())
    pbar = rr / n
    t = sum(s * v[1] for s, v in table.items()) - pbar * sum(
        s * v[0] for s, v in table.items()
    )
    var = (
        pbar
        * (1 - pbar)
        * (
            sum(s * s * v[0] for s, v in table.items())
            - sum(s * v[0] for s, v in table.items()) ** 2 / n
        )
    )
    assert abs(out["t_stat"] - round(t, 6)) < 1e-6
    assert abs(out["z_stat"] - round(t / math.sqrt(var), 6)) < 1e-6


def test_periodogram_finds_planted_cycle(spark):
    import datetime
    import math

    from conte_to_fresco_etl_spark.operators.robust import periodogram

    # daily series with a pure 7-day cycle: power concentrates at p=7
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(days=i),
         100.0 + 10.0 * math.cos(2 * math.pi * i / 7.0))
        for i in range(56)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    out = {r["period"]: r["power"] for r in
           periodogram(df, "ts", "v", periods=(2, 3, 5, 7, 10)).collect()}
    # p=10 is not an integer divisor of the 56-day span, so a little
    # spectral leakage lands there — the planted peak still dominates
    assert out[7] > 20 * max(out[p] for p in (2, 3, 5, 10))


def test_periodogram_n_days_and_flat_series(spark):
    import datetime

    from conte_to_fresco_etl_spark.operators.robust import periodogram

    base = datetime.datetime(2024, 3, 1)
    rows = [
        (base + datetime.timedelta(days=i, hours=h), 42.0)
        for i in range(10) for h in (1, 13)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    out = periodogram(df, "ts", "v", periods=(2, 7)).collect()
    assert all(r["n_days"] == 10 for r in out)
    assert all(r["power"] == 0.0 for r in out)  # demeaned flat = 0


# ---------------------------------------------------------------------------
# r9 batch 6: Anderson-Darling / Brunner-Munzel
# ---------------------------------------------------------------------------


def test_anderson_darling_matches_scipy_formula(spark):
    from conte_to_fresco_etl_spark.operators.robust import (
        anderson_darling_2samp,
    )

    a = [1.0, 2.0, 3.0, 7.0, 8.0]
    b = [4.0, 5.0, 6.0, 6.0, 9.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    r = anderson_darling_2samp(df, "g", "v", "a", "b").collect()[0]
    # python twin of the A2akN midrank form (Scholz-Stephens eq. 7)
    pooled = sorted(a + b)
    zstar = sorted(set(pooled))
    n, m = len(a), len(b)
    nn = n + m
    a2 = 0.0
    for sample, ni in ((a, n), (b, m)):
        inner = 0.0
        for z in zstar:
            lj = pooled.count(z)
            cj = sum(1 for y in pooled if y <= z)
            bj = cj - lj / 2.0
            mij = sum(1 for y in sample if y <= z) - sample.count(z) / 2.0
            denom = bj * (nn - bj) - nn * lj / 4.0
            if denom > 0:
                inner += lj / nn * (nn * mij - bj * ni) ** 2 / denom
        a2 += inner / ni
    a2 *= (nn - 1.0) / nn
    assert r["n_a"] == 5 and r["n_b"] == 5
    assert abs(r["a2_stat"] - round(a2, 6)) < 1e-5


def test_anderson_darling_identical_all_tied(spark):
    from conte_to_fresco_etl_spark.operators.robust import (
        anderson_darling_2samp,
    )

    rows = [("a", 5.0)] * 4 + [("b", 5.0)] * 4
    df = spark.createDataFrame(rows, "g string, v double")
    r = anderson_darling_2samp(df, "g", "v", "a", "b").collect()[0]
    assert r["a2_stat"] == 0.0  # every term's denominator degenerates


def test_brunner_munzel_matches_scipy_formula(spark):
    import math

    from conte_to_fresco_etl_spark.operators.robust import brunner_munzel

    # scipy.stats.brunnermunzel reference fixture (its docstring data)
    x1 = [1, 2, 1, 1, 1, 1, 1, 1, 1, 1, 2, 4, 1, 1]
    x2 = [3, 3, 4, 3, 1, 2, 3, 1, 1, 5, 4]
    rows = [("a", float(v)) for v in x1] + [("b", float(v)) for v in x2]
    df = spark.createDataFrame(rows, "g string, v double")
    r = brunner_munzel(df, "g", "v", "a", "b").collect()[0]
    # python twin
    nx, ny = len(x1), len(x2)
    pooled = sorted(x1 + x2)

    def midrank(seq, x):
        lo = sum(1 for y in seq if y < x)
        eq = sum(1 for y in seq if y == x)
        return lo + (eq + 1) / 2.0

    rkx = [midrank(pooled, v) for v in x1]
    rky = [midrank(pooled, v) for v in x2]
    rkxx = [midrank(x1, v) for v in x1]
    rkyy = [midrank(x2, v) for v in x2]
    mx, my = sum(rkx) / nx, sum(rky) / ny
    sx = sum(
        (rkx[i] - rkxx[i] - mx + (nx + 1) / 2.0) ** 2 for i in range(nx)
    ) / (nx - 1)
    sy = sum(
        (rky[i] - rkyy[i] - my + (ny + 1) / 2.0) ** 2 for i in range(ny)
    ) / (ny - 1)
    w = nx * ny * (my - mx) / ((nx + ny) * math.sqrt(nx * sx + ny * sy))
    p_hat = (my - (ny + 1) / 2.0) / nx
    assert r["n_a"] == nx and r["n_b"] == ny
    assert abs(r["w_stat"] - round(w, 6)) < 1e-5
    assert abs(r["p_hat"] - round(p_hat, 6)) < 1e-6
    # scipy reports W = 3.1374674823029505 for this fixture
    assert abs(r["w_stat"] - 3.137467) < 1e-5


def test_brunner_munzel_symmetric_zero(spark):
    from conte_to_fresco_etl_spark.operators.robust import brunner_munzel

    # identical samples -> p_hat = 1/2, W = 0
    rows = [("a", float(v)) for v in (1, 2, 3, 4)] + [
        ("b", float(v)) for v in (1, 2, 3, 4)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    r = brunner_munzel(df, "g", "v", "a", "b").collect()[0]
    assert r["p_hat"] == 0.5
    assert r["w_stat"] == 0.0


# ---------------------------------------------------------------------------
# r9 deferred wave: effect sizes / TOST / Mantel-Haenszel / G-test /
# spectral entropy
# ---------------------------------------------------------------------------


def test_effect_sizes_match_formula(spark):
    import math

    from conte_to_fresco_etl_spark.operators.robust import effect_sizes

    a = [10.0, 12.0, 14.0, 16.0]
    b = [9.0, 10.0, 11.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    r = effect_sizes(df, "g", "v", "a", "b").collect()[0]
    na, nb = len(a), len(b)
    ma, mb = sum(a) / na, sum(b) / nb
    va = sum((v - ma) ** 2 for v in a) / (na - 1)
    vb = sum((v - mb) ** 2 for v in b) / (nb - 1)
    sp = math.sqrt(((na - 1) * va + (nb - 1) * vb) / (na + nb - 2))
    d = (ma - mb) / sp
    j = 1 - 3 / (4 * (na + nb) - 9)
    assert abs(r["cohens_d"] - round(d, 6)) < 1e-6
    assert abs(r["hedges_g"] - round(d * j, 6)) < 1e-6
    assert abs(r["glass_delta"] - round((ma - mb) / math.sqrt(vb), 6)) < 1e-6
    assert abs(r["hedges_g"]) < abs(r["cohens_d"])  # J < 1 always


def test_tost_verdict_flips_with_margin(spark):
    from conte_to_fresco_etl_spark.operators.robust import tost_equivalence

    # tight samples, tiny true diff: equivalent under a wide margin,
    # NOT under a margin narrower than the diff
    a = [10.0 + 0.01 * i for i in range(50)]
    b = [10.2 + 0.01 * i for i in range(50)]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    wide = tost_equivalence(df, "g", "v", "a", "b", margin=1.0).collect()[0]
    narrow = tost_equivalence(df, "g", "v", "a", "b", margin=0.05).collect()[0]
    assert wide["equivalent"] is True
    assert narrow["equivalent"] is False
    assert wide["t_lower"] > 0 > wide["t_upper"]


def test_mantel_haenszel_simpsons_paradox(spark):
    from conte_to_fresco_etl_spark.operators.robust import mantel_haenszel

    # classic confounding: within EACH stratum the exposure HELPS
    # (OR > 1), but exposure concentrates in the hard stratum, so the
    # crude pooled OR dips below the stratified estimate
    rows = []
    # stratum 0 (easy): exposed 10/12 success, unexposed 70/100
    rows += [(0, True, True)] * 10 + [(0, True, False)] * 2
    rows += [(0, False, True)] * 70 + [(0, False, False)] * 30
    # stratum 1 (hard): exposed 30/100 success, unexposed 2/12
    rows += [(1, True, True)] * 30 + [(1, True, False)] * 70
    rows += [(1, False, True)] * 2 + [(1, False, False)] * 10
    df = spark.createDataFrame(rows, "s long, e boolean, o boolean")
    r = mantel_haenszel(df, "s", "e", "o").collect()[0]
    assert r["k_strata"] == 2 and r["n"] == 224
    # per-stratum ORs: (10*30)/(2*70) = 2.14 ; (30*10)/(70*2) = 2.14
    assert r["or_mh"] > 1.5
    assert r["or_crude"] < r["or_mh"]  # pooling hides the benefit


def test_gtest_independence_and_association(spark):
    from conte_to_fresco_etl_spark.operators.robust import g_test

    # perfectly proportional table -> G = 0
    rows = [("x", i % 2) for i in range(40)] + [
        ("y", i % 2) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "a string, b long")
    r = g_test(df, "a", "b").collect()[0]
    assert r["g_stat"] == 0.0 and r["dof"] == 1
    # diagonal concentration -> large G, close to 2*N*MI
    import math

    dep = [("x", 0)] * 30 + [("y", 1)] * 30
    df2 = spark.createDataFrame(dep, "a string, b long")
    r2 = g_test(df2, "a", "b").collect()[0]
    assert abs(r2["g_stat"] - 2 * 60 * math.log(2)) < 1e-4


def test_spectral_entropy_pure_tone_vs_noise(spark):
    import datetime
    import math

    from conte_to_fresco_etl_spark.operators.robust import spectral_entropy

    base = datetime.datetime(2024, 1, 1)
    tone = [
        (base + datetime.timedelta(days=i),
         10.0 * math.cos(2 * math.pi * i / 7.0))
        for i in range(56)
    ]
    # deterministic pseudo-noise (hash-based, no RNG seed dependency)
    noise = [
        (base + datetime.timedelta(days=i), float(hash((i, "n")) % 100))
        for i in range(56)
    ]
    pt = spectral_entropy(
        spark.createDataFrame(tone, "ts timestamp, v double"), "ts", "v"
    ).collect()[0]
    pn = spectral_entropy(
        spark.createDataFrame(noise, "ts timestamp, v double"), "ts", "v"
    ).collect()[0]
    assert pt["entropy_norm"] < 0.4  # one period holds ~all the mass
    assert pn["entropy_norm"] > pt["entropy_norm"]


# ---------------------------------------------------------------------------
# r9 deferred wave: log-rank / two-proportion / Poisson rate ratio
# ---------------------------------------------------------------------------


def test_logrank_matches_hand_computation(spark):
    import math

    from conte_to_fresco_etl_spark.operators.robust import logrank_test

    # arm a fails at 1, 2 (observed) and censors at 3;
    # arm b fails at 2, 4 and censors at 4
    rows = [
        ("a", 1, True), ("a", 2, True), ("a", 3, False),
        ("b", 2, True), ("b", 4, True), ("b", 4, False),
    ]
    df = spark.createDataFrame(rows, "g string, t long, obs boolean")
    r = logrank_test(df, "g", "t", "obs", "a", "b").collect()[0]
    # hand walk:
    # t=1: risk a=3 b=3 n=6 d=1 da=1 e1=0.5  v=1*(.5)(.5)(5/5)=0.25
    # t=2: risk a=2 b=3 n=5 d=2 da=1 e1=0.8  v=2*(.4)(.6)(3/4)=0.36
    # t=4: risk a=0 b=2 n=2 d=1 da=0 e1=0    v=1*0*1*(1/1)=0
    o, e1, v = 2, 0.5 + 0.8, 0.25 + 0.36
    assert r["n_a"] == 3 and r["n_b"] == 3
    assert r["observed_a"] == o
    assert abs(r["expected_a"] - round(e1, 6)) < 1e-9
    assert abs(r["z_stat"] - round((o - e1) / math.sqrt(v), 6)) < 1e-6


def test_logrank_identical_arms_zero(spark):
    from conte_to_fresco_etl_spark.operators.robust import logrank_test

    rows = [(g, t, True) for g in ("a", "b") for t in (1, 2, 3, 5)]
    df = spark.createDataFrame(rows, "g string, t long, obs boolean")
    r = logrank_test(df, "g", "t", "obs", "a", "b").collect()[0]
    assert r["observed_a"] == 4
    assert abs(r["z_stat"]) < 1e-9  # symmetric arms: O = E exactly


def test_two_proportion_ztest_formula(spark):
    import math

    from conte_to_fresco_etl_spark.operators.robust import (
        two_proportion_ztest,
    )

    rows = [(True, i < 30) for i in range(100)] + [
        (False, i < 20) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "g boolean, s boolean")
    r = two_proportion_ztest(df, "g", "s").collect()[0]
    pa, pb, pp = 0.3, 0.2, 0.25
    se = math.sqrt(pp * 0.75 * (1 / 100 + 1 / 100))
    assert r["p_a"] == 0.3 and r["p_b"] == 0.2
    assert abs(r["z_stat"] - round((pa - pb) / se, 6)) < 1e-6


def test_poisson_rate_ratio_formula(spark):
    import math

    from conte_to_fresco_etl_spark.operators.robust import (
        poisson_rate_ratio,
    )

    rows = [(True, True)] * 40 + [(True, False)] * 60 + [
        (False, True)
    ] * 10 + [(False, False)] * 90
    df = spark.createDataFrame(rows, "g boolean, e boolean")
    r = poisson_rate_ratio(df, "g", "e", 20.0, 10.0).collect()[0]
    assert r["c_a"] == 40 and r["c_b"] == 10
    assert r["rate_a"] == 2.0 and r["rate_b"] == 1.0
    assert r["irr"] == 2.0
    z = math.log(2.0) / math.sqrt(1 / 40 + 1 / 10)
    assert abs(r["z_stat"] - round(z, 6)) < 1e-6


# ---------------------------------------------------------------------------
# r9 deferred wave: Bartlett / decision stump / closed-form ridge
# ---------------------------------------------------------------------------


def test_bartlett_matches_formula(spark):
    import math

    from conte_to_fresco_etl_spark.operators.robust import bartlett_test

    groups = {"a": [1.0, 2.0, 4.0, 7.0], "b": [3.0, 3.5, 4.0, 4.5, 5.0]}
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v double")
    r = bartlett_test(df, "g", "v").collect()[0]
    n = sum(len(v) for v in groups.values())
    k = len(groups)
    vis = {}
    for g, vs in groups.items():
        m = sum(vs) / len(vs)
        vis[g] = sum((x - m) ** 2 for x in vs) / (len(vs) - 1)
    sp2 = sum((len(vs) - 1) * vis[g] for g, vs in groups.items()) / (n - k)
    num = (n - k) * math.log(sp2) - sum(
        (len(vs) - 1) * math.log(vis[g]) for g, vs in groups.items()
    )
    den = 1 + (
        sum(1 / (len(vs) - 1) for vs in groups.values()) - 1 / (n - k)
    ) / (3 * (k - 1))
    assert r["n"] == n and r["k_groups"] == k
    assert abs(r["t_stat"] - round(num / den, 6)) < 1e-5


def test_bartlett_constant_group_null(spark):
    from conte_to_fresco_etl_spark.operators.robust import bartlett_test

    rows = [("a", 5.0)] * 4 + [("b", 1.0), ("b", 2.0), ("b", 3.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    # group a has zero variance: ln(0) undefined -> explicit NULL
    assert bartlett_test(df, "g", "v").collect()[0]["t_stat"] is None


def test_decision_stump_finds_planted_split(spark):
    from conte_to_fresco_etl_spark.operators.robust import decision_stump

    # label is exactly x <= 4 on feature f1; f2 is uninformative
    rows = [
        (float(x), float(x % 3), x <= 4) for x in range(10) for _ in range(5)
    ]
    df = spark.createDataFrame(rows, "f1 double, f2 double, y boolean")
    out = {r["feature"]: r for r in
           decision_stump(df, ["f1", "f2"], "y").collect()}
    import math

    assert out["f1"]["best_threshold"] == 4.0
    # perfect split: gain = H(prior) with prior = 1/2
    assert abs(out["f1"]["info_gain"] - round(math.log(2), 6)) < 1e-6
    assert out["f1"]["n_left"] == 25 and out["f1"]["n_right"] == 25
    # f2 = x % 3 carries a sliver of incidental signal over 0..9;
    # the planted feature must dominate it by an order of magnitude
    assert out["f2"]["info_gain"] < 0.05
    assert out["f1"]["info_gain"] > 10 * out["f2"]["info_gain"]


def test_decision_stump_no_split_above_max(spark):
    from conte_to_fresco_etl_spark.operators.robust import decision_stump

    rows = [(1.0, True), (1.0, False)]  # single value: no valid split
    df = spark.createDataFrame(rows, "f double, y boolean")
    assert decision_stump(df, ["f"], "y").collect() == []


def test_ridge_closed_form_recovers_linear_signal(spark):
    from conte_to_fresco_etl_spark.operators.robust import ridge_closed_form

    # y = 2 + 3*x1 - 1*x2 exactly; with lambda=0 the solve is OLS and
    # must recover the coefficients to rounding
    rows = [
        (float(i % 7), float(i % 5), 2.0 + 3.0 * (i % 7) - 1.0 * (i % 5))
        for i in range(140)
    ]
    df = spark.createDataFrame(rows, "x1 double, x2 double, y double")
    r = ridge_closed_form(df, "x1", "x2", "y", lam=0.0).collect()[0]
    assert abs(r["beta0"] - 2.0) < 1e-4
    assert abs(r["beta1"] - 3.0) < 1e-4
    assert abs(r["beta2"] + 1.0) < 1e-4


def test_ridge_lambda_shrinks_coefficients(spark):
    from conte_to_fresco_etl_spark.operators.robust import ridge_closed_form

    rows = [
        (float(i % 7), float((i * 3) % 5), 1.0 + 2.0 * (i % 7))
        for i in range(70)
    ]
    df = spark.createDataFrame(rows, "x1 double, x2 double, y double")
    b_free = ridge_closed_form(df, "x1", "x2", "y", lam=0.0).collect()[0]
    b_reg = ridge_closed_form(df, "x1", "x2", "y", lam=100.0).collect()[0]
    assert abs(b_reg["beta1"]) < abs(b_free["beta1"])  # shrinkage


# ---------------------------------------------------------------------------
# r9 deferred wave: DeLong AUC / average precision / Gumbel maxima
# ---------------------------------------------------------------------------


def test_auc_delong_matches_hand_computation(spark):
    import math

    from conte_to_fresco_etl_spark.operators.robust import auc_delong

    pos = [3.0, 5.0, 5.0, 8.0]
    neg = [1.0, 4.0, 5.0]
    rows = [(True, v) for v in pos] + [(False, v) for v in neg]
    df = spark.createDataFrame(rows, "y boolean, v double")
    r = auc_delong(df, "y", "v").collect()[0]

    def v10(x):
        return (sum(1 for y in neg if y < x)
                + 0.5 * sum(1 for y in neg if y == x)) / len(neg)

    def v01(y):
        return (sum(1 for x in pos if x > y)
                + 0.5 * sum(1 for x in pos if x == y)) / len(pos)

    auc = sum(v10(x) for x in pos) / len(pos)
    s10 = sum((v10(x) - auc) ** 2 for x in pos) / (len(pos) - 1)
    s01 = sum((v01(y) - auc) ** 2 for y in neg) / (len(neg) - 1)
    var = s10 / len(pos) + s01 / len(neg)
    assert r["n_pos"] == 4 and r["n_neg"] == 3
    assert abs(r["auc"] - round(auc, 6)) < 1e-6
    assert abs(r["var_auc"] - round(var, 9)) < 1e-8
    se = math.sqrt(var)
    assert abs(r["ci_hi"] - round(min(auc + 1.959964 * se, 1.0), 6)) < 1e-6


def test_auc_delong_perfect_separation(spark):
    from conte_to_fresco_etl_spark.operators.robust import auc_delong

    rows = [(True, float(10 + i)) for i in range(5)] + [
        (False, float(i)) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "y boolean, v double")
    r = auc_delong(df, "y", "v").collect()[0]
    assert r["auc"] == 1.0 and r["var_auc"] == 0.0
    assert r["ci_lo"] == 1.0 and r["ci_hi"] == 1.0


def test_average_precision_matches_sklearn_convention(spark):
    from conte_to_fresco_etl_spark.operators.robust import average_precision

    # scores descending: 0.9(+) 0.8(-) 0.7(+) 0.6(-)
    rows = [(True, 0.9), (False, 0.8), (True, 0.7), (False, 0.6)]
    df = spark.createDataFrame(rows, "y boolean, v double")
    r = average_precision(df, "y", "v").collect()[0]
    # AP = 0.5*1.0 (at 0.9: P=1, dR=.5) + 0.5*(2/3) (at 0.7: P=2/3)
    assert abs(r["average_precision"] - round(0.5 * 1.0 + 0.5 * 2 / 3, 6)) < 1e-6
    assert r["prevalence"] == 0.5


def test_average_precision_random_equals_prevalence(spark):
    from conte_to_fresco_etl_spark.operators.robust import average_precision

    # constant score: one threshold admits everything ->
    # AP = precision at full recall = prevalence
    rows = [(i % 4 == 0, 1.0) for i in range(100)]
    df = spark.createDataFrame(rows, "y boolean, v double")
    r = average_precision(df, "y", "v").collect()[0]
    assert r["average_precision"] == r["prevalence"] == 0.25


def test_gumbel_block_maxima_formula(spark):
    import datetime
    import math

    from conte_to_fresco_etl_spark.operators.robust import (
        gumbel_block_maxima,
    )

    base = datetime.datetime(2024, 1, 1)
    # two events per day; daily max = the larger
    maxima = [10.0, 14.0, 11.0, 18.0, 12.0, 16.0, 13.0, 15.0]
    rows = []
    for i, mx in enumerate(maxima):
        rows.append((base + datetime.timedelta(days=i, hours=1), mx - 5.0))
        rows.append((base + datetime.timedelta(days=i, hours=2), mx))
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    r = gumbel_block_maxima(df, "ts", "v").collect()[0]
    n = len(maxima)
    mean = sum(maxima) / n
    var = sum((x - mean) ** 2 for x in maxima) / (n - 1)
    beta = math.sqrt(var) * math.sqrt(6.0) / math.pi
    mu = mean - 0.5772156649015329 * beta
    rl = mu - beta * math.log(-math.log(1.0 - 1.0 / 30.0))
    assert r["n_blocks"] == n
    assert abs(r["mu"] - round(mu, 6)) < 1e-5
    assert abs(r["beta"] - round(beta, 6)) < 1e-5
    assert abs(r["return_level_30"] - round(rl, 6)) < 1e-5
    assert r["return_level_30"] > max(maxima) - 5  # tail extrapolates up


# ---------------------------------------------------------------------------
# r9 deferred wave: HITS
# ---------------------------------------------------------------------------


def test_hits_separates_hubs_from_authorities(spark):
    from conte_to_fresco_etl_spark.operators.graph import hits

    # a and d only point (pure hubs); c is only pointed at (pure
    # authority); b does both
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("d", "c"), ("d", "b")]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = {r["node"]: r for r in hits(df, iterations=3).collect()}
    assert out["c"]["hub"] == 0.0 and out["c"]["authority"] > 0.5
    assert out["a"]["authority"] == 0.0 and out["a"]["hub"] > 0.3
    assert out["d"]["hub"] > 0.3
    # b is a weaker hub than a/d (points at one authority, not two)
    assert out["b"]["hub"] < out["a"]["hub"]
    # L1 normalization: each side sums to ~1
    assert abs(sum(r["hub"] for r in out.values()) - 1.0) < 1e-5
    assert abs(sum(r["authority"] for r in out.values()) - 1.0) < 1e-5


def test_hits_symmetric_cycle_uniform(spark):
    from conte_to_fresco_etl_spark.operators.graph import hits

    # directed 4-cycle: every node an equal hub and equal authority
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = hits(df, iterations=3).collect()
    assert all(r["hub"] == 0.25 for r in out)
    assert all(r["authority"] == 0.25 for r in out)


def test_hits_broadcast_path_matches_shuffle_path(spark):
    from conte_to_fresco_etl_spark.operators.graph import hits

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")
    shuf = {(r["node"], r["hub"], r["authority"])
            for r in hits(df, iterations=2).collect()}
    bcast = {(r["node"], r["hub"], r["authority"])
             for r in hits(df, iterations=2,
                           broadcast_scores=True).collect()}
    assert shuf == bcast


def test_welch_anova_matches_formula(spark):
    from conte_to_fresco_etl_spark.operators.robust import welch_anova

    groups = {
        "a": [1.0, 2.0, 3.0, 4.0, 5.0],
        "b": [2.0, 4.0, 6.0, 8.0],
        "c": [10.0, 10.5, 11.0],
    }
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v double")
    r = welch_anova(df, "g", "v").collect()[0]
    stats = {}
    for g, vs in groups.items():
        m = sum(vs) / len(vs)
        v = sum((x - m) ** 2 for x in vs) / (len(vs) - 1)
        stats[g] = (len(vs), m, v)
    w = {g: n / v for g, (n, m, v) in stats.items()}
    sw = sum(w.values())
    mw = sum(w[g] * stats[g][1] for g in stats) / sw
    k = len(stats)
    num = sum(w[g] * (stats[g][1] - mw) ** 2 for g in stats) / (k - 1)
    lam = sum(
        (1 - w[g] / sw) ** 2 / (stats[g][0] - 1) for g in stats
    )
    f = num / (1 + 2 * (k - 2) / (k * k - 1) * lam)
    df2 = (k * k - 1) / (3 * lam)
    assert r["n"] == 12 and r["k_groups"] == 3
    assert abs(r["f_stat"] - round(f, 6)) < 1e-4
    assert abs(r["df2"] - round(df2, 6)) < 1e-4


def test_welch_anova_robust_where_classic_inflates(spark):
    from conte_to_fresco_etl_spark.operators.robust import (
        one_way_anova, welch_anova,
    )

    # equal means, wildly unequal variances AND sizes: the classic F
    # and Welch F* disagree; Welch must stay small (no mean effect)
    import math

    tight = [("a", 10.0 + 0.01 * math.sin(i)) for i in range(50)]
    wide = [("b", 10.0 + 10.0 * math.sin(i * 1.7)) for i in range(5)]
    df = spark.createDataFrame(tight + wide, "g string, v double")
    w = welch_anova(df, "g", "v").collect()[0]
    assert w["f_stat"] is not None and w["f_stat"] < 4.0
    assert w["df2"] < 10  # df driven by the small noisy group


def test_wasserstein_matches_brute_force(spark):
    """W1 from the prefix-scan segments equals the brute-force
    quantile-coupling integral on a small two-group sample."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.robust import wasserstein_1d

    rng = np.random.default_rng(5)
    a = np.round(rng.normal(10, 2, 40), 4)
    b = np.round(rng.normal(12, 3, 25), 4)
    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    got = wasserstein_1d(df, "g", "v", "a", "b").collect()[0]
    # brute force: integral of |F_a - F_b| over the merged grid
    grid = np.sort(np.unique(np.concatenate([a, b])))
    fa = np.searchsorted(np.sort(a), grid, side="right") / len(a)
    fb = np.searchsorted(np.sort(b), grid, side="right") / len(b)
    w1 = float(np.sum(np.abs(fa[:-1] - fb[:-1]) * np.diff(grid)))
    assert got["n_a"] == 40 and got["n_b"] == 25
    assert abs(got["w1"] - w1) < 1e-4


def test_energy_distance_matches_brute_force(spark):
    """The marginal-collapsed energy distance equals the O(n²)
    pairwise definition (V-statistic form) on a small sample —
    nothing pairwise runs in the operator, so this is the shape
    proof."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.robust import (
        energy_distance_1d,
    )

    rng = np.random.default_rng(9)
    a = np.round(rng.normal(0, 1, 30), 4)
    b = np.round(rng.normal(1, 2, 20), 4)
    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    got = energy_distance_1d(df, "g", "v", "a", "b").collect()[0]
    exy = float(np.abs(a[:, None] - b[None, :]).mean())
    exx = float(np.abs(a[:, None] - a[None, :]).mean())
    eyy = float(np.abs(b[:, None] - b[None, :]).mean())
    assert abs(got["e_xy"] - exy) < 1e-4
    assert abs(got["e_xx"] - exx) < 1e-4
    assert abs(got["e_yy"] - eyy) < 1e-4
    assert abs(got["energy_dist"] - (2 * exy - exx - eyy)) < 1e-4
    # identical distributions -> distance ~ 0
    same = spark.createDataFrame(
        [("a", float(v)) for v in a] + [("b", float(v)) for v in a],
        "g string, v double",
    )
    z = energy_distance_1d(same, "g", "v", "a", "b").collect()[0]
    assert abs(z["energy_dist"]) < 1e-9


def test_brown_forsythe_prefers_median_under_skew(spark):
    """Construct equal-variance-by-median groups where one group has
    heavy right-skew: Brown-Forsythe (median center) must report a
    SMALLER statistic than mean-centered Levene — the robustness the
    variant exists for."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.robust import (
        brown_forsythe,
        levene_test,
    )

    rng = np.random.default_rng(3)
    sym = rng.normal(0, 1, 200)
    skew = np.concatenate([rng.normal(0, 1, 180), rng.lognormal(2, 1, 20)])
    rows = [("sym", float(v)) for v in sym] + [
        ("skew", float(v)) for v in skew
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    bf = brown_forsythe(df, "g", "v").collect()[0]["w_stat"]
    lv = levene_test(df, "g", "v").collect()[0]["w_stat"]
    assert bf is not None and lv is not None
    assert bf < lv


def test_dagostino_k2_flags_heavy_tails(spark):
    """A near-normal group must score a far smaller K² than a
    heavy-tailed one at the same n; both z-components finite."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.robust import dagostino_k2

    rng = np.random.default_rng(11)
    rows = [("norm", float(v)) for v in rng.normal(0, 1, 500)] + [
        ("heavy", float(v)) for v in rng.standard_t(2, 500)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["group"]: r for r in dagostino_k2(df, "g", "v").collect()}
    assert out["norm"]["k2_stat"] < out["heavy"]["k2_stat"]
    for r in out.values():
        assert r["z_skew"] is not None and r["z_kurt"] is not None


def test_chow_detects_planted_break(spark):
    """A noisy slope flip at the known break point must yield a large
    Chow F, a homogeneous noisy series a small one, and a PERFECT
    piecewise fit (zero split SSR) the guarded NULL."""
    import numpy as np
    from pyspark.sql import functions as F

    from conte_to_fresco_etl_spark.operators.robust import chow_test

    rng = np.random.default_rng(7)
    noise = rng.normal(0, 1, 100)
    rows_break = [
        (float(t), float((t if t < 50 else 100 - t) + noise[t]))
        for t in range(100)
    ]
    rows_flat = [
        (float(t), float(2 * t + 1 + noise[t])) for t in range(100)
    ]
    rows_exact = [
        (float(t), float(t if t < 50 else 100 - t)) for t in range(100)
    ]
    db = spark.createDataFrame(rows_break, "x double, v double")
    dfl = spark.createDataFrame(rows_flat, "x double, v double")
    dex = spark.createDataFrame(rows_exact, "x double, v double")
    fb = chow_test(db, F.col("x"), "v", split_at=50.0).collect()[0]
    ff = chow_test(dfl, F.col("x"), "v", split_at=50.0).collect()[0]
    fe = chow_test(dex, F.col("x"), "v", split_at=50.0).collect()[0]
    assert fb["chow_f"] is not None and fb["chow_f"] > 100
    assert ff["chow_f"] is not None and ff["chow_f"] < 5
    assert fe["chow_f"] is None and fe["ssr_split"] == 0.0


def test_alexander_govern_behavior(spark):
    """Equal-mean groups (even with unequal variances) must score a
    far smaller A than groups with a planted mean shift; the perfectly
    balanced two-group case must agree in ORDER with the t-statistic
    intuition."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.robust import alexander_govern

    rng = np.random.default_rng(13)
    null_rows = (
        [("a", float(v)) for v in rng.normal(5, 1, 80)]
        + [("b", float(v)) for v in rng.normal(5, 4, 60)]
        + [("c", float(v)) for v in rng.normal(5, 0.5, 40)]
    )
    alt_rows = (
        [("a", float(v)) for v in rng.normal(5, 1, 80)]
        + [("b", float(v)) for v in rng.normal(8, 4, 60)]
        + [("c", float(v)) for v in rng.normal(2, 0.5, 40)]
    )
    dn = spark.createDataFrame(null_rows, "g string, v double")
    da = spark.createDataFrame(alt_rows, "g string, v double")
    an = alexander_govern(dn, "g", "v").collect()[0]
    aa = alexander_govern(da, "g", "v").collect()[0]
    assert an["k_groups"] == 3 and aa["k_groups"] == 3
    assert an["a_stat"] < 10  # ~ chi2(2) under the null
    assert aa["a_stat"] > 100
    # a singleton group (n=1) is excluded, not NaN-poisoning
    one = spark.createDataFrame(
        null_rows + [("d", 3.0)], "g string, v double"
    )
    ao = alexander_govern(one, "g", "v").collect()[0]
    assert ao["k_groups"] == 3 and ao["a_stat"] is not None


def test_single_task_guard_rejects_misdeclared_graph(spark, monkeypatch):
    """The single-task fixpoint paths are gated by a row cap (r14): a
    caller declaring a non-dimension-sized graph broadcast-able fails
    fast with a descriptive error instead of amplifying through the
    in-task iteration; under the cap the path is unchanged."""
    import pytest

    from conte_to_fresco_etl_spark.operators import graph as gmod

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")

    monkeypatch.setattr(gmod, "_SINGLE_TASK_MAX_ROWS", 2)
    with pytest.raises(Exception, match="NOT dimension-sized"):
        gmod.pagerank(
            df, iterations=2, weight_col=None, broadcast_ranks=True
        ).collect()

    monkeypatch.setattr(gmod, "_SINGLE_TASK_MAX_ROWS", 5_000_000)
    ok = gmod.pagerank(
        df, iterations=2, weight_col=None, broadcast_ranks=True
    ).collect()
    assert len(ok) == 4
