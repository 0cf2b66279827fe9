"""Dedup + similarity operator tests on planted near/exact duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conte_to_fresco_etl_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_duplicate_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from conte_to_fresco_etl_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden trees "
    "under a bright morning sun with soft wind over the quiet hills"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE, "en"),
        (1, BASE, "en"),                                   # exact dup of 0
        (2, BASE.replace("dog", "wolf"), "en"),            # near dup of 0
        (3, "completely different tiny text", "en"),
        (4, "another unrelated document about spark sql engines and "
            "distributed columnar execution at scale", "en"),
        (5, "  The   quick brown fox jumps over the lazy dog while the cat watches "
            "from the warm windowsill and the birds sing in the garden trees "
            "under a bright morning sun with soft wind over the quiet hills ", "en"),
        # whitespace/case variant of 0 -> same normalized fingerprint
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup(docs):
    groups = exact_duplicate_groups(docs).collect()
    dup_groups = [g for g in groups if g["n_dups"] > 1]
    assert len(dup_groups) == 1
    assert dup_groups[0]["n_dups"] == 3          # 0, 1, 5 normalize equal
    assert dup_groups[0]["representative"] == 0


def test_minhash_finds_near_dup(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(docs, threshold=0.3).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs        # one-word edit -> high estimated jaccard
    assert (0, 3) not in pairs and (0, 4) not in pairs


def test_simhash_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in simhash_pairs(docs).collect()}
    assert (0, 1) in pairs        # identical -> hamming 0
    assert (0, 5) in pairs        # same tokens -> hamming 0
    assert (0, 3) not in pairs


def test_ngram_jaccard(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, block_col="lang", threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] < 1.0
    assert (0, 4) not in pairs


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),   # near dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),    # orthogonal
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),   # opposite
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_embedding_neardup(vectors):
    pairs = {(r["id_a"], r["id_b"]) for r in
             embedding_neardup_pairs(vectors, threshold=0.9).collect()}
    assert pairs == {(0, 1)}


def test_embedding_neardup_build_cap_raises(vectors):
    """The all-pairs baseline hard-caps its driver collect: an input
    larger than max_build_rows raises (naming the LSH sibling) instead
    of collecting the corpus or silently truncating the build side."""
    with pytest.raises(ValueError, match="embedding_lsh_neardup_pairs"):
        embedding_neardup_pairs(vectors, threshold=0.9, max_build_rows=3)
    # at exactly the cap it still runs
    pairs = {(r["id_a"], r["id_b"]) for r in
             embedding_neardup_pairs(
                 vectors, threshold=0.9, max_build_rows=5).collect()}
    assert pairs == {(0, 1)}


def test_embedding_lsh_neardup_subset_and_recall(spark, sf_dir):
    """LSH pairs are a subset of brute-force pairs (precision 1: exact
    cosine is applied to candidates) with recall bounded below; at a
    near-dup threshold the band pigeonhole loses little."""
    from conte_to_fresco_etl_spark.operators.dedup import (
        embedding_lsh_neardup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(emb, threshold=0.35).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_lsh_neardup_pairs(emb, threshold=0.35).collect()
    }
    assert lsh <= exact                       # precision 1
    assert len(lsh) / len(exact) >= 0.4       # recall floor at a weak 0.35
    # at a genuinely near-dup threshold the pigeonhole loses little
    exact_hi = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(emb, threshold=0.8).collect()
    }
    if exact_hi:
        lsh_hi = {
            (r["id_a"], r["id_b"])
            for r in embedding_lsh_neardup_pairs(emb, threshold=0.8).collect()
        }
        assert len(lsh_hi) / len(exact_hi) >= 0.9


def test_embedding_lsh_adaptive_bits(spark, sf_dir):
    """Density-adaptive banding: the key width follows log2(n) with the
    documented clamp, the candidate set stays a subset of brute force
    (precision 1 is structural), and near-dup recall survives the wider
    keys.  The fixed-width form measured ~100x pair work at 10x rows in
    the r11 scaling bench — this knob is what makes the operator's
    default query linear at corpus scale."""
    from conte_to_fresco_etl_spark.operators.dedup import (
        embedding_lsh_neardup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    import math

    expect_bits = min(12, max(4, math.ceil(math.log2(n / 64.0))))
    lsh = embedding_lsh_neardup_pairs(
        emb, threshold=0.35, n_planes=48, bands=4,
        adaptive_bits=True, target_bucket=64,
    )
    got = {(r["id_a"], r["id_b"]) for r in lsh.collect()}
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(emb, threshold=0.35).collect()
    }
    assert got <= exact  # precision 1 regardless of banding
    # wider keys must actually narrow the buckets: re-run with the
    # explicit non-adaptive 48/4 (12-bit) form — adaptive at this n is
    # strictly coarser or equal, so its candidate superset holds
    narrow = {
        (r["id_a"], r["id_b"])
        for r in embedding_lsh_neardup_pairs(
            emb, threshold=0.35, n_planes=48, bands=4, adaptive_bits=False
        ).collect()
    }
    assert narrow <= got  # 12-bit buckets are sub-buckets of adaptive
    assert expect_bits <= 12


def test_embedding_lsh_adaptive_is_the_default(spark, sf_dir):
    """The scale-safe banding is the DEFAULT (r12): a direct library
    call with no banding kwargs gets the density-adaptive form — the
    fixed-width form (37x wall-clock at 10x rows in the r11 scaling
    bench) must be an explicit opt-in.  Pinned both by signature
    introspection and by behavior at a plane count where the two forms
    differ."""
    import inspect

    from conte_to_fresco_etl_spark.operators.dedup import (
        embedding_lsh_neardup_pairs,
    )

    sig = inspect.signature(embedding_lsh_neardup_pairs)
    assert sig.parameters["adaptive_bits"].default is True

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # at 48/4 (12-bit segments) and this n, adaptive narrows to
    # clamp(ceil(log2(n/64)), 4, 12) < 12 bits: the default call must
    # produce the adaptive candidate set, not the fixed 12-bit one
    default_pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_lsh_neardup_pairs(
            emb, threshold=0.35, n_planes=48, bands=4
        ).collect()
    }
    adaptive = {
        (r["id_a"], r["id_b"])
        for r in embedding_lsh_neardup_pairs(
            emb, threshold=0.35, n_planes=48, bands=4, adaptive_bits=True
        ).collect()
    }
    assert default_pairs == adaptive


def test_embedding_lsh_max_bucket_skew_guard(spark):
    """A dense cluster floods one bucket; max_bucket drops that bucket
    from the self-join (bounding the pair blowup) while pairs carried
    by other bands survive, and the dropped buckets are exactly
    accountable from the signatures."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.dedup import (
        embedding_lsh_neardup_pairs,
    )

    rng = np.random.default_rng(7)
    base = rng.standard_normal(8)
    # 20 near-identical vectors (one dense cluster) + 4 spread ones
    rows = [
        (i, (base + 0.01 * rng.standard_normal(8)).tolist())
        for i in range(20)
    ] + [(100 + i, rng.standard_normal(8).tolist()) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    unbounded = embedding_lsh_neardup_pairs(
        df, threshold=0.9, dim=8, n_planes=16, bands=4
    ).count()
    capped = embedding_lsh_neardup_pairs(
        df, threshold=0.9, dim=8, n_planes=16, bands=4, max_bucket=10
    ).count()
    assert unbounded == 20 * 19 // 2  # the cluster is all-pairs similar
    assert capped < unbounded  # the flooded buckets were dropped


def test_brute_force_topk(vectors):
    out = brute_force_topk(vectors, vectors.filter(F.col("vec_id") == 0), k=2)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in rows] == [1, 2]
    assert rows[0]["cosine"] > 0.99


def test_lsh_recall_against_exact(spark, sf_dir):
    """LSH top-k recall >= 0.5 vs brute force on real embeddings."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_topk(emb, queries, k=5, dim=64).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_ivf_topk_recall(spark, sf_dir):
    """IVF with a healthy probe count recovers most exact neighbors."""
    from pyspark.sql import functions as F

    from conte_to_fresco_etl_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        train_ivf_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    cents = train_ivf_centroids(emb, n_centroids=8, seed=42)
    assert cents.shape[1] == 64

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, queries, cents, k=5, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, recall

    # full probe degrades to exact search
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, queries, cents, k=5, n_probe=8).collect()
    }
    assert full == exact


def test_seed_centroids_deterministic_and_recall(spark, sf_dir):
    """Hash-seeded centroids are partition-invariant (a pure function of
    the table), and the 4-probe IVF they parameterize still recovers a
    useful share of exact neighbors."""
    import numpy as np
    from pyspark.sql import functions as F

    from conte_to_fresco_etl_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        seed_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = seed_centroids(emb.repartition(1), n_centroids=8)
    b = seed_centroids(emb.repartition(7), n_centroids=8)
    assert a.shape == (8, 64) and np.array_equal(a, b)

    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, queries, a, k=5, n_probe=4).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.5


def test_index_variants_reduce_scored_pairs(spark, sf_dir):
    """The 100 TB claim, measured: LSH and IVF must spend >= 3x fewer
    dot products than brute force on the same workload.  Wall time at
    test SF is session overhead, so the gate is the scored-pair count
    reported by the operators themselves (FLOPs = pairs x dim; the
    index variants' counts INCLUDE their signature/assignment math)."""
    from conte_to_fresco_etl_spark.operators.similarity import (
        ivf_topk,
        train_ivf_centroids,
    )

    sc = spark.sparkContext
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # full-corpus query set: the near-dup-at-scale shape where the
    # index pays for itself (signature cost amortizes over queries)
    queries = emb

    brute_n = sc.accumulator(0)
    brute_force_topk(emb, queries, k=5, pair_counter=brute_n).collect()

    lsh_n = sc.accumulator(0)
    lsh_topk(
        emb, queries, k=5, dim=64, n_planes=16, bands=4, seed=42,
        pair_counter=lsh_n,
    ).collect()

    ivf_n = sc.accumulator(0)
    cents = train_ivf_centroids(emb, n_centroids=16, seed=42)
    ivf_topk(
        emb, queries, cents, k=5, n_probe=2, pair_counter=ivf_n,
    ).collect()

    assert brute_n.value > 0
    assert lsh_n.value * 3 <= brute_n.value, (
        f"LSH scored {lsh_n.value} pairs vs brute {brute_n.value}"
    )
    assert ivf_n.value * 3 <= brute_n.value, (
        f"IVF scored {ivf_n.value} pairs vs brute {brute_n.value}"
    )


def test_connected_components_chain_and_islands(spark):
    """Transitive glue: A~B, B~C, C~D collapse to min-id component; a
    disjoint pair keeps its own label; labels are deterministic mins."""
    from conte_to_fresco_etl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 11)],
        "id_a long, id_b long",
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 10}


def test_connected_components_long_chain_converges(spark):
    """A 12-node path needs ~diameter rounds — the convergence loop must
    actually reach the fixed point, not stop early."""
    from conte_to_fresco_etl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 112)], "id_a long, id_b long"
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert set(comp.values()) == {100}
    assert len(comp) == 13


def test_connected_components_empty(spark):
    from conte_to_fresco_etl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).count() == 0


def test_neardup_components_on_planted_dups(docs):
    """0,1,5 are exact dups and 2 is a near dup of 0: minhash pairs link
    them into one component labeled 0 with 4 members."""
    from conte_to_fresco_etl_spark.operators.dedup import neardup_components

    rows = {r["doc_id"]: r for r in neardup_components(docs).collect()}
    assert rows.keys() == {0, 1, 2, 5}
    for r in rows.values():
        assert r["component"] == 0
        assert r["n_members"] == 4


def test_winnowing_twins_match(spark, sf_dir):
    from conte_to_fresco_etl_spark.operators.dedup import (
        winnowing_fingerprints,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = sorted(map(tuple, winnowing_fingerprints(docs, impl="arrow").collect()))
    e = sorted(map(tuple, winnowing_fingerprints(docs, impl="expr").collect()))
    assert a == e and len(a) > 0


def test_winnowing_shared_substring_guarantee(spark):
    """MOSS guarantee: a common substring of length >= k + window - 1
    (= 8 here) must produce at least one shared fingerprint; disjoint
    texts share none."""
    from conte_to_fresco_etl_spark.operators.dedup import (
        winnowing_fingerprints,
    )

    common = "xqzjvwkp"  # 8 chars = k + window - 1
    rows = [
        (0, f"left padding {common} right padding"),
        (1, f"totally other framing {common} and more words"),
        (2, "no overlap with anything else at all here"),
        (3, "tiny"),  # < k: no fingerprints
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnowing_fingerprints(docs).collect()
    by_doc: dict[int, set] = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[0] & by_doc[1], "shared 8-char substring must collide"
    assert not (by_doc[0] & by_doc[2])
    assert 3 not in by_doc


def test_decontaminate_planted_overlap(spark):
    from conte_to_fresco_etl_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different words entirely here now"),
            (3, "tiny"),  # < 3 tokens: zero grams, trivially clean
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "we saw the quick brown fox yesterday")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in decontaminate(train, ev).collect()}
    assert len(out) == 3
    # shares "the quick brown" and "quick brown fox"
    assert out[1]["contaminated"] is True and out[1]["n_contam"] == 2
    assert out[1]["n_grams"] == 7
    assert out[2]["contaminated"] is False and out[2]["n_contam"] == 0
    assert out[3] ["n_grams"] == 0 and out[3]["contaminated"] is False


def test_decontaminate_bloom_matches_exact(spark):
    """The bloom path is a prefilter + exact confirm: its output must be
    row-for-row identical to the exact broadcast-set path, including the
    FP-prone regime (small bitmap → high collision rate)."""
    from conte_to_fresco_etl_spark.operators.dedup import (
        decontaminate,
        decontaminate_bloom,
    )

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different words entirely here now"),
            (3, "tiny"),
            (4, "another clean document with its own distinct phrasing"),
            (5, "we saw the quick brown fox yesterday at dusk"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "we saw the quick brown fox yesterday")],
        "doc_id long, text string",
    )
    exact = sorted(decontaminate(train, ev).collect())
    for bits in (2, 12):  # 2 bits/gram forces false positives
        bloom = sorted(
            decontaminate_bloom(train, ev, bits_per_gram=bits).collect()
        )
        assert bloom == exact, f"bits_per_gram={bits}"


def test_decontaminate_bloom_empty_eval_set(spark):
    from conte_to_fresco_etl_spark.operators.dedup import decontaminate_bloom

    train = spark.createDataFrame(
        [(1, "some words here now")], "doc_id long, text string"
    )
    ev = spark.createDataFrame([], "doc_id long, text string")
    out = decontaminate_bloom(train, ev).collect()
    assert len(out) == 1
    assert out[0]["contaminated"] is False and out[0]["n_contam"] == 0
    assert out[0]["n_grams"] == 2


def test_knn_classify_planted_clusters(spark):
    from conte_to_fresco_etl_spark.operators.similarity import knn_classify

    # two tight clusters on orthogonal axes, one query near each
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 7), (2, [0.9, 0.1], 7), (3, [1.0, 0.1], 7),
            (4, [0.0, 1.0], 3), (5, [0.1, 0.9], 3), (6, [0.1, 1.0], 3),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    queries = spark.createDataFrame(
        [(100, [0.95, 0.05], None), (200, [0.05, 0.95], None)],
        "vec_id long, embedding array<double>, label int",
    )
    out = {r["query_id"]: r for r in knn_classify(corpus, queries, k=3).collect()}
    assert out[100]["pred_label"] == 7 and out[100]["n_votes"] == 3
    assert out[200]["pred_label"] == 3 and out[200]["n_votes"] == 3


def test_decontaminate_empty_eval_set(spark):
    from conte_to_fresco_etl_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        [(1, "some words here now")], "doc_id long, text string"
    )
    ev = spark.createDataFrame([], "doc_id long, text string")
    out = decontaminate(train, ev).collect()
    assert len(out) == 1
    assert out[0]["contaminated"] is False and out[0]["n_contam"] == 0


def test_knn_classify_k_exceeds_corpus(spark):
    from conte_to_fresco_etl_spark.operators.similarity import knn_classify

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0], 5), (2, [0.9, 0.1], 5)],
        "vec_id long, embedding array<double>, label int",
    )
    queries = spark.createDataFrame(
        [(10, [1.0, 0.05], None)],
        "vec_id long, embedding array<double>, label int",
    )
    out = knn_classify(corpus, queries, k=50).collect()
    assert len(out) == 1
    assert out[0]["pred_label"] == 5 and out[0]["n_votes"] == 2


def test_connected_components_deep_path_converges_or_raises(spark):
    """A 40-node path graph has diameter 39 > the default 30-round
    budget: the loop must fail LOUDLY (silently truncated labels would
    ship a wrong dedup decision), and with a budget past the diameter
    it must converge to a single component labeled by the min node."""
    import pytest

    from conte_to_fresco_etl_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not reach a fixed point"):
        connected_components(pairs, max_iters=30)

    labels = connected_components(pairs, max_iters=45).collect()
    assert len(labels) == 40
    assert {r["component"] for r in labels} == {0}


def test_star_contraction_deep_chain_logarithmic(spark):
    """A 200-node path (diameter 199) must converge well inside 50
    star rounds — the O(log n) contract propagation cannot meet — and
    label every node with the chain's minimum."""
    from conte_to_fresco_etl_spark.operators.dedup import (
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "id_a long, id_b long"
    )
    labels = connected_components_star(pairs).collect()
    assert len(labels) == 200
    assert {r["component"] for r in labels} == {0}


def test_star_contraction_equals_propagation_random_graphs(spark):
    """On random sparse graphs both algorithms must produce identical
    (id, component) tables — star contraction is an optimization, not a
    semantics change."""
    import random

    from conte_to_fresco_etl_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(13)
    for trial in range(3):
        n = 120
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(40, 90))
        ]
        edges = [e for e in edges if e[0] != e[1]]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        via_prop = {
            (r["id"], r["component"])
            for r in connected_components(pairs, max_iters=60).collect()
        }
        via_star = {
            (r["id"], r["component"])
            for r in connected_components_star(pairs).collect()
        }
        assert via_star == via_prop, f"trial {trial} diverged"


def test_star_contraction_handles_self_loops_and_dups(spark):
    from conte_to_fresco_etl_spark.operators.dedup import (
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(5, 5), (1, 2), (2, 1), (1, 2), (7, 9)], "id_a long, id_b long"
    )
    got = {
        (r["id"], r["component"])
        for r in connected_components_star(pairs).collect()
    }
    assert got == {(5, 5), (1, 1), (2, 1), (7, 7), (9, 7)}


def test_editdist_pairs_complete_vs_brute_force(spark):
    """Deletion-neighborhood candidates must be COMPLETE for dist<=1:
    randomized strings verified against a driver-side brute force
    (equal, substitution, insertion/deletion, and empty-string cases
    all reachable)."""
    import itertools
    import random

    from conte_to_fresco_etl_spark.operators.dedup import editdist_pairs

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    rng = random.Random(23)
    alphabet = "ab"
    data = {
        i: "".join(
            rng.choice(alphabet) for _ in range(rng.randrange(0, 5))
        )
        for i in range(80)
    }
    df = spark.createDataFrame(
        list(data.items()), "doc_id long, title string"
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["dist"])
        for r in editdist_pairs(df).collect()
    )
    exp = sorted(
        (a, b, lev(data[a], data[b]))
        for a, b in itertools.combinations(sorted(data), 2)
        if lev(data[a], data[b]) <= 1
    )
    assert got == exp


def test_editdist_pairs_rejects_large_k(spark):
    import pytest

    from conte_to_fresco_etl_spark.operators.dedup import editdist_pairs

    df = spark.createDataFrame([(1, "x")], "doc_id long, title string")
    with pytest.raises(ValueError, match="max_dist 0 or 1"):
        editdist_pairs(df, max_dist=2)


def test_pq_encode_exact_on_codewords(spark):
    """Vectors that ARE codewords reconstruct exactly: ADC distance to a
    query equals the true (rounded) squared L2, and self-codes are 0."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.similarity import (
        pq_codebooks,
        pq_topk,
    )

    rng = np.random.default_rng(3)
    mat = rng.standard_normal((6, 8))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    # k_sub = corpus size: every vector is a selected seed -> exact codes
    cb = pq_codebooks(corpus, m_sub=2, k_sub=6)

    queries = spark.createDataFrame(
        [(100, [float(x) for x in mat[0] + 0.01])],
        "vec_id long, embedding array<double>",
    )
    out = pq_topk(corpus, queries, cb, k=6).collect()
    got = {r["neighbor_id"]: r["approx_d2"] for r in out}
    for i in range(6):
        true_d2 = 0.0
        q = mat[0] + 0.01
        for m in range(2):
            seg_q, seg_v = q[m * 4:(m + 1) * 4], mat[i][m * 4:(m + 1) * 4]
            true_d2 += round(float(((seg_q - seg_v) ** 2).sum()), 6)
        assert abs(got[i] - round(true_d2, 6)) < 1e-9, i
    # nearest neighbor of mat[0]+eps is vector 0
    assert min(out, key=lambda r: r["rank"])["neighbor_id"] == 0


def test_pq_topk_recall_vs_brute_force(spark):
    """On clustered data the compressed-domain top-1 should agree with
    exact search for nearly all queries (PQ's standard recall check)."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.similarity import (
        brute_force_topk,
        pq_codebooks,
        pq_topk,
    )

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((5, 16)) * 4
    rows = []
    for i in range(80):
        rows.append(
            (i, [float(x) for x in centers[i % 5] + rng.standard_normal(16) * 0.05])
        )
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.filter("vec_id % 16 = 0")
    cb = pq_codebooks(corpus, m_sub=4, k_sub=16)
    pq_top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in pq_topk(corpus, queries, cb, k=1).collect()
    }
    # exact top-1 by cosine is in the same cluster; PQ top-1 must be too
    # (cluster separation >> intra-cluster noise >> quantization error)
    exact_top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in brute_force_topk(corpus, queries, k=1).collect()
    }
    same_cluster = sum(
        1 for q in pq_top1 if pq_top1[q] % 5 == exact_top1[q] % 5
    )
    assert same_cluster >= len(pq_top1) - 1


def test_repeated_spans_planted_passage(spark):
    """A 10-token passage shared by two docs surfaces as one maximal
    span in each; islands merge overlapping k-gram cover; unique text
    yields nothing."""
    from conte_to_fresco_etl_spark.operators.dedup import repeated_spans

    passage = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma delta epsilon zeta eta theta {passage} iota kappa"),
            (2, f"{passage} unrelated tail words follow here after this"),
            (3, "totally different text with no repeats at all in it"),
        ],
        "doc_id long, text string",
    )
    out = repeated_spans(docs, k=8, min_count=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 3 not in by_doc
    assert len(by_doc[1]) == 1 and len(by_doc[2]) == 1
    s1, s2 = by_doc[1][0], by_doc[2][0]
    # doc 1: passage occupies tokens 8..17; doc 2: tokens 0..9
    assert (s1["span_start"], s1["span_end"]) == (8, 17)
    assert (s2["span_start"], s2["span_end"]) == (0, 9)
    assert s1["span_text"] == passage and s2["span_text"] == passage
    assert s1["n_tokens"] == 10


def test_repeated_spans_within_doc_repeat(spark):
    """min_count counts total occurrences, so a within-doc repetition
    is marked even with no cross-doc partner."""
    from conte_to_fresco_etl_spark.operators.dedup import repeated_spans

    chunk = "a b c d e f g h"
    docs = spark.createDataFrame(
        [(1, f"{chunk} filler words between the copies {chunk}")],
        "doc_id long, text string",
    )
    out = sorted(
        repeated_spans(docs, k=8, min_count=2).collect(),
        key=lambda r: r["span_start"],
    )
    assert len(out) == 2
    assert out[0]["span_text"] == chunk and out[1]["span_text"] == chunk


def test_ivfpq_recall_and_candidate_reduction(spark, sf_dir):
    """The composed IVF+PQ search keeps useful recall vs exact search
    while scoring strictly fewer pairs than full-scan PQ (the two
    prunings must actually compose)."""
    from conte_to_fresco_etl_spark.operators.similarity import (
        ivfpq_topk,
        pq_codebooks,
        pq_topk,
        seed_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    cents = seed_centroids(emb, n_centroids=8)
    cb = pq_codebooks(emb, m_sub=8, k_sub=16)

    sc = spark.sparkContext
    acc_full, acc_ivf = sc.accumulator(0), sc.accumulator(0)
    full = pq_topk(emb, queries, cb, k=5, pair_counter=acc_full)
    composed = ivfpq_topk(
        emb, queries, cents, cb, k=5, n_probe=4, pair_counter=acc_ivf
    )
    got = {(r["query_id"], r["neighbor_id"]) for r in composed.collect()}
    full_top = {(r["query_id"], r["neighbor_id"]) for r in full.collect()}
    assert acc_ivf.value < acc_full.value / 1.5  # probing prunes pairs
    # recall is judged against FULL-SCAN PQ (same quantized metric), so
    # the measurement isolates the probing loss; PQ-vs-exact-cosine
    # quality on unclustered 64-dim vectors is covered by the planted-
    # cluster test above, where structure exists for PQ to preserve.
    recall = len(full_top & got) / len(full_top)
    assert recall >= 0.4, recall


def test_semantic_dedup_planted_neighborhoods(spark):
    import numpy as np

    from conte_to_fresco_etl_spark.operators.similarity import semantic_dedup

    # two orthogonal clusters; within cluster 0, vectors 0/1/2 are a
    # tight neighborhood and 3 is distinct; cluster 1 has one tight pair
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.05, 0.0, 0.0]),   # near 0 -> dropped
        (2, [0.98, 0.1, 0.0, 0.0]),    # near 0/1 -> dropped
        (3, [0.5, -0.86, 0.0, 0.0]),   # same cluster, not near
        (10, [0.0, 0.0, 1.0, 0.0]),
        (11, [0.0, 0.0, 0.99, 0.1]),   # near 10 -> dropped
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    cents = np.array([[1.0, 0.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]])
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(corpus, cents, threshold=0.9).collect()
    }
    assert out[0]["keep"] is True
    assert out[1]["keep"] is False and out[2]["keep"] is False
    assert out[3]["keep"] is True          # same cluster, below threshold
    assert out[10]["keep"] is True and out[11]["keep"] is False
    assert out[3]["cluster"] == out[0]["cluster"]
    assert out[10]["cluster"] != out[0]["cluster"]


def test_minhash_signatures_all_short_batch(spark):
    """A batch where every document is below the shingle length must
    yield no rows — not crash on an empty Arrow list column."""
    from conte_to_fresco_etl_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [(1, "ab"), (2, "x"), (3, None)], "doc_id long, text string"
    )
    assert minhash_signatures(docs, shingle_n=5).collect() == []


def test_ann_index_persistence_round_trip(spark, sf_dir, tmp_path):
    """Quantizer persistence: train once, save, reload — arrays are
    bit-identical, a second serve skips retraining entirely (proved by
    poisoning the trainer), results match the unpersisted path, and a
    corpus change flips the fingerprint so the stale index is NOT
    reused."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    idx = str(tmp_path / "ann_idx")

    cents = sim.train_ivf_centroids(emb, n_centroids=8, iters=10, seed=42)
    cbs = sim.pq_codebooks(emb, m_sub=8, k_sub=16)
    fp = sim.corpus_fingerprint(emb)
    sim.save_index(spark, idx, centroids=cents, codebooks=cbs, fingerprint=fp)
    loaded = sim.load_index(spark, idx)
    assert np.array_equal(loaded["centroids"], cents)
    assert np.array_equal(loaded["codebooks"], cbs)
    assert loaded["fingerprint"] == fp

    direct = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in sim.ivf_topk(emb, queries, cents, k=5, n_probe=4).collect()
    )
    serve1 = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in sim.served_ivf_topk(
            emb, queries, index_path=idx, n_centroids=8, k=5, n_probe=4
        ).collect()
    )
    assert serve1 == direct

    # second serve must go through the persisted index, never the trainer
    real_trainer = sim.train_ivf_centroids

    def _poisoned(*a, **kw):
        raise AssertionError("retrained despite a fresh persisted index")

    sim.train_ivf_centroids = _poisoned
    try:
        serve2 = sorted(
            (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
            for r in sim.served_ivf_topk(
                emb, queries, index_path=idx, n_centroids=8, k=5, n_probe=4
            ).collect()
        )
        assert serve2 == direct
        # a drifted corpus must flip the fingerprint and force a retrain
        drifted = emb.withColumn(
            "embedding", F.transform("embedding", lambda x: x * 2.0)
        )
        with pytest.raises(AssertionError, match="retrained"):
            sim.served_ivf_topk(
                drifted, queries, index_path=idx, n_centroids=8, k=5,
                n_probe=4,
            )
    finally:
        sim.train_ivf_centroids = real_trainer


def test_ann_single_vector_mutation_forces_retrain(spark, sf_dir, tmp_path):
    """Index staleness, minimal-change edition: mutating ONE component
    of ONE corpus vector must flip the fingerprint and retrain — the
    inverse of the serve-twice guarantee.  The fingerprint is a
    per-row hash sum, so any single-row drift changes it; a coarser
    fingerprint (count, norms, means) could silently serve stale
    centroids.  After the forced retrain, the served results must
    equal ivf_topk over centroids freshly trained on the MUTATED
    corpus — staleness detection has to produce the right answer, not
    just detect."""
    from conte_to_fresco_etl_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    idx = str(tmp_path / "ann_idx_mut")

    # cold start trains and persists for the pristine corpus
    sim.served_ivf_topk(
        emb, queries, index_path=idx, n_centroids=8, k=5, n_probe=4
    ).collect()
    fp0 = sim.load_index(spark, idx)["fingerprint"]

    # one vector, one component, +1.0 — the smallest corpus drift
    mutated = emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") == 7,
            F.concat(
                F.array(F.element_at("embedding", 1) + F.lit(1.0)),
                F.slice("embedding", 2, F.size("embedding") - 1),
            ),
        ).otherwise(F.col("embedding")),
    )
    assert sim.corpus_fingerprint(mutated) != fp0

    calls = {"n": 0}
    real_trainer = sim.train_ivf_centroids

    def _counting(*a, **kw):
        calls["n"] += 1
        return real_trainer(*a, **kw)

    sim.train_ivf_centroids = _counting
    try:
        served = sorted(
            (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
            for r in sim.served_ivf_topk(
                mutated, queries, index_path=idx, n_centroids=8, k=5,
                n_probe=4,
            ).collect()
        )
    finally:
        sim.train_ivf_centroids = real_trainer
    assert calls["n"] == 1, "stale index served despite a mutated corpus"
    # the persisted state now belongs to the mutated corpus…
    assert sim.load_index(spark, idx)["fingerprint"] == \
        sim.corpus_fingerprint(mutated)
    # …and the answer equals fresh training on the mutated corpus
    fresh = sim.train_ivf_centroids(
        mutated, n_centroids=8, iters=10, seed=42
    )
    direct = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in sim.ivf_topk(
            mutated, queries, fresh, k=5, n_probe=4
        ).collect()
    )
    assert served == direct


# ---------------------------------------------------------------------------
# TF-IDF cosine similarity join
# ---------------------------------------------------------------------------

def test_tfidf_cosine_matches_numpy_reference(spark):
    """The posting-join cosine equals a dense numpy TF-IDF cosine on the
    same capped vocabulary; twins score high, disjoint docs never pair."""
    import math
    from collections import Counter

    import numpy as np

    from conte_to_fresco_etl_spark.operators.dedup import tfidf_cosine_pairs

    docs = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),  # near-twin
        (3, "one two three four five six seven eight"),
        (4, "alpha beta gamma nine ten eleven twelve thirteen"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in tfidf_cosine_pairs(df, threshold=0.01, df_frac_cap=0.6)
        .collect()
    }

    def shingles(text):
        ts = text.split()
        return {" ".join(ts[i : i + 3]) for i in range(len(ts) - 2)}

    sets = {i: shingles(t) for i, t in docs}
    n = len(sets)
    dfreq = Counter(tok for s in sets.values() for tok in s)
    cap = math.floor(0.6 * n)
    vocab = sorted(t for t, d in dfreq.items() if d <= cap)
    w2 = {
        t: round(math.log(n / dfreq[t]) ** 2, 9) for t in vocab
    }
    exp = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            shared = (sets[a] & sets[b]) & set(vocab)
            if not shared:
                continue
            dot = float(sum(w2[t] for t in shared))
            na = math.sqrt(float(sum(w2[t] for t in sets[a] if t in w2)))
            nb = math.sqrt(float(sum(w2[t] for t in sets[b] if t in w2)))
            c = round(dot / (na * nb), 6)
            if c >= 0.01:
                exp[(a, b)] = c
    assert out == exp
    assert (1, 2) in out  # the near-twin pair
    assert (1, 3) not in out  # disjoint docs share no posting
    assert out[(1, 2)] > out.get((1, 4), 0.0)


def test_pca_top_component_recovers_planted_direction(spark):
    """Vectors = t * w + small orthogonal noise: the dominant variance
    direction is w, so the power iterate must align with it (|cos| > 0.99),
    the eigenvalue must approximate the planted variance, and the loading
    vector must be unit-norm."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.similarity import (
        pca_top_component,
    )

    rng = np.random.default_rng(7)
    d = 8
    w = np.zeros(d)
    w[2], w[5] = 0.8, 0.6  # unit planted direction
    t = rng.normal(0.0, 2.0, size=200)  # dominant variance ~4 along w
    noise = rng.normal(0.0, 0.05, size=(200, d))
    mat = t[:, None] * w[None, :] + noise
    rows = [(int(i), [float(x) for x in mat[i]]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    out = pca_top_component(df, "embedding", dim=d, iterations=10)
    got = {r["dim"]: r for r in out.collect()}
    assert len(got) == d
    v = np.array([got[i + 1]["loading"] for i in range(d)])
    assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-3
    assert abs(float(v @ w)) > 0.99
    eig = got[1]["eigval"]
    emp = float(((mat - mat.mean(axis=0)) @ w).var(ddof=1))
    assert abs(eig - emp) / emp < 0.05
    share = got[1]["var_share"]
    assert 0.9 < share <= 1.0  # noise dims carry ~tiny variance


def test_random_projection_preserves_distances(spark):
    """JL property on seeded Rademacher signs: pairwise squared
    distances in the projected space approximate the originals (within
    loose distortion for d_out=32), and the operator output is exactly
    the literal sign-matrix product."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.similarity import (
        rademacher_signs,
        random_projection,
    )

    rng = np.random.default_rng(11)
    n, d_in, d_out = 40, 64, 32
    mat = rng.normal(size=(n, d_in))
    rows = [(int(i), [float(x) for x in mat[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = random_projection(df, in_dim=d_in, out_dim=d_out, seed="t")
    got = out.collect()
    assert len(got) == n * d_out
    proj = np.zeros((n, d_out))
    for r in got:
        proj[r["id"], r["k"] - 1] = r["y"]
    s = np.array(rademacher_signs("t", d_out, d_in), dtype=np.float64)
    # float32 ingestion: compare against the float32-rounded matrix
    expected = (mat.astype(np.float32).astype(np.float64) @ s.T) / np.sqrt(
        d_out
    )
    assert np.abs(proj - expected).max() < 1e-5
    # distance preservation (loose JL bound for this d_out)
    a, b = mat.astype(np.float32).astype(np.float64)[:2]
    orig = float(((a - b) ** 2).sum())
    red = float(((proj[0] - proj[1]) ** 2).sum())
    assert 0.4 * orig < red < 1.6 * orig


def test_margin_mining_hand_computed_and_hubness(spark):
    """The ratio margin matches a hand computation on a tiny geometry,
    and it demotes a hub: a corpus vector moderately close to EVERY
    query loses to a vector that is distinctively close to one query,
    even when the hub's raw cosine is higher."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.similarity import margin_mining

    # queries along axes; hub at the diagonal (cos ~0.707 to both
    # queries), specialist near axis 0 (cos ~0.995 to q0, ~0.1 to q1)
    q = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    c = [
        (10, [1.0, 0.1]),            # specialist for q0
        (11, [1.0, 1.0]),            # hub
        (12, [0.3, 1.0]),            # specialist-ish for q1
    ]
    qdf = spark.createDataFrame(q, "vec_id long, embedding array<double>")
    cdf = spark.createDataFrame(c, "vec_id long, embedding array<double>")
    got = {
        r["query_id"]: r
        for r in margin_mining(cdf, qdf, k=2, threshold=0.0).collect()
    }
    # hand computation in the operator's own integer-micro units
    def cos6(a, b):
        a, b = np.array(a), np.array(b)
        return round(
            float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6
        )

    cosm = {
        (qi, ci): int(round(cos6(qv, cv) * 1e6))
        for qi, qv in q
        for ci, cv in c
    }
    # forward top-2 sums per query, backward top-2 sums per corpus row
    fs = {
        qi: sum(sorted((cosm[(qi, ci)] for ci, _ in c), reverse=True)[:2])
        for qi, _ in q
    }
    bs = {
        ci: sum(sorted((cosm[(qi, ci)] for qi, _ in q), reverse=True)[:2])
        for ci, _ in c
    }
    def margin(qi, ci):
        return round(2 * cosm[(qi, ci)] * 2 * 2 / (fs[qi] * 2 + bs[ci] * 2), 6)

    for qi, _ in q:
        best = max(
            ((margin(qi, ci), -ci) for ci, _ in c),
        )
        assert got[qi]["neighbor_id"] == -best[1]
        assert got[qi]["margin"] == best[0]
    # hubness: q0's raw-cosine order prefers the specialist anyway here,
    # but for q1 the hub (cos .707) loses to vec 12 (cos .958) AND the
    # hub's margin against q1 is below the specialist's
    assert got[1]["neighbor_id"] == 12
    assert margin(1, 11) < margin(1, 12)


from hypothesis import given, settings, strategies as st  # noqa: E402

_vec3 = st.lists(
    st.integers(-8, 8).map(float), min_size=3, max_size=3
).filter(lambda v: any(x != 0 for x in v))
_margin_inputs = st.tuples(
    st.lists(_vec3, min_size=2, max_size=3),   # queries
    st.lists(_vec3, min_size=3, max_size=7),   # corpus
)


@settings(max_examples=8, deadline=None)
@given(_margin_inputs)
def test_margin_mining_matches_numpy_twin(spark, inputs):
    """margin_mining == a numpy twin that mirrors the integer
    micro-cosine pipeline (round-6 cosines, top-k by (cos desc, id
    asc), integer neighborhood sums, one double division) on random
    small geometries."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.similarity import margin_mining

    qs, cs = inputs
    k = 2
    qdf = spark.createDataFrame(
        list(enumerate(qs)), "vec_id long, embedding array<double>"
    )
    cdf = spark.createDataFrame(
        [(100 + i, v) for i, v in enumerate(cs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["query_id"]: (r["neighbor_id"], r["cosine"], r["margin"])
        for r in margin_mining(cdf, qdf, k=k, threshold=-1e9).collect()
    }

    def cosm(a, b):
        a, b = np.array(a), np.array(b)
        den = np.linalg.norm(a) * np.linalg.norm(b)
        c = float(a @ b / den) if den else 0.0
        return int(round(round(c, 6) * 1e6))

    M = {
        (qi, 100 + ci): cosm(qv, cv)
        for qi, qv in enumerate(qs)
        for ci, cv in enumerate(cs)
    }
    def topk_sum(items):  # items: [(cos_micro, id)] -> sum of top-k
        return sum(
            c for c, _ in sorted(items, key=lambda t: (-t[0], t[1]))[:k]
        )

    fs = {
        qi: topk_sum([(M[(qi, 100 + ci)], 100 + ci) for ci in range(len(cs))])
        for qi in range(len(qs))
    }
    fc = {qi: min(k, len(cs)) for qi in fs}
    bs = {
        100 + ci: topk_sum([(M[(qi, 100 + ci)], qi) for qi in range(len(qs))])
        for ci in range(len(cs))
    }
    bc = {ci: min(k, len(qs)) for ci in bs}
    expect = {}
    for qi in range(len(qs)):
        # candidates = qi's forward top-k; best margin, id tie-break
        cand = sorted(
            ((M[(qi, 100 + ci)], 100 + ci) for ci in range(len(cs))),
            key=lambda t: (-t[0], t[1]),
        )[:k]
        best = None
        for cm, nid in cand:
            den = fs[qi] * bc[nid] + bs[nid] * fc[qi]
            if den <= 0:
                continue
            margin = round(2 * cm * fc[qi] * bc[nid] / den, 6)
            key = (-margin, nid)
            if best is None or key < best[0]:
                best = (key, nid, cm / 1e6, margin)
        if best is not None:
            expect[qi] = (best[1], round(best[2], 6), best[3])
    assert set(got) == set(expect)
    for qi, (nid, cos, margin) in expect.items():
        assert got[qi][0] == nid, qi
        assert got[qi][2] == margin, qi
        assert abs(got[qi][1] - cos) < 1e-9, qi


# ---------------------------------------------------------------------------
# r9 deferred wave: clustering-evaluation indices
# ---------------------------------------------------------------------------


def _cluster_fixture(spark, tight: bool):
    # two 2-d clusters; tight=True separates them far apart
    gap = 100.0 if tight else 0.5
    rows = []
    for i in range(8):
        rows.append((i, [0.0 + 0.1 * i, 0.0], 0))
        rows.append((100 + i, [gap + 0.1 * i, gap], 1))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_calinski_harabasz_separation_monotone(spark):
    from conte_to_fresco_etl_spark.operators.similarity import (
        calinski_harabasz,
    )

    good = calinski_harabasz(_cluster_fixture(spark, True)).collect()[0]
    bad = calinski_harabasz(_cluster_fixture(spark, False)).collect()[0]
    assert good["n"] == 16 and good["k"] == 2
    assert good["ch_stat"] > 100 * bad["ch_stat"]
    # same within-scatter up to the ROUND(6) centroid pin (the float32
    # inputs land on different representable values after the shift)
    assert abs(good["w_disp"] - bad["w_disp"]) < 1e-4


def test_davies_bouldin_lower_is_better(spark):
    from conte_to_fresco_etl_spark.operators.similarity import (
        davies_bouldin,
    )

    good = davies_bouldin(_cluster_fixture(spark, True)).collect()[0]
    bad = davies_bouldin(_cluster_fixture(spark, False)).collect()[0]
    assert good["k"] == 2
    assert good["db_index"] < bad["db_index"] / 10


def test_silhouette_bounds_and_separation(spark):
    from conte_to_fresco_etl_spark.operators.similarity import (
        simplified_silhouette,
    )

    good = {
        r["label"]: r["mean_silhouette"]
        for r in simplified_silhouette(
            _cluster_fixture(spark, True)
        ).collect()
    }
    bad = {
        r["label"]: r["mean_silhouette"]
        for r in simplified_silhouette(
            _cluster_fixture(spark, False)
        ).collect()
    }
    for lbl in (0, 1):
        assert -1.0 <= bad[lbl] <= good[lbl] <= 1.0
        assert good[lbl] > 0.99  # far-apart clusters: s -> 1


def test_hard_negative_topk_lsh_contract(spark, sf_dir):
    """The LSH miner obeys the hard-negative contract on real data:
    every returned neighbor carries a DIFFERENT label than its anchor,
    ranks are dense 1..<=k per anchor ordered by (cosine desc, id asc),
    the result is a label-filtered subset of the LSH candidate space
    (precision 1 on scores: exact cosine is applied), and the whole
    pipeline is deterministic across invocations."""
    from conte_to_fresco_etl_spark.operators.similarity import (
        hard_negative_topk,
        hard_negative_topk_lsh,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    labels = {r["vec_id"]: r["label"] for r in emb.collect()}
    out = hard_negative_topk_lsh(
        emb, F.col("vec_id") % 100 == 0, k=5
    ).collect()
    assert out, "miner returned nothing on the fixture corpus"
    by_q: dict = {}
    for r in out:
        assert labels[r["neighbor_id"]] != labels[r["query_id"]]
        assert r["neighbor_label"] == labels[r["neighbor_id"]]
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        ordered = sorted(
            rows, key=lambda r: (-r["cosine"], r["neighbor_id"])
        )
        assert [r["neighbor_id"] for r in ordered] == [
            r["neighbor_id"] for r in rows
        ]
    # determinism (seeded planes, count-derived bits)
    again = hard_negative_topk_lsh(
        emb, F.col("vec_id") % 100 == 0, k=5
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # the exact miner at the same anchors: any LSH hit it also returns
    # must agree on the score (precision of the rescoring)
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in hard_negative_topk(
            emb, F.col("vec_id") % 100 == 0, k=5
        ).collect()
    }
    for r in out:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:
            assert abs(exact[key] - r["cosine"]) < 1e-9


def test_resolve_n_centroids_auto(spark, sf_dir):
    """n_centroids='auto' resolves to clamp(round(sqrt(n)), 8, 65536) —
    the IVF sizing rule the r11 scaling bench motivated (fixed-size
    quantizers make probe cost approach brute force as n grows)."""
    import math

    from conte_to_fresco_etl_spark.operators.similarity import (
        resolve_n_centroids,
        seed_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    want = min(65536, max(8, round(math.sqrt(n))))
    assert resolve_n_centroids(emb, "auto") == want
    assert resolve_n_centroids(emb, 8) == 8  # ints pass through
    with pytest.raises(ValueError, match="auto"):
        resolve_n_centroids(emb, "sqrt")
    cents = seed_centroids(emb, n_centroids="auto")
    assert cents.shape[0] == want


def test_trained_and_served_auto_quantizer_agree(spark, sf_dir, tmp_path):
    """The r12 migration contract: with n_centroids='auto' the trained
    path sizes its quantizer clamp(round(sqrt n), 8, 65536) from the
    corpus count, the served path (train -> parquet -> reload) returns
    bit-identical results, and the quantizer actually HAS sqrt(n)
    cells — the property that keeps per-probe work O(sqrt n) instead
    of O(n/8)."""
    import math

    from conte_to_fresco_etl_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    n = emb.filter(F.col("embedding").isNotNull()).count()
    want_k = min(65536, max(8, round(math.sqrt(n))))

    cents = sim.train_ivf_centroids(emb, n_centroids="auto", iters=10,
                                    seed=42)
    assert cents.shape[0] == want_k

    direct = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in sim.ivf_topk(emb, queries, cents, k=5, n_probe=4).collect()
    )
    idx = str(tmp_path / "auto_idx")
    served = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in sim.served_ivf_topk(
            emb, queries, index_path=idx, n_centroids="auto", k=5, n_probe=4
        ).collect()
    )
    assert served == direct
    # the persisted quantizer is the sqrt(n)-sized one
    assert sim.load_index(spark, idx)["centroids"].shape[0] == want_k


def test_inverted_probe_index_equals_mask_formulation():
    """Property check (NumPy-only, no Spark): the r12 inverted-probe
    candidate generation produces EXACTLY the candidate set of the
    O(batch x queries) mask it replaced, for random probe tables and
    assignments — the defense-in-depth twin of the end-to-end oracle
    parity on the IVF family."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.similarity import (
        _slice_gather,
    )

    rng = np.random.default_rng(7)
    for _ in range(25):
        n_cents = int(rng.integers(1, 40))
        n_q = int(rng.integers(0, 60))
        n_probe = int(rng.integers(1, min(n_cents, 6) + 1))
        m = int(rng.integers(0, 80))
        # distinct probed centroids per query (as argsort produces)
        probes = np.empty((n_q, n_probe), dtype=np.int64)
        for q in range(n_q):
            probes[q] = rng.choice(n_cents, size=n_probe, replace=False)
        c_assign = rng.integers(0, n_cents, size=m).astype(np.int64)

        # reference: the old mask
        mask = (
            c_assign[:, None, None] == probes[None, :, :]
        ).any(axis=2) if m and n_q else np.zeros((m, n_q), dtype=bool)
        ref = set(zip(*np.nonzero(mask)))

        # new: inverted index + slice gather
        flat_c = probes.ravel()
        flat_q = np.repeat(np.arange(n_q, dtype=np.int64), n_probe)
        order = np.argsort(flat_c, kind="stable")
        inv_q = flat_q[order]
        bounds = np.searchsorted(
            flat_c[order], np.arange(n_cents + 1)
        ).astype(np.int64)
        starts = bounds[c_assign]
        counts = bounds[c_assign + 1] - starts
        ci, flat = _slice_gather(starts, counts)
        got = set(zip(ci.tolist(), inv_q[flat].tolist()))

        assert got == ref


# ---------------------------------------------------------------------------
# r13: incremental serving-index append + ANN-backed classification
# ---------------------------------------------------------------------------

def test_append_index_matches_one_shot_build(spark, sf_dir, tmp_path):
    """append_index under a FROZEN quantizer must be invisible to the
    serve: the appended cell layout yields bit-identical results to a
    one-shot build of the full corpus under the same centroids, and
    the additively merged meta fingerprint equals the full corpus's
    own fingerprint (so served_ivf_topk recognizes the appended index
    as fresh)."""
    from conte_to_fresco_etl_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    idx = str(tmp_path / "incr_idx")

    cents = sim.seed_centroids(base, n_centroids="auto")
    sim.save_index(
        spark, idx,
        centroids=cents,
        fingerprint=sim.corpus_fingerprint(base),
        assigned=sim.assign_cells(base, cents),
    )
    sim.append_index(spark, idx, batch)

    state = sim.load_index(spark, idx)
    assert state["fingerprint"] == sim.corpus_fingerprint(emb)

    stored = spark.read.parquet(state["assigned_path"])
    n_emb = emb.filter(F.col("embedding").isNotNull()).count()
    assert stored.count() == n_emb

    served = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in sim.ivf_topk_preassigned(
            stored, queries, cents, k=5, n_probe=4
        ).collect()
    )
    one_shot = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in sim.ivf_topk_preassigned(
            sim.assign_cells(emb, cents), queries, cents, k=5, n_probe=4
        ).collect()
    )
    direct = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in sim.ivf_topk(emb, queries, cents, k=5, n_probe=4).collect()
    )
    assert served == one_shot == direct

    # and a full served_ivf_topk over the appended index takes the warm
    # path without retraining (merged fingerprint == full fingerprint)
    real_trainer = sim.train_ivf_centroids

    def _poisoned(*a, **kw):
        raise AssertionError("retrained despite a freshly appended index")

    sim.train_ivf_centroids = _poisoned
    try:
        warm = sorted(
            (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
            for r in sim.served_ivf_topk(
                emb, queries, index_path=idx, n_centroids="auto",
                k=5, n_probe=4,
            ).collect()
        )
    finally:
        sim.train_ivf_centroids = real_trainer
    assert warm == direct


def test_append_index_requires_built_layout(spark, sf_dir, tmp_path):
    """Appending into an index that has no centroids, or no stored cell
    layout, is a caller error — loud, never a silent partial write."""
    from conte_to_fresco_etl_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    batch = emb.filter(F.col("vec_id") % 4 == 0)

    bare = str(tmp_path / "bare_idx")
    sim.save_index(spark, bare, fingerprint="0:0")
    with pytest.raises(ValueError, match="no centroids"):
        sim.append_index(spark, bare, batch)

    cents_only = str(tmp_path / "cents_idx")
    cents = sim.seed_centroids(emb, n_centroids=8)
    sim.save_index(spark, cents_only, centroids=cents, fingerprint="0:0")
    with pytest.raises(ValueError, match="no stored corpus layout"):
        sim.append_index(spark, cents_only, batch)


def test_merge_fingerprints_is_additive(spark, sf_dir):
    """The count:sum fingerprint merges additively over disjoint
    batches — the O(batch) identity update append_index relies on."""
    from conte_to_fresco_etl_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = sim.corpus_fingerprint(emb.filter(F.col("vec_id") % 4 != 0))
    b = sim.corpus_fingerprint(emb.filter(F.col("vec_id") % 4 == 0))
    assert sim._merge_fingerprints(a, b) == sim.corpus_fingerprint(emb)
    assert sim._merge_fingerprints(None, b) is None
    assert sim._merge_fingerprints("2:-7", "3:10") == "5:3"


def test_served_degrades_when_corpus_layout_missing(spark, sf_dir, tmp_path):
    """An index whose meta says assigned=1 but whose corpus/ dir is
    gone (partial copy, hand-pruned checkout) must degrade to the
    corpus-side search like every other corruption path — same
    results, no raise."""
    import shutil

    from conte_to_fresco_etl_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    idx = str(tmp_path / "pruned_idx")

    healthy = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in sim.served_ivf_topk(
            emb, queries, index_path=idx, n_centroids=8, k=5, n_probe=4
        ).collect()
    )
    shutil.rmtree(f"{idx}/corpus")
    degraded = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in sim.served_ivf_topk(
            emb, queries, index_path=idx, n_centroids=8, k=5, n_probe=4
        ).collect()
    )
    assert degraded == healthy


def test_cell_write_tasks_parses_defensively():
    """Non-integer spark.sql.shuffle.partitions values (e.g. "auto" on
    AQE-managed deployments) fall back to default parallelism instead
    of breaking index saves."""
    from conte_to_fresco_etl_spark.operators.similarity import (
        _cell_write_tasks,
    )

    assert _cell_write_tasks("64", 8) == 64
    assert _cell_write_tasks("auto", 8) == 8
    assert _cell_write_tasks(None, 8) == 8


def test_preassigned_full_probe_matches_corpus_side(spark, sf_dir):
    """n_probe >= n_centroids probes every list: the preassigned path
    must take the same full-probe matmul branch as ivf_topk and (by
    the q_ivf_exhaustive argument) reproduce exact search."""
    from conte_to_fresco_etl_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    cents = sim.seed_centroids(emb, n_centroids=8)
    pre = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in sim.ivf_topk_preassigned(
            sim.assign_cells(emb, cents), queries, cents, k=5, n_probe=8
        ).collect()
    )
    exact = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in sim.brute_force_topk(emb, queries, k=5).collect()
    )
    assert pre == exact


def test_knn_classify_ivf_full_probe_equals_exact(spark, sf_dir):
    """The ANN-backed classifier with n_probe >= n_centroids provably
    degrades to the exact vote — the full-probe exactness trick that
    makes the approximate path's machinery hard-checkable."""
    from conte_to_fresco_etl_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") % 50 != 0)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = sorted(
        (r["query_id"], r["pred_label"], r["n_votes"])
        for r in sim.knn_classify(corpus, queries, k=10).collect()
    )
    full_probe = sorted(
        (r["query_id"], r["pred_label"], r["n_votes"])
        for r in sim.knn_classify(
            corpus, queries, k=10, method="ivf", n_centroids=8, n_probe=8
        ).collect()
    )
    assert full_probe == exact

    with pytest.raises(ValueError, match="method"):
        sim.knn_classify(corpus, queries, method="annoy")


def test_knn_classify_ivf_recall(spark, sf_dir):
    """The ANN classifier must track the exact vote as probes widen —
    the classifier analog of the ANN recall tests.  The test table's
    embeddings are near-random, so a 10-vote majority is knife-edge
    and low-probe agreement is noisy by construction (real clustered
    embeddings concentrate neighbors in few cells); the quality bar is
    therefore set at a high-probe point (16 of ~22 auto centroids),
    with every query answered at any probe width."""
    from conte_to_fresco_etl_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") % 50 != 0)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = {
        r["query_id"]: r["pred_label"]
        for r in sim.knn_classify(corpus, queries, k=10).collect()
    }
    low = {
        r["query_id"]: r["pred_label"]
        for r in sim.knn_classify(
            corpus, queries, k=10, method="ivf", n_centroids="auto",
            n_probe=4,
        ).collect()
    }
    assert set(low) == set(exact)  # every query answered even at 4 probes
    wide = {
        r["query_id"]: r["pred_label"]
        for r in sim.knn_classify(
            corpus, queries, k=10, method="ivf", n_centroids="auto",
            n_probe=16,
        ).collect()
    }
    assert set(wide) == set(exact)
    agree = sum(1 for q in exact if wide[q] == exact[q])
    assert agree / len(exact) >= 0.7, f"{agree}/{len(exact)} labels agree"


# ---------------------------------------------------------------------------
# r13: auto-widened adaptive banding (the segment-cap cliff fix)
# ---------------------------------------------------------------------------

def test_adaptive_band_geometry_widens_past_segment_cap():
    """Below the cliff the geometry is untouched; past it the segment
    (and the plane set) widen to the demanded key width; with
    auto_widen=False the demand clamps to the segment and a LOUD
    warning marks the envelope edge — never a silent re-entry into the
    quadratic regime."""
    import warnings

    from conte_to_fresco_etl_spark.operators.similarity import (
        adaptive_band_geometry,
    )

    # library default geometry, below the cliff: unchanged
    assert adaptive_band_geometry(20_000, 48, 4, 64, 4) == (12, 9, 48)
    assert adaptive_band_geometry(200_000, 48, 4, 64, 4) == (12, 12, 48)
    # just past the 64 * 2^12 cliff: 13-bit demand widens to 4x13 planes
    assert adaptive_band_geometry(300_000, 48, 4, 64, 4) == (13, 13, 52)
    # a decade later: keeps tracking density
    assert adaptive_band_geometry(3_000_000, 48, 4, 64, 4) == (16, 16, 64)
    # tiny corpus: floor at min_bits
    assert adaptive_band_geometry(10, 48, 4, 64, 4) == (12, 4, 48)
    # capped form warns loudly instead of widening
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = adaptive_band_geometry(300_000, 48, 4, 64, 4, auto_widen=False)
    assert got == (12, 12, 48)
    assert any("n_planes" in str(x.message) for x in w)


def test_neardup_autowiden_below_cliff_is_identical(spark, sf_dir):
    """Auto-widening must be invisible below the cliff: the default
    call and auto_widen=False produce the same pairs when the demanded
    width fits the configured segments (bit-identity of the r13
    per-band-key rewrite with the r12 packed-signature form is pinned
    by the q_embedding_neardup_lsh oracle, whose literals predate the
    rewrite)."""
    from conte_to_fresco_etl_spark.operators.dedup import (
        embedding_lsh_neardup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    widened = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in embedding_lsh_neardup_pairs(
            emb, threshold=0.35, n_planes=48, bands=4
        ).collect()
    }
    capped = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in embedding_lsh_neardup_pairs(
            emb, threshold=0.35, n_planes=48, bands=4, auto_widen=False
        ).collect()
    }
    assert widened == capped


def test_neardup_autowiden_keeps_precision_and_bounds_buckets(spark, sf_dir):
    """With a geometry that forces widening at test size (4-bit
    segments, target bucket 2), the widened form must (a) stay a
    subset of the exact pairs (precision 1) and (b) surface far fewer
    pairs than the capped 4-bit form — the whole point of widening is
    a growing key space (the sets are NOT nested: widening shifts
    bands 1.. onto new segment boundaries, so only the volume claim
    holds)."""
    from conte_to_fresco_etl_spark.operators.dedup import (
        embedding_lsh_neardup_pairs,
        embedding_neardup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    widened = {
        (r["id_a"], r["id_b"])
        for r in embedding_lsh_neardup_pairs(
            emb, threshold=0.35, n_planes=16, bands=4,
            target_bucket=2, min_bits=4,
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(emb, threshold=0.35).collect()
    }
    assert widened <= exact
    import warnings

    with warnings.catch_warnings(record=True):
        warnings.simplefilter("ignore")
        capped = {
            (r["id_a"], r["id_b"])
            for r in embedding_lsh_neardup_pairs(
                emb, threshold=0.35, n_planes=16, bands=4,
                target_bucket=2, min_bits=4, auto_widen=False,
            ).collect()
        }
    assert capped <= exact  # the capped form is precision-1 too
    assert len(widened) < len(capped)


def test_embedding_lsh_leaves_no_live_blocks(spark, sf_dir):
    """r13 extends the hard_negative_topk_lsh persist-free contract to
    the near-dup LSH path: the band-key table is recomputed per join
    side, so repeated invocations leave zero net live blocks."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def _persisted_ids() -> set[int]:
        out = set()
        it = (
            spark.sparkContext._jsc.getPersistentRDDs().entrySet().iterator()
        )
        while it.hasNext():
            out.add(it.next().getKey())
        return out

    from conte_to_fresco_etl_spark.operators.dedup import (
        embedding_lsh_neardup_pairs,
    )

    base = _persisted_ids()
    first = None
    for _ in range(3):
        out = embedding_lsh_neardup_pairs(
            emb, threshold=0.35, n_planes=48, bands=4
        )
        assert _persisted_ids() - base == set()
        got = out.count()
        if first is None:
            first = got
        assert got == first
        assert _persisted_ids() - base == set()
