"""Document-profiling tests: the Arrow implementation must be
value-identical to the expression twin (the form the DuckDB oracle
mirrors), including tokenizer edge semantics."""

from __future__ import annotations

from conte_to_fresco_etl_spark.operators.text_analysis import (
    _expr_tokens_twin,
    profile_documents,
)


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()), key=lambda r: r[0]
    )


def test_profile_twins_match_on_corpus(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = _rows(profile_documents(docs, impl="arrow"))
    e = _rows(profile_documents(docs, impl="expr"))
    assert a == e


def test_profile_twins_match_on_edge_strings(spark):
    rows = [
        (0, "the quick brown fox and the lazy dog"),
        (1, ""),
        (2, "   "),                      # spaces only -> zero tokens
        (3, "\tthe tab-led text"),       # F.trim keeps the tab: Java
                                         # split yields a leading ''
        (4, "trailing newline\n"),
        (5, "!!! ??? ..."),              # punctuation soup
        (6, "café naïve résumé"),  # non-ASCII
        (7, "der die das und ist"),      # German stopwords
        (8, "a  b\t\tc"),                # mixed separator runs
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = _rows(profile_documents(docs, impl="arrow"))
    e = _rows(profile_documents(docs, impl="expr"))
    assert a == e


def test_tokens_twin_spark_split_semantics():
    # leading AND trailing empty tokens kept (trim removes spaces, not
    # tabs/newlines; Spark split uses limit=-1, unlike Java String.split)
    assert _expr_tokens_twin("\ta b") == ["", "a", "b"]
    assert _expr_tokens_twin("a b\n") == ["a", "b", ""]
    assert _expr_tokens_twin("   ") == []
    assert _expr_tokens_twin("") == []
    assert _expr_tokens_twin(" A  B ") == ["a", "b"]


def test_quality_filters_verdicts(spark):
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        quality_filters,
    )

    rows = [
        # clean natural text: keeps
        (0, "the quick brown fox jumps over the lazy dog and the cat "
            "sits on the warm mat near the door while birds sing"),
        # heavy line repetition: dup_line_frac = 0.75 -> drop
        (1, "same line here\nsame line here\nsame line here\nsame line here"),
        # symbol soup: ### and ellipses -> drop
        (2, "### ... ### ... the ### thing ..."),
        # bullets only -> bullet_line_frac = 1.0 -> drop
        (3, "- one\n- two\n- three\n- four"),
        # numbers only: alpha_word_frac = 0 -> drop
        (4, "123 456 789 101 112"),
        (5, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in quality_filters(docs).collect()}

    assert out[0]["keep"] is True
    assert out[1]["dup_line_frac"] == 0.75
    assert out[1]["keep"] is False
    assert out[2]["keep"] is False and out[2]["symbol_word_ratio"] > 0.1
    assert out[3]["bullet_line_frac"] == 1.0 and out[3]["keep"] is False
    assert out[4]["alpha_word_frac"] == 0.0 and out[4]["keep"] is False
    # empty doc: all ratios 0, fails the alpha/mean-word-length minimums
    assert out[5]["keep"] is False


def test_doc_lines_trims_whitespace_only(spark):
    """Every line loses surrounding whitespace and nothing else: a
    line's leading/trailing digits survive whatever its position (the
    element index must never reach ``trim`` as its character set)."""
    from conte_to_fresco_etl_spark.functions.text import doc_lines

    rows = [("1. a\n0x",), ("0*",), ("10\n01\n2",), (" a \n  b \n \n",)]
    docs = spark.createDataFrame(rows, "text string")
    got = [r[0] for r in docs.select(doc_lines("text")).collect()]
    assert got == [["1. a", "0x"], ["0*"], ["10", "01", "2"], ["a", "b"]]


def test_stratified_sample_is_partition_invariant(spark, sf_dir):
    """Membership must be a pure function of (seed, key) — identical
    under different partitionings, and only the targeted stratum
    shrinks."""
    from conte_to_fresco_etl_spark.validation import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kw = dict(strata_col="lang", fractions={"en": 0.3}, key_col="doc_id")
    a = {r["doc_id"] for r in stratified_sample(docs.repartition(1), **kw).collect()}
    b = {r["doc_id"] for r in stratified_sample(docs.repartition(7), **kw).collect()}
    assert a == b
    n_en = docs.filter("lang = 'en'").count()
    n_en_kept = stratified_sample(docs, **kw).filter("lang = 'en'").count()
    assert 0 < n_en_kept < n_en          # en downsampled
    n_other = docs.filter("lang <> 'en'").count()
    n_other_kept = stratified_sample(docs, **kw).filter("lang <> 'en'").count()
    assert n_other_kept == n_other        # others untouched


def test_top_tfidf_terms_hand_check(spark):
    import math

    from conte_to_fresco_etl_spark.operators.text_analysis import (
        top_tfidf_terms,
    )

    rows = [
        (0, "apple banana apple"),
        (1, "banana cherry"),
        (2, "apple cherry cherry date"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["doc_id"], r["term"]): (r["tfidf"], r["rank"])
        for r in top_tfidf_terms(docs, k=5, min_df=2).collect()
    }
    # 'date' appears in 1 doc < min_df -> absent
    assert (2, "date") not in out
    ln15 = math.log(3.0 / 2.0)
    assert out[(0, "apple")] == (round(2.0 / 3.0 * ln15, 6), 1)
    assert out[(0, "banana")] == (round(1.0 / 3.0 * ln15, 6), 2)
    # doc 2: cherry tf=2/4 beats apple tf=1/4 (same idf)
    assert out[(2, "cherry")][1] == 1 and out[(2, "apple")][1] == 2


def test_pii_scrub_handwritten(spark):
    from conte_to_fresco_etl_spark.operators.pii import pii_scrub

    rows = [
        (0, "mail me at jane.doe+spam@sub.example.co.uk today"),
        (1, "server 192.168.001.1 and 10.0.0.255 rebooted"),
        (2, "call 555-867-5309 or 555.123.4567"),
        (3, "clean text, no identifiers here"),
        (4, "mixed: a@b.io at 8.8.8.8 tel 123-456-7890"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    assert out[0]["n_emails"] == 1 and out[0]["has_pii"] is True
    assert "<EMAIL>" in out[0]["redacted"] and "jane" not in out[0]["redacted"]
    assert out[1]["n_ipv4"] == 2 and "<IP>" in out[1]["redacted"]
    assert out[2]["n_phones"] == 2
    assert out[2]["redacted"].count("<PHONE>") == 2
    assert out[3]["has_pii"] is False and out[3]["redacted"] == rows[3][1]
    assert (out[4]["n_emails"], out[4]["n_ipv4"], out[4]["n_phones"]) == (1, 1, 1)


def test_unigram_nll_hand_check(spark):
    import math

    from conte_to_fresco_etl_spark.operators.text_analysis import unigram_nll

    # corpus: 6 tokens total -> p(a)=3/6, p(b)=2/6, p(c)=1/6
    docs = spark.createDataFrame(
        [(0, "a a b"), (1, "a b c"), (2, "   ")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in unigram_nll(docs).collect()}
    assert 2 not in out  # empty doc: no tokens, no row
    nlp = {t: round(-math.log(c / 6.0), 9) for t, c in
           {"a": 3, "b": 2, "c": 1}.items()}
    exp0 = round((2 * nlp["a"] + nlp["b"]) / 3, 6)
    exp1 = round((nlp["a"] + nlp["b"] + nlp["c"]) / 3, 6)
    assert out[0]["n_tokens"] == 3 and abs(out[0]["nll"] - exp0) < 1e-9
    assert out[1]["n_tokens"] == 3 and abs(out[1]["nll"] - exp1) < 1e-9
    # rarer tokens -> higher nll
    assert out[1]["nll"] > out[0]["nll"]


def test_token_length_stats_hand_check(spark):
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        token_length_stats,
    )

    # token counts per doc: en -> [1, 2, 3, 4], de -> [5]
    rows = [
        (0, "a", "en"), (1, "a b", "en"), (2, "a b c", "en"),
        (3, "a b c d", "en"), (4, "x y z w v", "de"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["lang"]: r for r in token_length_stats(docs).collect()}
    en = out["en"]
    assert (en["n_docs"], en["n_tokens"], en["min_tokens"], en["max_tokens"]) == (4, 10, 1, 4)
    assert en["mean_tokens"] == 2.5
    assert en["p50"] == 2.5            # interpolated between 2 and 3
    assert en["p90"] == 3.7            # 1 + 0.9*3 = 3.7 position -> 3 + 0.7
    assert out["de"]["p50"] == 5.0
    # approx path: same shape, sane values on tiny input
    approx = {
        r["lang"]: r
        for r in token_length_stats(docs, exact=False).collect()
    }
    assert set(approx["en"].asDict()) == set(en.asDict())
    assert 1 <= approx["en"]["p50"] <= 4


def test_pack_sequences_greedy_invariants(spark):
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        pack_sequences,
    )

    # one shard; token counts 3, 4, 5, 9, 2 with budget 8:
    # [3, 4] (fill 7), [5], [9] (oversize, alone), [2]
    rows = [
        (0, "a b c"), (8, "a b c d"), (16, "a b c d e"),
        (24, "a b c d e f g h i"), (32, "a b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        pack_sequences(docs, budget=8, n_shards=8).collect(),
        key=lambda r: r["doc_id"],
    )
    assert [r["shard"] for r in out] == [0] * 5
    assert [r["seq_id"] for r in out] == [0, 0, 1, 2, 3]
    assert [r["tok_offset"] for r in out] == [0, 3, 0, 0, 0]

    # invariants on real data: per-sequence fill <= budget unless the
    # sequence is a single oversize doc; offsets are cumulative
    docs2 = spark.createDataFrame(
        [(i, "w " * (i % 13)) for i in range(100)], "doc_id long, text string"
    )
    packed = pack_sequences(docs2, budget=20, n_shards=4)
    from pyspark.sql import functions as F
    fills = packed.groupBy("shard", "seq_id").agg(
        F.sum("n_tokens").alias("fill"), F.count("*").alias("n")
    )
    bad = fills.filter((F.col("fill") > 20) & (F.col("n") > 1)).count()
    assert bad == 0


def test_top_bigrams_hand_check(spark):
    from conte_to_fresco_etl_spark.operators.text_analysis import top_bigrams

    docs = spark.createDataFrame(
        [(0, "a b a b c"), (1, "a b x"), (2, "solo")],
        "doc_id long, text string",
    )
    out = sorted(top_bigrams(docs, k=3).collect(), key=lambda r: r["rank"])
    # "a b" occurs 3x (twice in doc0, once in doc1)
    assert (out[0]["bigram"], out[0]["n"], out[0]["rank"]) == ("a b", 3, 1)
    # ties at n=1 break alphabetically
    assert out[1]["n"] == 1 and out[2]["n"] == 1
    assert out[1]["bigram"] < out[2]["bigram"]


def test_pack_sequences_empty_input(spark):
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        pack_sequences,
    )

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert pack_sequences(docs, budget=10, n_shards=4).count() == 0


def test_chunk_documents_boundaries(spark):
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        chunk_documents,
    )

    toks = lambda n: " ".join(f"t{i}" for i in range(n))
    df = spark.createDataFrame(
        [
            (1, ""),               # empty: no chunks
            (2, "a b"),            # under overlap: one chunk
            (3, toks(10)),         # == max: exactly one chunk
            (4, toks(11)),         # max+1: two chunks, second overlaps
            (5, toks(17)),         # 10 + step(7) => 2 chunks
            (6, toks(18)),         # needs a third window
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(df, max_tokens=10, overlap=3)
    rows = sorted(
        (r["doc_id"], r["chunk_id"], r["chunk_n_tokens"]) for r in out.collect()
    )
    assert rows == [
        (2, 0, 2),
        (3, 0, 10),
        (4, 0, 10), (4, 1, 4),     # second window starts at token 7
        (5, 0, 10), (5, 1, 10),
        (6, 0, 10), (6, 1, 10), (6, 2, 4),
    ]
    # overlap property: consecutive chunks share exactly `overlap` tokens
    c4 = {r["chunk_id"]: r["chunk_text"].split() for r in out.filter(
        "doc_id = 4").collect()}
    assert c4[0][-3:] == c4[1][:3]


def test_kmeans_step_recovers_planted_clusters(spark):
    import numpy as np

    from conte_to_fresco_etl_spark.operators.similarity import kmeans_step

    rng = np.random.default_rng(3)
    a = rng.normal(5.0, 0.1, (20, 4))
    b = rng.normal(-5.0, 0.1, (30, 4))
    rows = [(i, v.tolist()) for i, v in enumerate(np.vstack([a, b]))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = np.array([[4.0] * 4, [-4.0] * 4])
    out = kmeans_step(df, cents).collect()
    n_by_cluster = {r["cluster"]: r["n_vecs"] for r in out}
    assert n_by_cluster == {1: 20, 2: 30}  # 1-based cluster ids
    means = {
        (r["cluster"], r["dim"]): r["mean_val"] for r in out
    }
    for d in range(1, 5):
        assert abs(means[(1, d)] - 5.0) < 0.1
        assert abs(means[(2, d)] - (-5.0)) < 0.1


def test_kmeans_step_arrow_equals_expr(spark, sf_dir):
    """The Arrow fast path and the expression twin must agree exactly
    (same left-assoc arithmetic, same tie rule, same decimal means)."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.similarity import (
        deterministic_centroids,
        kmeans_step,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = deterministic_centroids(k=8, dim=64, seed=7)
    a = kmeans_step(emb, cents, impl="arrow").collect()
    e = kmeans_step(emb, cents, impl="expr").collect()
    key = lambda r: (r["cluster"], r["dim"])
    assert sorted(map(tuple, a)) == sorted(map(tuple, e))


def test_chunk_documents_reconstruction_property(spark):
    """Batch property test: for randomized (doc length, max_tokens,
    overlap) combos, chunks cover every token exactly once after
    removing each successor's `overlap`-token prefix, in order."""
    import random

    from conte_to_fresco_etl_spark.operators.text_analysis import (
        chunk_documents,
    )

    rng = random.Random(11)
    cases = []
    doc_id = 0
    for max_t, ov in [(10, 3), (8, 7), (5, 0), (64, 16)]:
        for _ in range(6):
            n = rng.randrange(0, 4 * max_t)
            cases.append((doc_id, max_t, ov, n))
            doc_id += 1
    for max_t, ov in {(m, o) for (_, m, o, _) in cases}:
        subset = [(d, n) for (d, m, o, n) in cases if (m, o) == (max_t, ov)]
        df = spark.createDataFrame(
            [(d, " ".join(f"w{d}_{i}" for i in range(n))) for d, n in subset],
            "doc_id long, text string",
        )
        out = chunk_documents(df, max_tokens=max_t, overlap=ov)
        chunks = {}
        for r in out.collect():
            chunks.setdefault(r["doc_id"], {})[r["chunk_id"]] = r[
                "chunk_text"
            ].split()
        step = max_t - ov
        for d, n in subset:
            if n == 0:
                assert d not in chunks
                continue
            got = chunks[d]
            assert sorted(got) == list(range(len(got)))
            rebuilt = list(got[0])
            for i in range(1, len(got)):
                # chunk i starts at token i*step: drop the overlapped prefix
                rebuilt.extend(got[i][len(rebuilt) - i * step:])
            assert rebuilt == [f"w{d}_{i}" for i in range(n)], (d, max_t, ov, n)
            # every chunk except possibly the last is full-size
            for i in range(len(got) - 1):
                assert len(got[i]) == max_t


def test_induce_bpe_merges_fuses_and_iterates(spark):
    """Round N's pair counts must reflect round N-1's fusions: after
    'the cat' merges, 'a the_cat' exists as a pair and plain 'the'/'cat'
    adjacency is gone — a one-shot bigram table cannot produce this."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        induce_bpe_merges,
    )
    from conte_to_fresco_etl_spark.plans.catalog_text import _py_bpe_merges

    texts = [
        "the cat sat on the cat mat",
        "the cat is the cat",
        "a a a the cat",
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = [
        (r["merge_round"], r["bigram"], r["n"])
        for r in induce_bpe_merges(df, n_merges=4)
        .orderBy("merge_round")
        .collect()
    ]
    assert got[0] == (0, "the cat", 5)
    # greedy left-to-right: 'a a a' fuses once, the leftover 'a' pairs
    # with the previously-fused the_cat token in a LATER round
    assert got[1] == (1, "a a", 2)
    assert got[2][1] == "a the_cat"
    # the Spark loop and the pure-Python oracle twin agree exactly
    assert got == _py_bpe_merges(texts, 4)


def test_induce_bpe_merges_exhausts_early(spark):
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        induce_bpe_merges,
    )

    df = spark.createDataFrame(
        [(0, "x y"), (1, ""), (2, "solo")], "doc_id long, text string"
    )
    rows = induce_bpe_merges(df, n_merges=5).collect()
    # only one pair exists; after it fuses the corpus has no doc with
    # >= 2 tokens left, so the loop stops at 1 merge instead of 5
    assert [(r["merge_round"], r["bigram"], r["n"]) for r in rows] == [
        (0, "x y", 1)
    ]


def test_induce_bpe_regex_fuse_equals_python_fold(spark):
    """The JVM regexp_replace fuse must equal the greedy left-to-right
    Python fold on adversarial corpora: regex metacharacters in tokens,
    overlapping repeats, and fuse chains across rounds."""
    import random

    from conte_to_fresco_etl_spark.operators.text_analysis import (
        induce_bpe_merges,
    )
    from conte_to_fresco_etl_spark.plans.catalog_text import _py_bpe_merges

    rng = random.Random(7)
    vocab = ["a", "b", "a.b", "x$1", "q(", "[z]", "a", "b", "c\\d", "*"]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(2, 30)))
        for _ in range(60)
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = [
        (r["merge_round"], r["bigram"], r["n"])
        for r in induce_bpe_merges(df, n_merges=5)
        .orderBy("merge_round")
        .collect()
    ]
    assert got == _py_bpe_merges(texts, 5)


def test_induce_bpe_overlap_chains(spark):
    """Adjacent/overlapping merge sites are the hard case for any fuse
    implementation (greedy resume-after-match consumption, repeated
    tokens, sites touching at both ends).  Repeat-heavy corpora
    exercise every adjacency shape against the Python fold twin.
    Added in r13 while evaluating the delta-patched trainer (rejected
    on measurement — see OPTIMIZATION_r13.md); kept because the
    corpora strengthen the black-box gate on ANY future rewrite."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        induce_bpe_merges,
    )
    from conte_to_fresco_etl_spark.plans.catalog_text import _py_bpe_merges

    texts = [
        "a a a a a a a a",
        "a a a a",
        "b a a a b a a",
        "a a b b a a b b a a",
        "x x x x x x",
        "a b a b a b a b a b",
        "b b b a a a b b b a a a",
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = [
        (r["merge_round"], r["bigram"], r["n"])
        for r in induce_bpe_merges(df, n_merges=6)
        .orderBy("merge_round")
        .collect()
    ]
    assert got == _py_bpe_merges(texts, 6)


def test_induce_bpe_nul_tokens(spark):
    """Tokens containing NUL bytes must train exactly (the r13
    delta-patch experiment used NUL as a fuse sentinel; this pins that
    any such scheme keeps NUL-bearing corpora exact)."""
    import random

    from conte_to_fresco_etl_spark.operators.text_analysis import (
        induce_bpe_merges,
    )
    from conte_to_fresco_etl_spark.plans.catalog_text import _py_bpe_merges

    rng = random.Random(13)
    vocab = ["a", "b", "a\x00b", "\x00", "c\x00", "a", "b", "q"]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(2, 20)))
        for _ in range(40)
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = [
        (r["merge_round"], r["bigram"], r["n"])
        for r in induce_bpe_merges(df, n_merges=5)
        .orderBy("merge_round")
        .collect()
    ]
    assert got == _py_bpe_merges(texts, 5)


def test_induce_bpe_joiner_metachars(spark):
    """Joiner strings with regex/replacement metacharacters (and NUL)
    survive the fuse replacement escaping across rounds."""
    import random

    from conte_to_fresco_etl_spark.operators.text_analysis import (
        induce_bpe_merges,
    )
    from conte_to_fresco_etl_spark.plans.catalog_text import _py_bpe_merges

    rng = random.Random(31)
    vocab = ["a", "b", "c", "a$b", "x\\y", "a", "b"]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(2, 16)))
        for _ in range(30)
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    for joiner in ("<>", "$\\", "\x00"):
        got = [
            (r["merge_round"], r["bigram"], r["n"])
            for r in induce_bpe_merges(df, n_merges=4, joiner=joiner)
            .orderBy("merge_round")
            .collect()
        ]
        assert got == _py_bpe_merges(texts, 4, joiner=joiner), joiner


def test_apply_bpe_merges_fuses_in_order_map_only(spark):
    """Applying a trained merge table must fuse in merge order (later
    merges see earlier merges' tokens) in a zero-shuffle projection."""
    from helpers import explain_shuffle_count
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        apply_bpe_merges,
    )

    df = spark.createDataFrame(
        [(1, "the cat sat"), (2, "a the cat"), (3, "")],
        "doc_id long, text string",
    )
    out = apply_bpe_merges(df, ["the cat", "a the_cat"])
    assert explain_shuffle_count(out) == 0
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["tokens"] == ["the_cat", "sat"]
    assert (rows[1]["n_tokens_before"], rows[1]["n_tokens_after"]) == (3, 2)
    # second merge consumes the FIRST merge's fused token
    assert rows[2]["tokens"] == ["a_the_cat"]
    assert (rows[2]["n_tokens_before"], rows[2]["n_tokens_after"]) == (3, 1)
    assert rows[3]["tokens"] == []
    assert (rows[3]["n_tokens_before"], rows[3]["n_tokens_after"]) == (0, 0)


def test_boilerplate_ngram_stats_planted(spark):
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        boilerplate_ngram_stats,
    )

    # "click here now" is planted in 3 of 4 docs -> boilerplate at
    # min_doc_count=3; everything else is unique.
    docs = spark.createDataFrame(
        [
            (1, "click here now for unique alpha content"),
            (2, "click here now beta words differ"),
            (3, "gamma text click here now"),
            (4, "entirely original delta document"),
            (5, "xy"),  # < 3 tokens: zero grams
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in boilerplate_ngram_stats(
            docs, ngram_n=3, min_doc_count=3
        ).collect()
    }
    assert len(out) == 5
    for d in (1, 2, 3):
        assert out[d]["n_boiler"] == 1, d
    assert out[1]["n_grams"] == 5
    assert abs(out[1]["boiler_frac"] - 0.2) < 1e-12
    assert out[4]["n_boiler"] == 0 and out[4]["boiler_frac"] == 0.0
    assert out[5]["n_grams"] == 0 and out[5]["boiler_frac"] == 0.0


def test_compression_ratio_signal_orders_texts(spark):
    import zlib

    from conte_to_fresco_etl_spark.operators.text_analysis import (
        compression_ratio,
    )

    repetitive = "spam " * 200
    prose = (
        "the library loads each shard lazily and validates row counts "
        "before handing batches to the trainer for gradient updates"
    )
    import random as _r
    rng = _r.Random(5)
    junk = "".join(chr(rng.randrange(0x21, 0x7F)) for _ in range(600))
    docs = spark.createDataFrame(
        [(1, repetitive), (2, prose), (3, junk), (4, ""), (5, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in compression_ratio(docs).collect()}
    assert out[1]["ratio"] < out[2]["ratio"] < out[3]["ratio"]
    assert out[1]["ratio"] < 0.05          # pure repetition
    assert out[3]["ratio"] > 0.8           # near-incompressible
    assert out[4]["ratio"] == 1.0 and out[4]["n_bytes"] == 0
    assert out[5]["ratio"] == 1.0
    # exact size contract against the same zlib
    raw = repetitive.encode()
    assert out[1]["n_compressed"] == len(zlib.compress(raw, 6))


def test_normalize_text_nfc_and_cleanup(spark):
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        normalize_text,
    )

    docs = spark.createDataFrame(
        [
            (1, "Café  du\tmonde"),          # NFC + run collapse
            (2, "clean already"),
            (3, "\x07bell\x00null\x1fus\x7fdel"),  # control chars
            (4, "  padded  "),
            (5, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in normalize_text(docs).collect()}
    assert out[5]["norm_text"] is None and out[5]["changed"] is False
    assert out[1]["norm_text"] == "Café du monde"   # composed é
    assert out[1]["changed"] is True
    assert out[2]["norm_text"] == "clean already"
    assert out[2]["changed"] is False
    assert out[3]["norm_text"] == "bell null us del"
    assert out[4]["norm_text"] == "padded" and out[4]["changed"] is True


def test_quality_classifier_orders_and_verdicts(spark):
    import math

    from conte_to_fresco_etl_spark.operators.text_analysis import (
        CLASSIFIER_BIAS,
        CLASSIFIER_WEIGHTS,
        quality_classifier,
    )

    prose = (
        "the quiet library held rows of well ordered books about "
        "distributed systems and their careful failure modes"
    )
    junk = "### ### ### ### ### ### ### ### ### ### ### ###"
    docs = spark.createDataFrame(
        [(1, prose), (2, junk)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in quality_classifier(docs).collect()}
    assert out[1]["score"] > out[2]["score"]
    assert out[1]["keep"] is True and out[2]["keep"] is False
    # score is the exact logistic of the metric vector
    r = out[1]
    z = CLASSIFIER_BIAS + sum(
        w * r[c] for c, w in CLASSIFIER_WEIGHTS.items()
    )
    assert abs(r["score"] - round(1.0 / (1.0 + math.exp(-z)), 6)) < 1e-9


def test_heldout_nll_not_gamed_by_duplication(spark):
    """A val doc whose tokens are common in TRAIN scores lower than a
    val doc of train-unseen tokens; and only val docs are emitted."""
    from conte_to_fresco_etl_spark.operators.text_analysis import heldout_nll
    from conte_to_fresco_etl_spark.validation import assign_splits

    rows = [(i, "common words appear here " * 3) for i in range(40)]
    rows += [(100, "common words appear here again"),
             (101, "zyx wvu tsr qpo nml")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    splits = {
        r["doc_id"]: r["split"]
        for r in assign_splits(
            df, key_col="doc_id", weights={"train": 0.8, "val": 0.2}
        ).collect()
    }
    out = {r["doc_id"]: r["heldout_nll"] for r in heldout_nll(df).collect()}
    assert set(out) == {d for d, s in splits.items() if s == "val"}
    # if both probe docs landed in val, the train-like one scores lower
    if 100 in out and 101 in out:
        assert out[100] < out[101]
    # OOV-only docs still score finite
    assert all(v is not None and v > 0 for v in out.values())


def test_autocorrelation_perfect_cycle(spark):
    """A period-2 alternating series has acf(2k) near +1 and acf(2k+1)
    near -1."""
    import datetime as dt

    from conte_to_fresco_etl_spark.operators.gapfill import autocorrelation

    rows = [
        (dt.datetime(2024, 3, 1 + i), 10.0 if i % 2 == 0 else 0.0)
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "day timestamp, x double")
    got = {r["lag"]: r for r in autocorrelation(df, "day", "x", 4).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[1]["n_pairs"] == 19 and got[4]["n_pairs"] == 16
    assert got[2]["acf"] > 0.85 and got[4]["acf"] > 0.7
    assert got[1]["acf"] < -0.85 and got[3]["acf"] < -0.8


# ---------------------------------------------------------------------------
# Kneser-Ney bigram NLL
# ---------------------------------------------------------------------------

def test_kneser_ney_matches_pure_python_reference(spark):
    """Exact agreement with an independent Python KN implementation on a
    corpus engineered so raw frequency and continuation counts diverge
    ('francisco' is frequent but follows only 'san')."""
    import math

    import pytest
    from collections import Counter, defaultdict

    from conte_to_fresco_etl_spark.operators.text_analysis import (
        kneser_ney_nll,
    )

    docs = [
        (1, "san francisco san francisco san francisco"),
        (2, "san diego san jose san francisco"),
        (3, "new york new jersey new york"),
        (4, "one"),  # single token: emits nothing
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in kneser_ney_nll(df).collect()}
    assert 4 not in out

    D = 0.75
    big = defaultdict(Counter)
    per_doc = {}
    for did, text in docs:
        ts = text.split()
        per_doc[did] = list(zip(ts, ts[1:]))
        for p, w in per_doc[did]:
            big[p][w] += 1
    n1b = Counter()
    for p in big:
        for w in big[p]:
            n1b[w] += 1
    T = sum(len(c) for c in big.values())

    def p_kn(p, w):
        cp = sum(big[p].values())
        return (big[p][w] - D) / cp + (D * len(big[p]) / cp) * (n1b[w] / T)

    for did, pairs in per_doc.items():
        if len(pairs) == 0:
            continue
        contribs = Counter(pairs)
        s = sum(
            c * round(-math.log(p_kn(p, w)), 9)
            for (p, w), c in contribs.items()
        )
        assert out[did]["n_bigrams"] == len(pairs)
        assert out[did]["nll"] == pytest.approx(
            round(s / len(pairs), 6), abs=2e-6
        )
    # KN sanity: within-corpus probabilities over seen continuations of a
    # history must sum to < 1 (mass reserved for backoff to unseen words)
    for p in big:
        cp = sum(big[p].values())
        mass = sum(p_kn(p, w) for w in big[p])
        assert mass < 1.0 + 1e-9


def test_zipf_fit_exact_power_law_and_degenerate_group(spark):
    """Frequencies 12/r for ranks 1..4 lie exactly on ln y = ln 12 - ln r,
    so the fitted slope is -1 with r2 = 1; a one-token group is NULL."""
    import math

    from conte_to_fresco_etl_spark.operators.text_analysis import zipf_fit

    text = " ".join(["a"] * 12 + ["b"] * 6 + ["c"] * 4 + ["d"] * 3)
    df = spark.createDataFrame(
        [("en", text), ("xx", "solo solo solo")], "lang STRING, text STRING"
    )
    out = {r["lang"]: r for r in zipf_fit(df, "lang", "text", 200).collect()}
    en = out["en"]
    assert en["n_terms"] == 4
    assert abs(en["zipf_slope"] - (-1.0)) < 1e-6
    assert abs(en["zipf_intercept"] - math.log(12.0)) < 1e-6
    assert abs(en["r2"] - 1.0) < 1e-6
    xx = out["xx"]
    assert xx["n_terms"] == 1
    assert xx["zipf_slope"] is None and xx["r2"] is None


def test_token_burstiness_bursty_vs_uniform(spark):
    """'glue' appears once in every doc (vmr = 0, df_ratio > 1 region);
    'topic' concentrates 4 occurrences in one of four docs (bursty:
    vmr > 1, df_ratio < 1)."""
    import math

    docs = [
        (0, "glue topic topic topic topic"),
        (1, "glue x"),
        (2, "glue y"),
        (3, "glue z"),
    ]
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        token_burstiness,
    )

    df = spark.createDataFrame(docs, "doc_id INT, text STRING")
    out = {
        r["token"]: r for r in token_burstiness(df, top_n=10).collect()
    }
    g, t = out["glue"], out["topic"]
    assert (g["cf"], g["df"]) == (4, 4)
    assert (t["cf"], t["df"]) == (4, 1)
    assert g["mean_in_doc"] == 1.0 and t["mean_in_doc"] == 4.0
    # glue: every doc count is exactly 1 -> variance 0
    assert g["vmr"] == 0.0
    # topic: counts (4,0,0,0), mean 1, var = 16/4 - 1 = 3
    assert abs(t["vmr"] - 3.0) < 1e-6
    poisson_df = 4 * (1 - math.exp(-1.0))
    assert abs(g["df_ratio"] - 4 / poisson_df) < 1e-6
    assert abs(t["df_ratio"] - 1 / poisson_df) < 1e-6
    assert g["df_ratio"] > 1.0 > t["df_ratio"]


def test_uni_viterbi_prefers_likely_pieces_and_is_deterministic():
    import math

    from conte_to_fresco_etl_spark.operators.text_analysis import (
        _uni_viterbi_pieces,
    )

    logp = {
        "a": math.log(0.2), "b": math.log(0.2), "ab": math.log(0.5),
        "ba": math.log(0.1),
    }
    # "abab": ab+ab (2 pieces, high prob) beats a+ba+b and a+b+a+b
    assert _uni_viterbi_pieces("abab", logp, 4) == ["ab", "ab"]
    # unreachable word (char not in vocab) -> None, not a crash
    assert _uni_viterbi_pieces("xy", logp, 4) is None
    # exact tie ("a"+"b" vs "ab" when p(ab) = p(a)p(b)): smallest split
    # point wins = the longest final piece = ["ab"]
    tie = {"a": math.log(0.5), "b": math.log(0.5), "ab": math.log(0.25)}
    if math.log(0.25) == math.log(0.5) + math.log(0.5):
        assert _uni_viterbi_pieces("ab", tie, 4) == ["ab"]


def test_unigram_lm_tokenizer_matches_python_twin(spark):
    """The distributed trainer and a straight-Python replay of the same
    shared helpers produce the identical final table on a small corpus
    with repeated subwords."""
    from collections import Counter

    from conte_to_fresco_etl_spark.operators.dedup import _py_tokens
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        _uni_logprobs,
        _uni_substrings,
        _uni_viterbi_pieces,
        unigram_lm_tokenizer,
    )

    texts = [
        "banana bandana banana",
        "an ana banana nab",
        "banana bandana an",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text STRING")
    got = [
        (r["rank"], r["piece"], r["cnt"])
        for r in unigram_lm_tokenizer(
            df, em_rounds=2, seed_multi=10, top_out=15
        ).collect()
    ]

    wc: Counter = Counter()
    for t in texts:
        for w in _py_tokens(t):
            if w:
                wc[w] += 1
    sub: Counter = Counter()
    for w, c in wc.items():
        for s in _uni_substrings(w, 4):
            sub[s] += c
    vocab = {s: c for s, c in sub.items() if len(s) == 1}
    for s, c in sorted(
        ((s, c) for s, c in sub.items() if len(s) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )[:10]:
        vocab[s] = c
    for _ in range(2):
        logp = _uni_logprobs(vocab)
        new = {p: 0 for p in vocab}
        for w, c in wc.items():
            for p in _uni_viterbi_pieces(w, logp, 4) or []:
                new[p] += c
        vocab = new
    want = [
        (i + 1, p, c)
        for i, (p, c) in enumerate(
            sorted(
                ((p, c) for p, c in vocab.items() if c > 0),
                key=lambda kv: (-kv[1], kv[0]),
            )[:15]
        )
    ]
    assert got == want
    # the corpus's dominant subword survives as a multi-char piece
    assert any(len(p) > 1 for _, p, _ in got[:5])


def test_apply_unigram_tokenizer_counts_and_unk_fallback(spark):
    import math

    from conte_to_fresco_etl_spark.operators.text_analysis import (
        apply_unigram_tokenizer,
    )

    logp = {
        "a": math.log(0.2), "b": math.log(0.2), "ab": math.log(0.6),
    }
    df = spark.createDataFrame(
        [(1, "abab ab"), (2, "xyz"), (3, "   ")],
        "doc_id INT, text STRING",
    )
    out = {
        r["doc_id"]: r
        for r in apply_unigram_tokenizer(df, logp).collect()
    }
    # "abab" -> ab+ab (2), "ab" -> ab (1): 2 words, 3 pieces
    assert (out[1]["n_words"], out[1]["n_pieces"]) == (2, 3)
    assert abs(out[1]["fertility"] - 1.5) < 1e-9
    # unsegmentable word -> one UNK piece
    assert (out[2]["n_words"], out[2]["n_pieces"]) == (1, 1)
    # wordless doc -> 0/0 with NULL fertility
    assert (out[3]["n_words"], out[3]["n_pieces"]) == (0, 0)
    assert out[3]["fertility"] is None


def test_feature_hashing_integer_exact_and_sign_cancellation(spark):
    from collections import Counter

    from conte_to_fresco_etl_spark.operators.text_analysis import (
        feature_hashing,
    )

    df = spark.createDataFrame(
        [(1, "red red blue"), (2, "red"), (3, "")],
        "doc_id INT, text STRING",
    )
    rows = feature_hashing(df, n_buckets=4).collect()
    by_doc = Counter()
    for r in rows:
        assert 0 <= r["k"] < 4 and r["x"] != 0
        by_doc[r["doc_id"]] += abs(r["x"])
    # doc 1 has 3 token occurrences; if red/blue collide WITH opposite
    # signs in one bucket they cancel, so |x| sums to 3 or 1; doc 2 has 1
    assert by_doc[1] in (1, 3)
    assert by_doc[2] == 1
    assert 3 not in by_doc  # empty text -> no rows
    # same token always lands in the same (bucket, sign): doc 2's single
    # 'red' bucket must appear within doc 1's buckets with 2x the value
    d2 = [(r["k"], r["x"]) for r in rows if r["doc_id"] == 2][0]
    d1 = {r["k"]: r["x"] for r in rows if r["doc_id"] == 1}
    assert d2[0] in d1


def test_negative_samples_distribution_and_flags(spark):
    from collections import Counter

    from conte_to_fresco_etl_spark.operators.text_analysis import (
        negative_samples,
    )

    # 'common' dominates the noise distribution; 'rare' almost never
    docs = [(0, "common " * 200 + "rare")] + [
        (i, "common common common") for i in range(1, 30)
    ]
    df = spark.createDataFrame(docs, "doc_id INT, text STRING")
    out = negative_samples(df, k=4, seed="t").collect()
    # every (doc, slot) yields exactly one draw
    assert len(out) == 30 * 4
    cnt = Counter(r["neg_token"] for r in out)
    assert cnt["common"] > cnt.get("rare", 0)
    # doc 0 contains both tokens -> its draws are all in_doc
    assert all(r["in_doc"] for r in out if r["doc_id"] == 0)
    # determinism
    again = negative_samples(df, k=4, seed="t").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_tstat_features_separating_token_tops(spark):
    """A token present only in the positive class with consistent tf
    ranks first; a uniformly-distributed token yields |t| near 0 (or
    drops when variance is 0)."""
    from pyspark.sql import functions as F

    from conte_to_fresco_etl_spark.operators.text_analysis import (
        tstat_token_features,
    )

    rows = []
    for i in range(20):
        pos = i < 10
        # "signal" appears 2-3x in positives only; "noise" everywhere
        sig = ("signal " * (2 + i % 2)) if pos else ""
        rows.append((i, pos, sig + "noise filler " + ("pad " * (i % 3))))
    df = spark.createDataFrame(rows, "doc_id long, y boolean, text string")
    out = tstat_token_features(
        df, F.col("y"), top_k=5
    ).collect()
    assert out[0]["token"] == "signal"
    assert out[0]["mean_neg"] == 0.0 and out[0]["t_stat"] > 3


def test_doc_simpson_extremes(spark):
    """All-identical tokens => simpson 1.0; all-distinct => 0.0;
    single-token docs emit nothing."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        doc_simpson,
    )

    df = spark.createDataFrame(
        [
            (1, "a a a a"),
            (2, "w x y z"),
            (3, "solo"),
            (4, "a a b b"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["simpson"] for r in doc_simpson(df).collect()}
    assert got[1] == 1.0 and got[2] == 0.0
    assert 3 not in got
    # 2+2 duplicates of 4 tokens: 2*2*1/(4*3) = 4/12
    assert got[4] == round(4 / 12, 6)


def test_mattr_windows_and_incomplete_tail(spark):
    """Two complete 20-token windows (10 distinct each => TTR 0.5) and
    a discarded 5-token tail: mattr = 0.5 over n_windows = 2; a
    19-token doc emits nothing."""
    from conte_to_fresco_etl_spark.operators.text_analysis import mattr

    w1 = " ".join(f"a{i % 10}" for i in range(20))
    w2 = " ".join(f"b{i % 10}" for i in range(20))
    tail = "t1 t2 t3 t4 t5"
    df = spark.createDataFrame(
        [(1, f"{w1} {w2} {tail}"), (2, " ".join("x" for _ in range(19)))],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in mattr(df, window=20).collect()}
    assert got[1]["n_windows"] == 2 and got[1]["mattr"] == 0.5
    assert 2 not in got


def test_conditional_entropy_deterministic_vs_uniform(spark):
    """A deterministic cycle (every prev fixes its next) has
    h_cond = 0; i.i.d.-like alternation raises it; h_joint >= h_prev
    always."""
    import pytest

    from conte_to_fresco_etl_spark.operators.text_analysis import (
        conditional_entropy,
    )

    cyc = spark.createDataFrame(
        [(1, "a b c a b c a b c a b c")], "doc_id long, text string"
    )
    r = conditional_entropy(cyc).collect()[0]
    assert r["h_cond"] == pytest.approx(0.0, abs=1e-6)

    mixed = spark.createDataFrame(
        [(1, "a a a b b a b a a b b b a b")], "doc_id long, text string"
    )
    m = conditional_entropy(mixed).collect()[0]
    assert m["h_cond"] > 0.4
    assert m["h_joint"] >= m["h_prev"]


def test_js_divergence_bounds_and_disjoint(spark):
    """JS of a group identical to the corpus is 0; with two disjoint-
    vocabulary groups of equal mass each sits strictly between 0 and
    ln 2, approaching ln 2 as overlap vanishes."""
    import math

    import pytest

    from conte_to_fresco_etl_spark.operators.text_analysis import (
        js_divergence_by_group,
    )

    one = spark.createDataFrame(
        [(1, "g", "a b c a b c")], "doc_id long, source string, text string"
    )
    r = js_divergence_by_group(one).collect()[0]
    assert r["js"] == pytest.approx(0.0, abs=1e-9)

    two = spark.createDataFrame(
        [
            (1, "s1", " ".join(["apple"] * 50)),
            (2, "s2", " ".join(["zebra"] * 50)),
        ],
        "doc_id long, source string, text string",
    )
    got = {r["source"]: r["js"] for r in js_divergence_by_group(two).collect()}
    # each group vs the 50/50 corpus: P = {t: 1}, Q = {t: .5, other: .5}
    # => JS = 0.5*(ln(4/3) + 0.5*ln(2/3) + 0.5*ln 2) ~ 0.2158
    expect = 0.5 * (
        math.log(4 / 3) + 0.5 * math.log(2 / 3) + 0.5 * math.log(2)
    )
    for v in got.values():
        assert v == pytest.approx(round(expect, 6), abs=2e-6)
        assert 0 < v < math.log(2)


def test_info_gain_prefers_class_pure_token(spark):
    """A token appearing in every positive and no negative carries
    maximal IG (= H(Y)); a token in every document carries zero."""
    import math

    import pytest

    from pyspark.sql import functions as F

    from conte_to_fresco_etl_spark.operators.text_analysis import (
        info_gain_features,
    )

    rows = [
        (i, i < 6, ("pure " if i < 6 else "") + "common filler")
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "doc_id long, y boolean, text string")
    out = {r["token"]: r for r in
           info_gain_features(df, F.col("y"), top_k=10).collect()}
    assert out["pure"]["present_docs"] == 6
    assert out["pure"]["ig"] == pytest.approx(
        round(math.log(2), 6), abs=2e-6
    )
    assert out["common"]["ig"] == 0.0
    top = info_gain_features(df, F.col("y"), top_k=1).collect()
    assert top[0]["token"] == "pure"


def test_span_corruption_deterministic_and_merged(spark):
    """The masking plan is a pure function of (corpus, seed): two runs
    agree; the realized mask fraction over a large doc sits near the
    15% target; n_spans counts MAXIMAL merged runs (never exceeds
    n_masked); token-free docs emit nothing."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        span_corruption_plan,
    )

    big = " ".join(f"tok{i}" for i in range(4000))
    df = spark.createDataFrame(
        [(1, big), (2, "a b c"), (3, "   ")],
        "doc_id long, text string",
    )
    a = {r["doc_id"]: r for r in span_corruption_plan(df).collect()}
    b = {r["doc_id"]: r for r in span_corruption_plan(df).collect()}
    assert {k: tuple(v) for k, v in a.items()} == {
        k: tuple(v) for k, v in b.items()
    }
    assert 3 not in a                       # no tokens, no row
    assert a[1]["n_tokens"] == 4000
    assert 0.10 < a[1]["frac_masked"] < 0.20   # near the 15% target
    assert 0 < a[1]["n_spans"] <= a[1]["n_masked"]
    # mean realized span length near mean_span=3 (merging inflates it
    # slightly)
    assert 2.0 < a[1]["n_masked"] / a[1]["n_spans"] < 5.0
    # a reseeded plan differs
    c = {
        r["doc_id"]: r
        for r in span_corruption_plan(df, seed="other").collect()
    }
    assert c[1]["n_masked"] != a[1]["n_masked"]


def test_log_odds_directions_and_prior_shrinkage(spark):
    """A class-exclusive frequent token gets a large |z| with the
    right sign; a one-occurrence exclusive token is SHRUNK by the
    Dirichlet prior below the frequent one (the raw log-odds failure
    mode this estimator exists to fix)."""
    from pyspark.sql import functions as F

    from conte_to_fresco_etl_spark.operators.text_analysis import (
        log_odds_tokens,
    )

    rows = []
    for i in range(40):
        pos = i < 20
        text = "shared filler " + ("posword " * 5 if pos else "negword " * 5)
        if i == 0:
            text += " hapax"
        rows.append((i, pos, text))
    df = spark.createDataFrame(rows, "doc_id long, y boolean, text string")
    out = {r["token"]: r for r in
           log_odds_tokens(df, F.col("y"), top_k=10).collect()}
    assert out["posword"]["z_score"] > 3
    assert out["negword"]["z_score"] < -3
    if "hapax" in out:
        assert abs(out["hapax"]["z_score"]) < abs(out["posword"]["z_score"])


# ---------------------------------------------------------------------------
# r9 batch 6: Naive Bayes classifier
# ---------------------------------------------------------------------------


def test_naive_bayes_learns_separable_vocab(spark):
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        naive_bayes_classify,
    )

    # two classes with disjoint vocabularies; ids ending in 0 are test
    rows = []
    for i in range(40):
        if i % 2 == 0:
            rows.append((i, "apple banana apple cherry", "fruit"))
        else:
            rows.append((i, "carrot potato onion carrot", "veg"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = naive_bayes_classify(df, test_mod=5).collect()
    cells = {(r["true_label"], r["pred_label"]): r["n_docs"] for r in out}
    # test docs: ids 0,5,10,...,35 -> 4 fruit (even) + 4 veg (odd)
    assert cells == {("fruit", "fruit"): 4, ("veg", "veg"): 4}


def test_naive_bayes_prior_decides_oov_docs(spark):
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        naive_bayes_classify,
    )

    # the only test doc (id 0) contains one token unseen in training;
    # smoothing gives every class the same likelihood, so the class
    # PRIOR (majority class "big") must decide — and alphabetical
    # tiebreak never enters
    rows = [(0, "zzz-unseen", "small")]
    rows += [(i, "alpha beta", "big") for i in range(1, 7)]
    rows += [(7, "gamma delta", "small")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = naive_bayes_classify(df, test_mod=5).collect()
    # id 0 and id 5 are test docs (0 % 5 == 0, 5 % 5 == 0)
    cells = {(r["true_label"], r["pred_label"]): r["n_docs"] for r in out}
    assert cells[("small", "big")] == 1  # OOV doc follows the prior
    assert cells[("big", "big")] == 1


def test_bleu_pairs_identical_and_disjoint(spark):
    from conte_to_fresco_etl_spark.operators.text_analysis import bleu_pairs

    rows = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat on the mat"),   # identical to ref -> BLEU 1
        (2, "dogs bark loudly at night"),  # disjoint from ref -> BLEU 0
        (3, "dogs bark loudly at night dogs bark"),  # longer cand: BP=1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["cand_id"]: r for r in bleu_pairs(df, max_id=10).collect()}
    assert out[1]["p1"] == 1.0 and out[1]["p2"] == 1.0
    assert out[1]["bleu2"] == 1.0
    assert out[2]["bleu2"] == 0.0
    # cand 3 vs ref 2: p1 = 5/7 (clipped: 'dogs'/'bark' appear twice in
    # cand but once in ref), p2 = 4/6; candidate longer -> BP = 1
    assert out[3]["p1"] == round(5 / 7, 6)
    assert out[3]["p2"] == round(4 / 6, 6)
    import math

    assert abs(
        out[3]["bleu2"]
        - round(math.exp((math.log(5 / 7) + math.log(4 / 6)) / 2), 6)
    ) < 1e-6


def test_bleu_brevity_penalty_applies(spark):
    from conte_to_fresco_etl_spark.operators.text_analysis import bleu_pairs

    import math

    rows = [
        (0, "a b c d e f g h"),
        (1, "a b c d"),  # perfect precisions but half the length
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = {x["cand_id"]: x for x in bleu_pairs(df, max_id=10).collect()}[1]
    assert r["p1"] == 1.0 and r["p2"] == 1.0
    assert abs(r["bleu2"] - round(math.exp(1 - 8 / 4), 6)) < 1e-6


def test_fused_curation_hooks_match_in_operator_passes(spark):
    """The r14 curation-fuse composition hooks are bit-identical to the
    in-operator Arrow passes: quality_filters(raw_metrics=...) fed from
    _quality_metric_lists reproduces every verdict, and decontaminate
    (train_grams=/eval_grams=...) fed from _gram_posting_batches
    reproduces every contamination count."""
    import pandas as pd

    from pyspark.sql import functions as F

    from conte_to_fresco_etl_spark.operators.dedup import (
        _gram_posting_batches,
        decontaminate,
    )
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        _QUALITY_METRIC_COLS,
        _quality_metric_lists,
        quality_filters,
    )

    rows = [
        (0, "alpha beta gamma delta epsilon zeta"),
        (1, "x x x x x x x x x x"),          # degenerate repetition
        (2, "- bullet one\n- bullet two\n- bullet three"),
        (3, None),                             # NULL text
        (4, "dots... dots... dots...\nline\nline"),
        (5, "## symbols ## everywhere ##"),
        (6, "ab"),                             # shorter than ngram_n
        (7, "alpha beta gamma delta shared tail tokens here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # ---- quality: fused raw metrics == in-operator Arrow pass -------
    def fused_metrics(it):
        for pdf in it:
            if len(pdf):
                out = {"doc_id": pdf["doc_id"]}
                out.update(_quality_metric_lists(pdf["text"]))
                yield pd.DataFrame(out)

    raw = df.mapInPandas(
        fused_metrics,
        schema="doc_id long, "
        + ", ".join(f"{c} double" for c in _QUALITY_METRIC_COLS),
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in quality_filters(df, raw_metrics=raw).collect()
    }
    want = {
        r["doc_id"]: r.asDict() for r in quality_filters(df).collect()
    }
    assert got == want

    # ---- decontaminate: precomputed grams == in-operator passes -----
    train = df.filter(F.col("doc_id") % 3 != 0)
    ev = df.filter(F.col("doc_id") % 3 == 0)
    gram_fn = _gram_posting_batches(["doc_id"], "text", 2)
    grams = df.mapInPandas(gram_fn, schema="doc_id long, __g string")
    got_dc = {
        r["doc_id"]: r.asDict()
        for r in decontaminate(
            train,
            ev,
            ngram_n=2,
            train_grams=grams.filter(F.col("doc_id") % 3 != 0),
            eval_grams=grams.filter(F.col("doc_id") % 3 == 0),
        ).collect()
    }
    want_dc = {
        r["doc_id"]: r.asDict()
        for r in decontaminate(train, ev, ngram_n=2).collect()
    }
    assert got_dc == want_dc
