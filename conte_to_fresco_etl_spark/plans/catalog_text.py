"""Training-data operator queries (dedup / similarity / text analysis)
with generated DuckDB oracles.

The SQL strings are built from the SAME Python constants (stopword
lists, minhash coefficients, prime modulus) that parameterize the Spark
plans — one source of truth, so the two engines compute literally the
same function.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from conte_to_fresco_etl_spark.functions.text import LANG_STOPWORDS, EN_STOPWORDS
from conte_to_fresco_etl_spark.operators.dedup import (
    MINHASH_PRIME,
    embedding_neardup_pairs,
    exact_duplicate_groups,
    minhash_coefficients,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from conte_to_fresco_etl_spark.operators.similarity import brute_force_topk, lsh_topk
from conte_to_fresco_etl_spark.operators.text_analysis import profile_documents
from conte_to_fresco_etl_spark.plans.catalog import QUERIES, ORACLES, _q, _t

# ---------------------------------------------------------------------------
# SQL fragment builders (mirror functions/text.py expression-for-expression)
# ---------------------------------------------------------------------------

def _sql_tokens(col: str = "text") -> str:
    return (
        f"CASE WHEN length(trim({col})) = 0 THEN CAST([] AS VARCHAR[]) "
        f"ELSE regexp_split_to_array(trim(lower({col})), '\\s+') END"
    )


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join("'" + w.replace("'", "''") + "'" for w in words) + "]"


def _sql_md5_long(expr: str, hex_chars: int = 15) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, {hex_chars}) AS BIGINT)"


#: SimHash over a column ``hs`` (list of 32-bit hashes): sum of 2^b for
#: bits whose +1/-1 vote is positive — mirrors functions.text.simhash32.
_SQL_SIMHASH_FROM_HS = " + ".join(
    f"(CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN (x >> {b}) & 1 = 1 "
    f"THEN 1 ELSE -1 END)) > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    for b in range(32)
)

_SQL_FINGERPRINT = _sql_md5_long(
    "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
)

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_LANG_CODES = sorted(LANG_STOPWORDS)
_LANG_SCORES_SQL = ",\n         ".join(
    f"len(list_filter(toks, t -> list_contains({_sql_list(LANG_STOPWORDS[c])}, t))) AS s_{c}"
    for c in _LANG_CODES
)
_GREATEST_SQL = "greatest(" + ", ".join(f"s_{c}" for c in _LANG_CODES) + ")"
_LANG_CASE_SQL = (
    f"CASE WHEN {_GREATEST_SQL} = 0 THEN 'und' "
    + " ".join(
        f"WHEN s_{c} = {_GREATEST_SQL} THEN '{c}'" for c in _LANG_CODES[:-1]
    )
    + f" ELSE '{_LANG_CODES[-1]}' END"
)

_DOC_PROFILE_SQL = f"""
    WITH base AS (
      SELECT doc_id, text, {_sql_tokens()} AS toks FROM documents
    ),
    m AS (
      SELECT doc_id, text, toks,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_bpe_tokens,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)
         END AS praw,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(len(list_filter(toks, t -> list_contains({_sql_list(EN_STOPWORDS)}, t))) AS DOUBLE) / len(toks)
         END AS sraw,
         {_LANG_SCORES_SQL},
         list_transform(toks, t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)) AS hs
      FROM base
    )
    SELECT doc_id, n_chars, n_tokens, n_bpe_tokens,
           ROUND(praw, 6) AS punct_ratio,
           ROUND(sraw, 6) AS stopword_ratio,
           ROUND(0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
               + 0.3 * (1.0 - praw)
               + 0.3 * least(1.0, 4.0 * sraw), 6) AS quality,
           {_LANG_CASE_SQL} AS lang_pred,
           {_SQL_FINGERPRINT} AS fingerprint,
           {_SQL_SIMHASH_FROM_HS} AS simhash
    FROM m
"""

@_q("q_doc_profile", _DOC_PROFILE_SQL)
def q_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass document profiling: counts, ratios, quality, language
    ID, fingerprint, simhash — all map-side expressions."""
    return profile_documents(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------

@_q(
    "q_dedup_exact",
    f"""
    SELECT {_SQL_FINGERPRINT} AS fingerprint,
           COUNT(*) AS n_dups,
           MIN(doc_id) AS representative
    FROM documents GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by normalized-content hash (A3 scaled up)."""
    return exact_duplicate_groups(_t(spark, sf_dir, "documents"))


_MH_COEFFS = minhash_coefficients(num_hashes=48, seed=42)
_MH_SIG_TERMS = ",\n      ".join(
    f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MINHASH_PRIME}))"
    for a, b in _MH_COEFFS
)
_MH_BANDS_SQL = "\n      UNION ALL\n".join(
    f"SELECT doc_id, sig, {i} AS band, "
    f"array_to_string(sig[{i * 4 + 1}:{i * 4 + 4}], ',') AS key FROM sigs"
    for i in range(12)
)

#: CTEs sh/hb/sigs/bands/cand over a ``docs`` (doc_id, lowered text t) CTE:
#: 5-char shingles, 48-hash signatures and every band-colliding pair.
_MH_CAND_SQL = f"""sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, length(t) - 4),
                                          i -> substr(t, i, 5))) AS shingles
      FROM docs
    ),
    hb AS (
      SELECT doc_id,
             list_transform(shingles, s -> {_sql_md5_long('s')} % {MINHASH_PRIME}) AS hs
      FROM sh WHERE len(shingles) > 0
    ),
    sigs AS (
      SELECT doc_id, [
      {_MH_SIG_TERMS}] AS sig FROM hb
    ),
    bands AS (
      {_MH_BANDS_SQL}
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
             l.sig AS sa, r.sig AS sb
      FROM bands l
      JOIN bands r ON l.band = r.band AND l.key = r.key
                   AND l.doc_id < r.doc_id
    )"""

_MINHASH_SQL = f"""
    WITH docs AS (
      SELECT doc_id, lower(text) AS t FROM documents WHERE length(text) >= 5
    ),
    {_MH_CAND_SQL}
    SELECT id_a, id_b, est_jaccard FROM (
      SELECT id_a, id_b,
             CAST(len(list_filter(generate_series(1, 48), i -> sa[i] = sb[i])) AS DOUBLE) / 48.0
               AS est_jaccard
      FROM cand
    ) WHERE est_jaccard >= 0.5
"""

@_q("q_minhash_lsh", _MINHASH_SQL)
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs: shingle → 48-perm signature → 12x4
    band bucket join → estimated Jaccard >= 0.5."""
    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"),
        num_hashes=48, bands=12, shingle_n=5, threshold=0.5, seed=42,
    )


#: CTEs pairs/e: the q_minhash_lsh pairs and their symmetric edge list
#: (a, b).  Both are read many times, and DuckDB inlines a plain CTE at
#: every reference, so they are materialized once.
_PAIRS_GRAPH_SQL = f"""pairs AS MATERIALIZED ({_MINHASH_SQL}),
    e AS MATERIALIZED (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b AS a, id_a AS b FROM pairs
    )"""

#: CTEs reach/comp over ``e`` (under WITH RECURSIVE): each doc's component
#: is the least id it reaches.
_REACH_COMP_SQL = """reach(src, dst) AS (
      SELECT a, b FROM e
      UNION
      SELECT r.src, e2.b FROM reach r JOIN e e2 ON r.dst = e2.a
    ),
    comp AS (
      SELECT src AS doc_id, least(src, MIN(dst)) AS component
      FROM reach GROUP BY src
    )"""

# Iterative algorithms CAN have an exact oracle when they are
# deterministic fixed points: DuckDB's recursive CTE computes the same
# transitive closure the Spark label-propagation loop converges to.
_COMPONENTS_SQL = f"""
    WITH RECURSIVE {_PAIRS_GRAPH_SQL},
    {_REACH_COMP_SQL}
    SELECT doc_id, component,
           CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS n_members
    FROM comp
"""

#: One parameter set for the whole dedup-decision family, so the three
#: consumers (components / canonical / apply) share one cached pipeline.
_DEDUP_PARAMS = dict(num_hashes=48, bands=12, shingle_n=5, threshold=0.5, seed=42)


def _decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-staged canonical decision table for the documents corpus.
    The minhash + LSH + connected-components pipeline runs once per
    (session, corpus); q_doc_components, q_dedup_canonical, and
    q_dedup_apply all derive from the staged result instead of each
    recomputing it (the three were the bench's slowest entries)."""
    from conte_to_fresco_etl_spark.operators.dedup import canonical_docs
    from conte_to_fresco_etl_spark.session import staged

    docs = _t(spark, sf_dir, "documents")
    return staged(
        "canonical_docs", [docs], _DEDUP_PARAMS,
        lambda: canonical_docs(docs, **_DEDUP_PARAMS),
    )


@_q("q_doc_components", _COMPONENTS_SQL)
def q_doc_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: MinHash-LSH pairs → connected components
    (iterative min-label propagation) → cluster label + size per doc.
    The step a real dedup pipeline runs after candidate generation —
    transitively glues A~B, B~C into one cluster so "keep one per
    cluster" is well-defined.  Membership and size project straight off
    the shared decision table (one row per pair-connected doc)."""
    from pyspark.sql import Window

    w = Window.partitionBy("component")
    return _decision(spark, sf_dir).select(
        "doc_id", "component", F.count("*").over(w).alias("n_members")
    )


def _star_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-staged star-contraction components of the near-dup
    graph: the iterative product is computed once per session and
    every consumer reads the staging."""
    from conte_to_fresco_etl_spark.operators.dedup import (
        connected_components_star,
        minhash_lsh_pairs,
    )
    from conte_to_fresco_etl_spark.session import staged

    docs = _t(spark, sf_dir, "documents")
    return staged(
        "connected_components_star", [docs], _DEDUP_PARAMS,
        lambda: connected_components_star(
            minhash_lsh_pairs(docs, **_DEDUP_PARAMS)
        ),
    )


@_q("q_doc_components_star", _COMPONENTS_SQL)
def q_doc_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same near-dup clustering as q_doc_components, computed by
    alternating large-star/small-star contraction instead of min-label
    propagation — the O(log n)-round deep-graph path, gated against the
    identical recursive-closure oracle so both algorithms are pinned to
    the same fixed point on real candidate pairs.  Like the decision
    family, the iterative product is staged once per session
    (localCheckpoint-backed) rather than re-contracted per consumer."""
    from pyspark.sql import Window

    w = Window.partitionBy("component")
    return _star_components(spark, sf_dir).select(
        F.col("id").alias("doc_id"),
        "component",
        F.count("*").over(w).alias("n_members"),
    )


_EDITDIST_SQL = """
    WITH p AS (
      SELECT doc_id, substr(text, 1, 24) AS t
      FROM documents WHERE text IS NOT NULL
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
    FROM p a JOIN p b
      ON a.doc_id < b.doc_id AND levenshtein(a.t, b.t) <= 1
"""

@_q("q_editdist_pairs", _EDITDIST_SQL)
def q_editdist_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity join on 24-char document prefixes
    (fuzzy-title matching): FastSS deletion-neighborhood candidate
    generation + exact levenshtein verification — Σ bucket² cost where
    the oracle's formulation (and a naive Spark one) is the n² cross
    join the operator exists to avoid."""
    from conte_to_fresco_etl_spark.operators.dedup import editdist_pairs

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.substring("text", 1, 24).alias("prefix"))
    )
    return editdist_pairs(docs, id_col="doc_id", str_col="prefix")


_SIMHASH_PAIRS_SQL = f"""
    WITH base AS (
      SELECT doc_id, {_sql_tokens()} AS toks FROM documents
    ),
    h AS (
      SELECT doc_id,
             list_transform(toks, t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)) AS hs
      FROM base
    ),
    s AS (SELECT doc_id, {_SQL_SIMHASH_FROM_HS} AS sim FROM h)
    SELECT l.doc_id AS id_a, r.doc_id AS id_b,
           CAST(bit_count(xor(l.sim, r.sim)) AS BIGINT) AS hamming
    FROM s l JOIN s r ON l.doc_id < r.doc_id
    WHERE bit_count(xor(l.sim, r.sim)) <= 3
"""

@_q("q_simhash_pairs", _SIMHASH_PAIRS_SQL)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash pairs with hamming <= 3.  Spark side uses the 4x8-bit
    band pigeonhole (lossless at this threshold); the oracle brute-forces
    all pairs — identical result set, very different cost curve."""
    out = simhash_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


#: CTEs t/g: each document's distinct word 3-grams.
_DOC_TRIGRAMS_SQL = f"""t AS (
      SELECT doc_id, {_sql_tokens()} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
                                     i -> array_to_string(toks[i:i+2], ' ')))
             END AS grams
      FROM t
    )"""

#: CTEs t/g: each document's word 3-grams in order, keyed ``id``.
_ID_TRIGRAMS_SQL = f"""t AS (
      SELECT doc_id AS id, {_sql_tokens()} AS toks FROM documents
    ),
    g AS (
      SELECT id,
             CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                  ELSE list_transform(generate_series(1, len(toks) - 2),
                                      i -> array_to_string(toks[i:i+2], ' '))
             END AS grams
      FROM t
    )"""

_NGRAM_SQL = f"""
    WITH t AS (
      SELECT doc_id, lang, {_sql_tokens()} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id, lang,
             CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
                                     i -> array_to_string(toks[i:i+2], ' ')))
             END AS grams
      FROM t
    )
    SELECT id_a, id_b, jaccard FROM (
      SELECT l.doc_id AS id_a, r.doc_id AS id_b,
             CAST(len(list_intersect(l.grams, r.grams)) AS DOUBLE)
               / CAST(len(list_distinct(l.grams || r.grams)) AS DOUBLE) AS jaccard
      FROM g l JOIN g r ON l.lang = r.lang AND l.doc_id < r.doc_id
      WHERE len(l.grams) > 0 AND len(r.grams) > 0
    ) WHERE jaccard >= 0.2
"""

@_q("q_ngram_jaccard", _NGRAM_SQL)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard >= 0.2 within language blocks."""
    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        block_col="lang", ngram_n=3, threshold=0.2,
    )


# ---------------------------------------------------------------------------
# Embedding similarity
# ---------------------------------------------------------------------------

_VEC_CTE = """
    v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v)
"""

_NEARDUP_SQL = f"""
    WITH {_VEC_CTE}
    SELECT id_a, id_b, cosine FROM (
      SELECT l.vec_id AS id_a, r.vec_id AS id_b,
             ROUND(CASE WHEN l.nrm * r.nrm = 0 THEN 0.0
                        ELSE list_dot_product(l.e, r.e) / (l.nrm * r.nrm)
                   END, 6) AS cosine
      FROM n l JOIN n r ON l.vec_id < r.vec_id
    ) WHERE cosine >= 0.35
"""

@_q("q_embedding_neardup", _NEARDUP_SQL)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-dup pairs >= 0.35 — the brute-force validation
    baseline.  The scale default is q_embedding_neardup_lsh (fully
    distributed, no driver collect)."""
    return embedding_neardup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.35
    )


# Hyperplane literals shared by the Spark plan and the oracle: the SAME
# seeded floats parameterize both engines, so the banded candidate set
# is identical and the gate is exact (not a recall approximation).
# r11: 48 planes (4 bands x 12-bit segments) with DENSITY-ADAPTIVE band
# width — both engines derive bits = clamp(ceil(log2(n/64)), 4, 12)
# from their own count of the corpus, so bucket sizes stay ~64 as n
# grows and candidates stay O(n) (the fixed 4-bit keys measured ~100x
# pair work at 10x rows in the r11 one-decade bench).  The clamp means
# the gate sf0.01 (n=500: ceil(log2(500/64)) = 3, clamped up) runs at
# the 4-bit floor, sf0.1 (n=2000) at 5 bits, and sf1 (n=20000) at
# 9 bits — one formula gated at every scale.
from conte_to_fresco_etl_spark.operators.similarity import make_hyperplanes  # noqa: E402

_EMB_PLANES = make_hyperplanes(dim=64, n_planes=48, seed=42)
_EMB_SIG_SQL = "\n           + ".join(
    f"(CASE WHEN list_dot_product(e, ["
    + ", ".join(repr(float(x)) for x in p)
    + f"]) > 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    for i, p in enumerate(_EMB_PLANES)
)
_EMB_BANDS_SQL = "\n      UNION ALL\n".join(
    f"SELECT vec_id, (sig >> {b * 12}) & ((CAST(1 AS BIGINT) << bits) - 1)"
    f" AS key, {b} AS band FROM s, p"
    for b in range(4)
)


def _band_pairs_cosine_sql(src: str) -> str:
    """Pairs sharing a ``bands`` key, scored by rounded cosine over
    ``src``; those at 0.35 or above."""
    return f"""cand AS (
      SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
      FROM bands l
      JOIN bands r ON l.band = r.band AND l.key = r.key
                   AND l.vec_id < r.vec_id
    )
    SELECT id_a, id_b, cosine FROM (
      SELECT id_a, id_b,
             ROUND(CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
                        ELSE list_dot_product(a.e, b.e) / (a.nrm * b.nrm)
                   END, 6) AS cosine
      FROM cand JOIN {src} a ON cand.id_a = a.vec_id
                JOIN {src} b ON cand.id_b = b.vec_id
    ) WHERE cosine >= 0.35"""


_NEARDUP_LSH_SQL = f"""
    WITH {_VEC_CTE},
    p AS (
      SELECT LEAST(12, GREATEST(4,
               CAST(ceil(log2(CAST(count(*) AS DOUBLE) / 64.0)) AS BIGINT)
             )) AS bits
      FROM n WHERE e IS NOT NULL
    ),
    s AS (
      SELECT vec_id, {_EMB_SIG_SQL} AS sig FROM n
    ),
    bands AS (
      {_EMB_BANDS_SQL}
    ),
    {_band_pairs_cosine_sql("n")}
"""

@_q("q_embedding_neardup_lsh", _NEARDUP_LSH_SQL)
def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs >= 0.35 via banded hyperplane LSH — the
    scale-default path (no driver collect; narrow bucket-key shuffle).
    The oracle mirrors the band join from the same plane literals, so
    the candidate set — not just the scores — is gated exactly; the
    r11 density-adaptive band width (bits from log2(n), same clamp
    formula in both engines) keeps bucket sizes ~64 and candidate
    counts O(n) at any corpus size (the fixed-width form measured 37x
    wall-clock at 10x rows — see SCALE.md r11)."""
    from conte_to_fresco_etl_spark.operators.dedup import (
        embedding_lsh_neardup_pairs,
    )

    return embedding_lsh_neardup_pairs(
        _t(spark, sf_dir, "embeddings"),
        threshold=0.35, dim=64, n_planes=48, bands=4, seed=42,
        adaptive_bits=True, target_bucket=64, min_bits=4,
    )


# Auto-widened banding under the hard gate (the r12 verdict's #3 ask):
# the density rule used to CLAMP bits at the configured segment width,
# so past n ≈ target_bucket · 2^segment candidates re-entered the
# quadratic regime the adaptive clamp was built to kill.  The geometry
# here (16 planes / 4 bands / target_bucket=2) forces that cliff AT
# GATE SIZE: n=500 demands 8-bit keys against a 4-bit segment, so the
# segment widens to 8 and the plane set to 32 — both engines derive
# bits = GREATEST(4, ceil(log2(n / 2))) from their own count, UNCAPPED,
# and slice band b's planes from [b·bits, b·bits + bits).  The literal
# set below covers bits <= 24 (96 planes, the r12 control-run width) —
# n up to 2 · 2^24 ≈ 33M rows, four decades above any gate table.
_WIDEN_PLANES = make_hyperplanes(dim=64, n_planes=96, seed=42)
_WIDEN_BITLIST_SQL = ",\n        ".join(
    "CASE WHEN list_dot_product(e, ["
    + ", ".join(repr(float(x)) for x in p)
    + "]) > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    for p in _WIDEN_PLANES
)
_WIDEN_BANDS_SQL = "\n      UNION ALL\n".join(
    f"SELECT vec_id, {b} AS band,"
    f" CAST(list_sum(list_transform(generate_series(1, p.bits),"
    f" i -> bl[{b} * p.bits + i] * (CAST(1 AS BIGINT) << (i - 1))))"
    f" AS BIGINT) AS key FROM s, p"
    for b in range(4)
)

_NEARDUP_AUTOWIDEN_SQL = f"""
    WITH {_VEC_CTE},
    nn AS (SELECT vec_id, e, nrm FROM n WHERE e IS NOT NULL),
    p AS (
      SELECT CASE WHEN count(*) > 2
                  THEN GREATEST(4, CAST(ceil(log2(
                         CAST(count(*) AS DOUBLE) / 2.0)) AS BIGINT))
                  ELSE 4 END AS bits
      FROM nn
    ),
    s AS (
      SELECT vec_id, [
        {_WIDEN_BITLIST_SQL}
      ] AS bl
      FROM nn
    ),
    bands AS (
      {_WIDEN_BANDS_SQL}
    ),
    {_band_pairs_cosine_sql("nn")}
"""

@_q("q_neardup_lsh_autowiden", _NEARDUP_AUTOWIDEN_SQL)
def q_neardup_lsh_autowiden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with the AUTO-WIDENED adaptive banding
    engaged at gate size: a deliberately narrow geometry (16 planes /
    4 bands, target bucket 2) demands more key bits than its segments
    hold, so ``adaptive_band_geometry`` widens the per-band plane
    segment and the seeded plane set instead of silently clamping —
    the exact mechanics that keep the library-default geometry linear
    past its own ~262k-row cliff, hard-gated here because the oracle
    derives the same uncapped width from its own count and slices the
    same prefix-stable plane literals."""
    from conte_to_fresco_etl_spark.operators.dedup import (
        embedding_lsh_neardup_pairs,
    )

    return embedding_lsh_neardup_pairs(
        _t(spark, sf_dir, "embeddings"),
        threshold=0.35, dim=64, n_planes=16, bands=4, seed=42,
        adaptive_bits=True, target_bucket=2, min_bits=4,
    )


_ANN_SQL = f"""
    WITH {_VEC_CTE},
    q AS (SELECT * FROM n WHERE vec_id % 50 = 0)
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT query_id, neighbor_id, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
      FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND(CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
                          ELSE list_dot_product(q.e, c.e) / (q.nrm * c.nrm)
                     END, 6) AS cosine
        FROM n c, q WHERE c.vec_id <> q.vec_id
      )
    ) WHERE rank <= 5
"""

@_q("q_ann_topk", _ANN_SQL)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for the query subset (vec_id % 50 = 0):
    broadcast queries x corpus, rounded-score ranking, id tie-break."""
    emb = _t(spark, sf_dir, "embeddings")
    out = brute_force_topk(
        emb, emb.filter(F.col("vec_id") % 50 == 0), k=5
    )
    return out.select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


def _cosine_top5_sql(src: str) -> str:
    """Rank ``cand``'s (query_id, neighbor_id) pairs by rounded cosine over
    ``src`` and keep each query's top 5 (lower neighbor id on ties)."""
    return f"""SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT query_id, neighbor_id, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
      FROM (
        SELECT cand.query_id, cand.neighbor_id,
               ROUND(CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
                          ELSE list_dot_product(a.e, b.e) / (a.nrm * b.nrm)
                     END, 6) AS cosine
        FROM cand JOIN {src} a ON cand.neighbor_id = a.vec_id
                  JOIN {src} b ON cand.query_id = b.vec_id
      )
    ) WHERE rank <= 5"""


# The approximation is DETERMINISTIC given the plane literals, so even
# the approximate top-k admits an exact oracle: DuckDB rebuilds the same
# band keys from the same seeded hyperplanes and must reproduce the
# candidate sets, scores, and ranking bit-for-bit.
# q_lsh_ann_topk keeps the FIXED 16-plane / 4-bit form (its own
# fragments below — the shared _EMB_* fragments moved to 48-plane
# adaptive banding in r11): the first 16 rows of the seed-42 plane set
# are identical in both, so these literals equal the pre-r11 ones.
_LSH16_SIG_SQL = "\n           + ".join(
    f"(CASE WHEN list_dot_product(e, ["
    + ", ".join(repr(float(x)) for x in p)
    + f"]) > 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    for i, p in enumerate(make_hyperplanes(dim=64, n_planes=16, seed=42))
)
_LSH16_BANDS_SQL = "\n      UNION ALL\n".join(
    f"SELECT vec_id, (sig >> {b * 4}) & 15 AS key, {b} AS band FROM s"
    for b in range(4)
)
_LSH_ANN_SQL = f"""
    WITH {_VEC_CTE},
    s AS (
      SELECT vec_id, {_LSH16_SIG_SQL} AS sig FROM n
    ),
    bands AS (
      {_LSH16_BANDS_SQL}
    ),
    qb AS (SELECT * FROM bands WHERE vec_id % 50 = 0),
    cand AS (
      SELECT DISTINCT c.vec_id AS neighbor_id, q.vec_id AS query_id
      FROM bands c JOIN qb q ON c.band = q.band AND c.key = q.key
                            AND c.vec_id <> q.vec_id
    )
    {_cosine_top5_sql("n")}
"""

@_q("q_lsh_ann_topk", _LSH_ANN_SQL)
def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via random-hyperplane LSH (16 planes, 4 bands,
    the same literals as q_embedding_neardup_lsh).  Approximate w.r.t.
    exact search (recall tested vs q_ann_topk) but fully deterministic,
    so the oracle gates the exact candidate generation + ranking."""
    emb = _t(spark, sf_dir, "embeddings")
    out = lsh_topk(
        emb, emb.filter(F.col("vec_id") % 50 == 0), k=5, dim=64,
        n_planes=16, bands=4, seed=42,
    )
    return out.select(
        "query_id", "neighbor_id", "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


# Shared IVF/PQ oracle fragments.  Each returns CTEs without the leading
# indent or trailing comma; every distance is ROUND(.., 6) before its
# argmax/rank and the lower cell, codeword or id breaks ties, as
# ivf_topk/pq_topk do.

#: CTE cents: 8 centroids, the first vectors of ``n`` in md5('cent:' || id) order.
_SEED8_CENTS_SQL = """cents AS (
      SELECT e AS ce, nrm AS cnrm,
             CAST(ROW_NUMBER() OVER (ORDER BY h, vec_id) AS BIGINT) - 1 AS c
      FROM (
        SELECT *, substr(md5('cent:' || CAST(vec_id AS VARCHAR)), 1, 15) AS h
        FROM n ORDER BY h, vec_id LIMIT 8
      )
    )"""


def _sqrt_cents_sql(src: str, cell: str = "c") -> str:
    """CTEs nc/ranked/cents: the first k = clamp(round(sqrt n), 8, 65536)
    vectors of ``src`` in md5('cent:' || id) order, numbered ``cell``."""
    return f"""nc AS (
      SELECT LEAST(65536, GREATEST(8,
               CAST(round(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)
             )) AS k
      FROM {src}
    ),
    ranked AS (
      SELECT {src}.*,
             ROW_NUMBER() OVER (
               ORDER BY substr(md5('cent:' || CAST(vec_id AS VARCHAR)), 1, 15),
                        vec_id
             ) AS hr
      FROM {src}
    ),
    cents AS (
      SELECT e AS ce, nrm AS cnrm, CAST(hr AS BIGINT) - 1 AS {cell}
      FROM ranked, nc WHERE hr <= nc.k
    )"""


def _cent_dist_sql(name: str, src: str, cell: str = "c") -> str:
    """CTE ``name``: rounded cosine ``d`` of every ``src`` vector to every centroid."""
    return f"""{name} AS (
      SELECT {src}.vec_id, cents.{cell},
             ROUND(CASE WHEN {src}.nrm * cents.cnrm = 0 THEN 0.0
                        ELSE list_dot_product({src}.e, cents.ce)
                             / ({src}.nrm * cents.cnrm)
                   END, 6) AS d
      FROM {src} CROSS JOIN cents
    )"""


def _nearest_cells_sql(name: str, ids: str, dist: str, keep: str, cell: str = "c") -> str:
    """CTE ``name``: the cells of each vector of ``dist`` whose rank by
    (d DESC, cell ASC) satisfies ``keep``."""
    return f"""{name} AS (
      SELECT {ids}, {cell} FROM (
        SELECT vec_id, {cell},
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d DESC, {cell} ASC) AS rn
        FROM {dist}
      ) WHERE rn {keep}
    )"""


def _ivf_probe_sql(src: str, dist: str) -> str:
    """CTEs ``dist``/assign/probes: each ``src`` vector's nearest cell and
    each query's (vec_id % 50 = 0) 4 nearest cells."""
    return f"""{_cent_dist_sql(dist, src)},
    {_nearest_cells_sql("assign", "vec_id", dist, "= 1")},
    {_nearest_cells_sql("probes", "vec_id AS query_id", f"{dist} WHERE vec_id % 50 = 0", "<= 4")}"""


#: CTE cand: every vector assigned to a probed cell, per query.
_IVF_CAND_SQL = """cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assign a ON a.c = p.c
      WHERE a.vec_id <> p.query_id
    )"""


def _pq_codes_sql(dist: str) -> str:
    """CTE codes: each vector's nearest codeword ``c`` per subspace ``m`` by ``dist``'s d2."""
    return f"""codes AS (
      SELECT vec_id, m, c FROM (
        SELECT vec_id, m, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY d2 ASC, c ASC) AS rn
        FROM {dist}
      ) WHERE rn = 1
    )"""


def _pq_encode_sql(src: str) -> str:
    """CTEs cb0/cb/pd/codes: 16 codewords per 8-dim subspace, drawn as the
    first vectors of ``src`` in md5('pq:' || id) order, and ``src`` encoded."""
    return f"""cb0 AS (
      SELECT e, CAST(ROW_NUMBER() OVER (ORDER BY h, vec_id) AS BIGINT) - 1
               AS cidx
      FROM (
        SELECT *, substr(md5('pq:' || CAST(vec_id AS VARCHAR)), 1, 15) AS h
        FROM {src} ORDER BY h, vec_id LIMIT 16
      )
    ),
    cb AS (
      SELECT u.m AS m, cidx AS c, e[u.m*8+1 : u.m*8+8] AS cw
      FROM cb0, (SELECT unnest(generate_series(0, 7)) AS m) u
    ),
    pd AS (
      SELECT {src}.vec_id, cb.m, cb.c,
             ROUND(list_sum(list_transform(generate_series(1, 8),
                   i -> ({src}.e[cb.m*8+i] - cb.cw[i])
                        * ({src}.e[cb.m*8+i] - cb.cw[i]))), 6) AS d2
      FROM {src} CROSS JOIN cb
    ),
    {_pq_codes_sql("pd")}"""


#: ADC-score ``cand`` from the query's pd rows and the neighbor's codes; top 5.
_IVFPQ_ADC_TOP5_SQL = """adc AS (
      SELECT cand.query_id, cand.neighbor_id,
             ROUND(SUM(dq.d2), 6) AS approx_d2
      FROM cand
      JOIN codes co ON co.vec_id = cand.neighbor_id
      JOIN pd dq ON dq.vec_id = cand.query_id
                AND dq.m = co.m AND dq.c = co.c
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, approx_d2, rank FROM (
      SELECT query_id, neighbor_id, approx_d2,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY approx_d2 ASC, neighbor_id ASC) AS BIGINT)
               AS rank
      FROM adc
    ) WHERE rank <= 5"""


# The IVF probe is approximate w.r.t. exact search but DETERMINISTIC
# given the quantizer, and a hash-seeded quantizer is a pure function of
# the table — so DuckDB can rebuild the same 8 centroids, the same
# cell assignment, the same 4-probe sets, and must reproduce the
# approximate result bit-for-bit.  Assignment/probe order: rounded
# cosine desc, centroid index asc (the contract ivf_topk documents).
_IVF_ANN_SQL = f"""
    WITH {_VEC_CTE},
    {_SEED8_CENTS_SQL},
    {_ivf_probe_sql("n", "d")},
    {_IVF_CAND_SQL}
    {_cosine_top5_sql("n")}
"""

@_q("q_ivf_ann_topk", _IVF_ANN_SQL)
def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via an IVF coarse quantizer: 8 hash-seeded
    centroids (``seed_centroids`` — a pure function of the table, so
    the oracle rebuilds the identical quantizer), 4 probed.  The
    k-means-trained quantizer stays available for quality
    (``train_ivf_centroids``, recall-tested in tests/test_similarity);
    this catalog entry trades a step of quantizer quality for a HARD
    gate on the whole approximate probe path — cells, probe sets,
    candidate scoring, ranking.

    YARDSTICK (r12): this fixed-8 form is kept as the small-quantizer
    reference point the way q_ann_topk anchors brute force — probes
    scan n/8 vectors, measured 11.9x at 10x rows.  The deployment form
    is ``q_ivf_auto_topk`` (same search, sqrt(n)-sized quantizer,
    2.3x at 10x rows)."""
    from conte_to_fresco_etl_spark.operators.similarity import (
        ivf_topk,
        seed_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb, n_centroids=8)
    out = ivf_topk(
        emb, emb.filter(F.col("vec_id") % 50 == 0), cents, k=5, n_probe=4
    )
    return out.select(
        "query_id", "neighbor_id", "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


# The sqrt(n)-sized quantizer GATED (r11): the fixed-8 IVF queries keep
# gate-sized quantizers by oracle design, which the one-decade bench
# showed approaching brute force as n grows (cluster size n/8).  Here
# BOTH engines derive n_centroids = clamp(round(sqrt(n)), 8, 65536)
# from their own count — Python round() is banker's but sqrt(int) is
# never exactly .5, so the two rounds agree — and the hash-ranked seed
# draw stays a pure function of the table, so assignment, probes, and
# ranking remain exactly oracle-checkable at EVERY corpus size.
_IVF_AUTO_SQL = f"""
    WITH {_VEC_CTE},
    -- nn: null-filtered universe — the Spark side (seed_centroids /
    -- ivf_topk) drops null embeddings before ranking seeds, assigning
    -- cells, or emitting candidates, so a rank<=k gate must rank and
    -- probe over the same filtered set
    nn AS (SELECT * FROM n WHERE e IS NOT NULL),
    {_sqrt_cents_sql("nn")},
    {_ivf_probe_sql("nn", "d")},
    {_IVF_CAND_SQL}
    {_cosine_top5_sql("nn")}
"""

@_q("q_ivf_auto_topk", _IVF_AUTO_SQL)
def q_ivf_auto_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 with the sqrt(n)-sized quantizer — the deployment form
    of the IVF family: probe cost stays O(sqrt n) per query instead of
    O(n/8), and the sizing rule itself (resolve_n_centroids) sits
    inside the driver gate because both engines derive the same
    centroid count from their own count of the corpus."""
    from conte_to_fresco_etl_spark.operators.similarity import (
        ivf_topk,
        seed_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb, n_centroids="auto")
    out = ivf_topk(
        emb, emb.filter(F.col("vec_id") % 50 == 0), cents, k=5, n_probe=4
    )
    return out.select(
        "query_id", "neighbor_id", "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


def _gate_columns(table: str, columns: list[str]) -> dict | None:
    """``columns`` of one table of the gate scale factor
    (``$SPARK_GRAFT_GATE_SF_DIR``) as Python lists; None when the table
    is absent, so its oracle gets the weak check.  A table that is there
    but cannot be read raises, naming its path."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(
        os.environ.get("SPARK_GRAFT_GATE_SF_DIR", "/root/testdata/sf0.01"),
        table,
    )
    if not os.path.exists(path):
        return None
    try:
        return pq.read_table(path, columns=columns).to_pydict()
    except (OSError, pa.ArrowException) as exc:
        raise ValueError(f"gate table {path} is unreadable: {exc}") from exc


@functools.lru_cache(maxsize=4)
def _gate_docs() -> tuple | None:
    """(doc_ids, texts) of the gate corpus, read ONCE per process (the
    BPE and compression oracle builders and q_bpe_apply all consume it)."""
    cols = _gate_columns("documents.parquet", ["doc_id", "text"])
    return None if cols is None else (tuple(cols["doc_id"]), tuple(cols["text"]))


@functools.lru_cache(maxsize=1)
def _gate_vectors() -> tuple | None:
    """(vec_id, embedding) of every gate vector with an embedding, read
    ONCE per process (the IVF and PQ oracle builders consume it)."""
    cols = _gate_columns("embeddings.parquet", ["vec_id", "embedding"])
    if cols is None:
        return None
    return tuple(
        (i, v) for i, v in zip(cols["vec_id"], cols["embedding"]) if v is not None
    )


def _ivf_trained_sql() -> str | None:
    """Oracle for the PRODUCTION quantizer path: retrain the identical
    spherical-k-means centroids from the gate tables WITHOUT Spark
    (pyarrow read → the same ``spherical_kmeans_core``, which sorts by
    id so the float-op sequence is a pure function of the (id, vector)
    set) and embed them as double literals — the ``_kmeans_sql``
    pattern.  The gate contract runs oracles at sf0.01, so literals are
    derived from the sf0.01 table; if it is absent (foreign checkout),
    return None and the query falls back to the driver's rows-only
    check.

    r12: the quantizer is COUNT-SIZED, not fixed-8 — k = clamp(
    round(sqrt(n)), 8, 65536) from the oracle's own row count, the
    same ``resolve_n_centroids('auto')`` rule the Spark side applies
    to its own count, so the two engines derive the same k at every
    gate sf (the fixed-8 form measured 12.7x wall-clock at 10x rows in
    the r11 one-decade bench: every probe scanned n/8 vectors)."""
    import math

    import numpy as np

    from conte_to_fresco_etl_spark.operators.similarity import (
        spherical_kmeans_core,
    )

    pairs = _gate_vectors()
    if pairs is None:
        return None
    k = min(65536, max(8, round(math.sqrt(max(len(pairs), 1)))))
    cents = spherical_kmeans_core(
        np.array([p[0] for p in pairs]),
        np.array([p[1] for p in pairs], dtype=np.float64),
        n_centroids=k,
        iters=10,
        seed=42,
    )
    values = ",\n        ".join(
        "([" + ", ".join(repr(float(x)) for x in c) + f"], {j})"
        for j, c in enumerate(cents)
    )
    return f"""
    WITH {_VEC_CTE},
    cents AS (
      SELECT ce, sqrt(list_dot_product(ce, ce)) AS cnrm, c
      FROM (VALUES
        {values}
      ) AS t(ce, c)
    ),
    {_ivf_probe_sql("n", "d")},
    {_IVF_CAND_SQL}
    {_cosine_top5_sql("n")}
"""


@_q("q_ivf_trained_topk", _ivf_trained_sql())
def q_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production IVF quantizer path under the hard gate: centroids
    k-means-TRAINED on the corpus (``train_ivf_centroids`` — budgeted
    driver-side fit, id-sorted so the result is collect-order
    independent), then the same deterministic 4-probe search as
    q_ivf_ann_topk.  The oracle retrains the identical centroids from
    the same table via the shared NumPy core and embeds them as
    literals, closing the r3 gap where only the hash-seeded stand-in
    quantizer was hash-gated.

    r12: the quantizer is sqrt(n)-SIZED (``n_centroids='auto'`` →
    clamp(round(sqrt n), 8, 65536) from one count) — the oracle builder
    derives the same k from its own row count before retraining, so
    the gate holds at every sf while probe cost stays O(sqrt n) per
    query (fixed-8 measured 12.7x at 10x rows, BENCH_FULL_SF1 r11)."""
    from conte_to_fresco_etl_spark.operators.similarity import (
        ivf_topk,
        train_ivf_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = train_ivf_centroids(emb, n_centroids="auto", iters=10, seed=42)
    out = ivf_topk(
        emb, emb.filter(F.col("vec_id") % 50 == 0), cents, k=5, n_probe=4
    )
    return out.select(
        "query_id", "neighbor_id", "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


@_q("q_ivf_served_topk", _ivf_trained_sql())
def q_ivf_served_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVING path of the same trained-IVF search: the quantizer
    is loaded from a persisted parquet index (train → save → reload on
    cold start, fingerprint-checked reuse on warm), so repeated query
    sessions stop re-paying the training read — at 100 TB retraining
    per job is real money.  Results are identical to
    ``q_ivf_trained_topk`` by construction (parquet doubles round-trip
    float64 exactly), which is exactly what the shared oracle pins.
    r12: serves the sqrt(n)-sized quantizer (``n_centroids='auto'``),
    same migration and same count-derived oracle k as the trained
    form (fixed-8 serving measured 10.5x at 10x rows)."""
    import hashlib
    import os
    import tempfile

    from conte_to_fresco_etl_spark.operators.similarity import (
        served_ivf_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    idx = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_ann_idx",
        hashlib.md5(
            f"{spark.sparkContext.applicationId}:{sf_dir}".encode()
        ).hexdigest()[:16],
    )
    out = served_ivf_topk(
        emb,
        emb.filter(F.col("vec_id") % 50 == 0),
        index_path=idx,
        n_centroids="auto",
        k=5,
        n_probe=4,
    )
    return out.select(
        "query_id", "neighbor_id", "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


# Incremental serving-index append under the hard gate: the quantizer
# is FROZEN at first build (hash-seeded over the BASE batch only — the
# FAISS add-after-train convention), so the oracle derives centroids
# from the base subset, assigns the FULL corpus (base + appended batch)
# under them, and re-runs the probe search — exactly what a serve over
# the appended cell layout must produce if append_index assigned and
# wrote the new rows correctly AND merged the fingerprint correctly
# (a broken merge makes served_ivf_topk silently retrain on the full
# corpus, which this oracle's base-only centroids would catch).
_IVF_INCR_SQL = f"""
    WITH {_VEC_CTE},
    nn AS (SELECT * FROM n WHERE e IS NOT NULL),
    base AS (SELECT * FROM nn WHERE vec_id % 4 <> 0),
    {_sqrt_cents_sql("base")},
    {_ivf_probe_sql("nn", "d")},
    {_IVF_CAND_SQL}
    {_cosine_top5_sql("nn")}
"""

@_q("q_ivf_served_incremental", _IVF_INCR_SQL)
def q_ivf_served_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growing-corpus ANN serving (the r12 verdict's #2 ask, mirroring
    the q_incremental_dedup shape): build the stored cell layout from
    the base batch (vec_id % 4 <> 0), ``append_index`` the new batch
    under the FROZEN quantizer — O(|batch|) ingest, no rebuild of the
    historical layout — then serve the full corpus.  The serve routes
    through ``served_ivf_topk``, which only takes the warm
    (preassigned) path if the fingerprint ``append_index`` merged
    additively equals the full corpus's own fingerprint, so the gate
    covers assignment, the appended layout, AND the identity
    bookkeeping; the oracle re-derives everything from the full table
    with base-only centroids."""
    import hashlib
    import os
    import shutil
    import tempfile

    from conte_to_fresco_etl_spark.operators.similarity import (
        append_index,
        assign_cells,
        corpus_fingerprint,
        save_index,
        seed_centroids,
        served_ivf_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    idx = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_ann_idx",
        hashlib.md5(
            f"{spark.sparkContext.applicationId}:{sf_dir}:incr".encode()
        ).hexdigest()[:16],
    )
    # append is add-only (FAISS convention): rebuild the two-batch
    # history from scratch each invocation so re-runs stay idempotent
    shutil.rmtree(idx, ignore_errors=True)
    cents = seed_centroids(base, n_centroids="auto")
    save_index(
        spark,
        idx,
        centroids=cents,
        fingerprint=corpus_fingerprint(base),
        assigned=assign_cells(base, cents),
    )
    append_index(spark, idx, batch)
    out = served_ivf_topk(
        emb,
        emb.filter(F.col("vec_id") % 50 == 0),
        index_path=idx,
        n_centroids="auto",
        k=5,
        n_probe=4,
    )
    return out.select(
        "query_id", "neighbor_id", "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


def _pq_sql(m_sub: int = 8, k_sub: int = 16, k: int = 5) -> str | None:
    """Oracle for product-quantization ADC search: rebuild the
    hash-ranked codebook draw from the gate table WITHOUT Spark (the
    ``_ivf_trained_sql`` pattern) and embed the codewords as literals;
    encoding (per-subspace argmin) and ADC scoring (sum of table
    lookups) run in SQL.  Distances round to 6 before and after the
    M-term sum on both engines."""
    import hashlib

    import numpy as np

    pairs = _gate_vectors()
    if pairs is None:
        return None
    ranked = sorted(
        pairs,
        key=lambda p: (
            hashlib.md5(f"pq:{p[0]}".encode()).hexdigest()[:15],
            p[0],
        ),
    )[:k_sub]
    seeds = np.array([v for _, v in ranked], dtype=np.float64)
    dim = seeds.shape[1]
    sub = dim // m_sub
    cb = seeds.reshape(k_sub, m_sub, sub).transpose(1, 0, 2)
    values = ",\n        ".join(
        "([" + ", ".join(repr(float(x)) for x in cb[m, c]) + f"], {m}, {c})"
        for m in range(m_sub)
        for c in range(k_sub)
    )
    return f"""
    WITH {_VEC_CTE},
    cb AS (
      SELECT cw, m, c FROM (VALUES
        {values}
      ) AS t(cw, m, c)
    ),
    d AS (
      SELECT n.vec_id, cb.m, cb.c,
             ROUND(list_sum(list_transform(generate_series(1, {sub}),
                   i -> (n.e[cb.m*{sub}+i] - cw[i])
                        * (n.e[cb.m*{sub}+i] - cw[i]))), 6) AS d2
      FROM n CROSS JOIN cb
    ),
    {_pq_codes_sql("d")},
    adc AS (
      SELECT dq.vec_id AS query_id, co.vec_id AS neighbor_id,
             ROUND(SUM(dq.d2), 6) AS approx_d2
      FROM codes co JOIN d dq ON dq.m = co.m AND dq.c = co.c
      WHERE dq.vec_id % 50 = 0 AND co.vec_id <> dq.vec_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, approx_d2, rank FROM (
      SELECT query_id, neighbor_id, approx_d2,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY approx_d2 ASC, neighbor_id ASC) AS BIGINT) AS rank
      FROM adc
    ) WHERE rank <= {k}
"""


@_q("q_pq_topk", _pq_sql())
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN under the hard gate: hash-ranked
    codebook draw (oracle-reconstructable), map-side encode to 8 codes
    per vector, ADC scoring as 8 table lookups per pair instead of a
    64-dim dot product.  The compressed-domain path that lets a 100 TB
    embedding corpus search from a 32x smaller code table.

    YARDSTICK (r12): FLAT ADC still scans every code per query —
    compression shrinks the per-pair constant (D FLOPs → M lookups),
    not the O(n_q · n) pair count, so this form measured 7.7x at 10x
    rows and is kept as the compressed-domain brute-force anchor.  The
    deployment form is ``q_ivfpq_auto_topk``: the same codes behind a
    sqrt(n)-sized coarse quantizer, so only probed lists are ADC-
    scored."""
    from conte_to_fresco_etl_spark.operators.similarity import (
        pq_codebooks,
        pq_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_codebooks(emb, m_sub=8, k_sub=16)
    out = pq_topk(emb, emb.filter(F.col("vec_id") % 50 == 0), cb, k=5)
    return out.select(
        "query_id", "neighbor_id", "approx_d2",
        F.col("rank").cast("long").alias("rank"),
    )


_IVFPQ_SQL = f"""
    WITH {_VEC_CTE},
    {_SEED8_CENTS_SQL},
    {_ivf_probe_sql("n", "cd")},
    {_pq_encode_sql("n")},
    {_IVF_CAND_SQL},
    {_IVFPQ_ADC_TOP5_SQL}
"""

@_q("q_ivfpq_topk", _IVFPQ_SQL)
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composed search (the FAISS-IVFPQ shape) under the hard
    gate: the coarse quantizer prunes WHICH vectors are scored, PQ
    compresses HOW each surviving pair is scored; the prunings
    multiply.  The oracle is literal-free — both seeded quantizers are
    re-derived inside SQL from the table alone.

    YARDSTICK (r12): fixed-8 coarse stage (probed lists hold n/8
    codes, 5.5x at 10x rows).  The deployment form is
    ``q_ivfpq_auto_topk`` — identical codes and ADC, sqrt(n)-sized
    coarse quantizer."""
    from conte_to_fresco_etl_spark.operators.similarity import (
        ivfpq_topk,
        pq_codebooks,
        seed_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb, n_centroids=8)
    cb = pq_codebooks(emb, m_sub=8, k_sub=16)
    out = ivfpq_topk(
        emb, emb.filter(F.col("vec_id") % 50 == 0), cents, cb, k=5, n_probe=4
    )
    return out.select(
        "query_id", "neighbor_id", "approx_d2",
        F.col("rank").cast("long").alias("rank"),
    )


# The deployment form of the compressed-domain family: the SAME
# hash-ranked PQ codebooks and ADC scoring as q_pq_topk/q_ivfpq_topk,
# behind a COUNT-SIZED coarse quantizer — nc/ranked derive k =
# clamp(round(sqrt n), 8, 65536) exactly as _IVF_AUTO_SQL does, so each
# probed list holds ~sqrt(n) codes and per-query ADC work is
# O(n_probe * sqrt(n) * M) instead of the flat scan's O(n * M).
# Literal-free: both quantizers re-derive inside SQL from the
# null-filtered table, so the gate is exact at every corpus size.
_IVFPQ_AUTO_SQL = f"""
    WITH {_VEC_CTE},
    nn AS (SELECT * FROM n WHERE e IS NOT NULL),
    {_sqrt_cents_sql("nn")},
    {_ivf_probe_sql("nn", "cd")},
    {_pq_encode_sql("nn")},
    {_IVF_CAND_SQL},
    {_IVFPQ_ADC_TOP5_SQL}
"""

@_q("q_ivfpq_auto_topk", _IVFPQ_AUTO_SQL)
def q_ivfpq_auto_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with the sqrt(n)-sized coarse quantizer — the deployment
    form of the compressed-domain family (the r12 scale sibling that
    retires q_pq_topk/q_ivfpq_topk to yardsticks): probe cost per
    query is O(n_probe * sqrt(n)) code rows, each scored as M table
    lookups, and both quantizers (count-sized hash-ranked centroids,
    hash-ranked PQ codebooks) are pure functions of the table that the
    literal-free oracle re-derives in SQL at any corpus size."""
    from conte_to_fresco_etl_spark.operators.similarity import (
        ivfpq_topk,
        pq_codebooks,
        seed_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb, n_centroids="auto")
    cb = pq_codebooks(emb, m_sub=8, k_sub=16)
    out = ivfpq_topk(
        emb, emb.filter(F.col("vec_id") % 50 == 0), cents, cb, k=5, n_probe=4
    )
    return out.select(
        "query_id", "neighbor_id", "approx_d2",
        F.col("rank").cast("long").alias("rank"),
    )


_SEMDEDUP_SQL = f"""
    WITH {_VEC_CTE},
    {_SEED8_CENTS_SQL},
    {_cent_dist_sql("cd", "n")},
    {_nearest_cells_sql("assign", "vec_id", "cd", "= 1")},
    av AS (
      SELECT a.vec_id, a.c, n.e, n.nrm
      FROM assign a JOIN n ON a.vec_id = n.vec_id
    ),
    drops AS (
      SELECT DISTINCT x.vec_id
      FROM av x JOIN av y ON x.c = y.c AND y.vec_id < x.vec_id
      WHERE ROUND(CASE WHEN x.nrm * y.nrm = 0 THEN 0.0
                       ELSE list_dot_product(x.e, y.e) / (x.nrm * y.nrm)
                  END, 6) >= 0.3
    )
    SELECT av.vec_id, CAST(av.c AS BIGINT) AS cluster,
           d.vec_id IS NULL AS keep
    FROM av LEFT JOIN drops d ON av.vec_id = d.vec_id
"""

@_q("q_semantic_dedup", _SEMDEDUP_SQL)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup): coarse-cluster embeddings with the
    hash-seeded quantizer, then drop items with a smaller-id near-
    neighbor (cosine >= 0.3) INSIDE their cluster — pairwise work is
    sum of cluster-size squared, never corpus squared."""
    from conte_to_fresco_etl_spark.operators.similarity import (
        seed_centroids,
        semantic_dedup,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb, n_centroids=8)
    return semantic_dedup(emb, cents, threshold=0.3)


@_q("q_ivf_exhaustive", _ANN_SQL)
def q_ivf_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with ``n_probe == n_centroids`` — every inverted list is
    probed, which provably reproduces exact search, so the IVF machinery
    (assignment, probe sets, candidate scoring, ranking) runs under the
    SAME hard oracle as q_ann_topk.  The approximate-probe sibling
    q_ivf_ann_topk stays rows-only; this entry is its hard gate."""
    from conte_to_fresco_etl_spark.operators.similarity import (
        ivf_topk,
        train_ivf_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = train_ivf_centroids(emb, n_centroids=8, seed=42)
    out = ivf_topk(
        emb, emb.filter(F.col("vec_id") % 50 == 0), cents, k=5, n_probe=8
    )
    return out.select(
        "query_id", "neighbor_id", "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


# Each document becomes a REAL 2x2 binary PPM whose 12 pixel bytes are
# the first 12 hex chars of md5(text) — a payload both engines construct
# byte-identically, decoded by the real PPM parser (numpy_codec), with
# EVERY output column including the decoded pixel statistics recomputed
# by the oracle: mean is an exact double (integer sum / 12), std matches
# under ROUND 6.
_PPM_HEADER = "P6\n2 2\n255\n"

_MEDIA_DECODE_SQL = f"""
    WITH d AS (
      SELECT doc_id AS media_id,
             '{_PPM_HEADER}' || substr(md5(text), 1, 12) AS s,
             substr(md5(text), 1, 12) AS px
      FROM documents WHERE text IS NOT NULL
    ),
    p AS (
      SELECT media_id, s,
             list_transform(generate_series(1, 12),
                            i -> CAST(ascii(substr(px, i, 1)) AS DOUBLE))
               AS vals
      FROM d
    )
    SELECT media_id,
           'image' AS modality,
           CAST(octet_length(encode(s)) AS BIGINT) AS n_bytes,
           md5(s) AS payload_md5,
           CAST(12 AS BIGINT) AS n_values,
           ROUND(list_sum(vals) / 12.0, 6) AS mean,
           ROUND(sqrt(list_sum(list_transform(vals,
                        x -> (x - list_sum(vals) / 12.0)
                             * (x - list_sum(vals) / 12.0))) / 12.0), 6)
             AS std
    FROM p
"""

@_q("q_media_decode", _MEDIA_DECODE_SQL)
def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode as a declared query, REAL codec end-to-end:
    each document is packed into a valid 2x2 binary PPM (pixel bytes =
    md5-hex prefix, so both engines build the identical payload),
    shipped across the Arrow boundary as a binary column, and decoded
    by the dependency-free PPM parser.  The oracle recomputes every
    output column — payload length and md5 (pins byte-identity of the
    binary column), decoded value count, and the decoded pixel mean and
    std (pins the decode itself): the full decode path is gated, not
    just the plumbing."""
    from conte_to_fresco_etl_spark.operators.media import (
        decode_stats,
        numpy_codec,
    )

    docs = _t(spark, sf_dir, "documents")
    media = docs.filter(F.col("text").isNotNull()).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("modality"),
        F.encode(
            F.concat(
                F.lit(_PPM_HEADER), F.substring(F.md5(F.col("text")), 1, 12)
            ),
            "utf-8",
        ).alias("payload"),
    )
    out = decode_stats(media, codec=numpy_codec)
    return out.select(
        "media_id",
        "modality",
        "n_bytes",
        "payload_md5",
        "n_values",
        F.round("mean", 6).alias("mean"),
        F.round("std", 6).alias("std"),
    )


_MEDIA_FEATURES_SQL = """
    WITH h AS (
      SELECT doc_id AS media_id, substr(md5(text), 1, 12) AS hx
      FROM documents WHERE text IS NOT NULL
    )
    SELECT media_id,
           CAST(i - 1 AS BIGINT) AS dim_idx,
           CASE WHEN i <= 12 THEN CAST(ascii(substr(hx, i, 1)) AS DOUBLE)
                ELSE 0.0 END AS value
    FROM h, generate_series(1, 16) AS g(i)
"""

@_q("q_media_features", _MEDIA_FEATURES_SQL)
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode → feature-vector extraction gated end-to-end: the same
    PPM payloads as q_media_decode flow through ``extract_features``
    (real codec, Arrow batches, fixed-width ``array<float>`` output —
    the embedding-column producer that feeds the similarity/dedup
    operators), then the vector is exploded to (media_id, dim_idx,
    value) so the gate hashes scalars.  Pixel samples are 8-bit ints:
    float32 represents them exactly, so the double cast is lossless
    and the oracle recomputes every element from the payload bytes."""
    from conte_to_fresco_etl_spark.operators.media import (
        extract_features,
        numpy_codec,
    )

    docs = _t(spark, sf_dir, "documents")
    media = docs.filter(F.col("text").isNotNull()).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("modality"),
        F.encode(
            F.concat(
                F.lit(_PPM_HEADER), F.substring(F.md5(F.col("text")), 1, 12)
            ),
            "utf-8",
        ).alias("payload"),
    )
    feats = extract_features(media, codec=numpy_codec, dim=16)
    return feats.select(
        "media_id", F.posexplode("embedding").alias("dim_idx", "v")
    ).select(
        "media_id",
        F.col("dim_idx").cast("long").alias("dim_idx"),
        F.col("v").cast("double").alias("value"),
    )


# The per-row decode budget gated end-to-end: every 7th document's PPM
# payload is padded past the 64-byte test budget, so decode_stats must
# emit it as a skip-with-reason row (byte-identity columns computed
# from the padded bytes, n_values 0, NULL mean, the exact reason
# string) while the in-budget rows decode normally.  The oracle
# recomputes BOTH behaviors — including the reason text — from the same
# md5-derived payload construction.  Padded payloads are not valid PPMs
# (trailing junk): the oracle matching proves the codec never saw them.
_MEDIA_BUDGET_SQL = f"""
    WITH d AS (
      SELECT doc_id AS media_id,
             '{_PPM_HEADER}' || substr(md5(text), 1, 12) ||
               CASE WHEN doc_id % 7 = 0 THEN repeat('x', 200) ELSE '' END
               AS s,
             substr(md5(text), 1, 12) AS px,
             (doc_id % 7 = 0) AS oversize
      FROM documents WHERE text IS NOT NULL
    ),
    p AS (
      SELECT media_id, s, oversize,
             list_transform(generate_series(1, 12),
                            i -> CAST(ascii(substr(px, i, 1)) AS DOUBLE))
               AS vals
      FROM d
    )
    SELECT media_id,
           CAST(octet_length(encode(s)) AS BIGINT) AS n_bytes,
           md5(s) AS payload_md5,
           CAST(CASE WHEN oversize THEN 0 ELSE 12 END AS BIGINT)
             AS n_values,
           CASE WHEN oversize THEN NULL
                ELSE ROUND(list_sum(vals) / 12.0, 6) END AS mean,
           CASE WHEN oversize
                THEN 'oversize: ' ||
                     CAST(octet_length(encode(s)) AS VARCHAR) ||
                     ' bytes > max_bytes=64'
                ELSE NULL END AS skip_reason
    FROM p
"""

@_q("q_media_budget", _MEDIA_BUDGET_SQL)
def q_media_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The media walkers' memory contract as a declared query: payloads
    over the decode budget never reach the codec but are never silently
    dropped either — decode_stats accounts them with byte-identity
    columns plus a reason string.  Every 7th payload is padded past a
    64-byte budget (and is NOT a valid PPM — trailing junk after the
    pixel bytes — so a budget breach would crash the decode rather than
    pass); the oracle recomputes the split, the padded lengths/md5s,
    and the reason text itself."""
    from conte_to_fresco_etl_spark.operators.media import (
        decode_stats,
        numpy_codec,
    )

    docs = _t(spark, sf_dir, "documents")
    media = docs.filter(F.col("text").isNotNull()).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("modality"),
        F.encode(
            F.concat(
                F.lit(_PPM_HEADER),
                F.substring(F.md5(F.col("text")), 1, 12),
                F.when(
                    F.col("doc_id") % 7 == 0, F.lit("x" * 200)
                ).otherwise(F.lit("")),
            ),
            "utf-8",
        ).alias("payload"),
    )
    out = decode_stats(media, codec=numpy_codec, max_bytes=64)
    return out.select(
        "media_id",
        "n_bytes",
        "payload_md5",
        "n_values",
        F.round("mean", 6).alias("mean"),
        "skip_reason",
    )


# ---------------------------------------------------------------------------
# Container triage over real OGG-Opus / MP4 payloads (the walkers'
# driver row): per-document fixture containers are built byte-for-byte
# from md5(text) hex digits, so the oracle recomputes every walker
# output (page/packet/track counts, codec identification, RFC 6716
# TOC-summed Opus duration, RFC 7845 granule bookkeeping, mvhd
# duration) from the same digits with pure SQL arithmetic.
# ---------------------------------------------------------------------------

#: d(i): 0-based hex digit i of md5(text) as an integer (SQL side).
def _sql_hexd(i: int) -> str:
    return f"(strpos('0123456789abcdef', substr(hx, {i + 1}, 1)) - 1)"


def _sql_opus_spf(cfg: str) -> str:
    """RFC 6716 Table 2: samples-per-frame at 48 kHz for a config."""
    return (
        f"(CASE WHEN {cfg} < 12 THEN "
        f"  (CASE ({cfg}) % 4 WHEN 0 THEN 480 WHEN 1 THEN 960 "
        f"   WHEN 2 THEN 1920 ELSE 2880 END) "
        f"WHEN {cfg} < 16 THEN "
        f"  (CASE WHEN ({cfg}) % 2 = 0 THEN 480 ELSE 960 END) "
        f"ELSE "
        f"  (CASE ({cfg}) % 4 WHEN 0 THEN 120 WHEN 1 THEN 240 "
        f"   WHEN 2 THEN 480 ELSE 960 END) END)"
    )


def _container_stats_sql() -> str:
    # Opus: total samples over the 1 + d5 % 4 audio packets, packet j
    # using config d(6+j) % 32 (code 0 — one frame per packet)
    total = " + ".join(
        f"(CASE WHEN {j} < n_audio THEN "
        + _sql_opus_spf(f"{_sql_hexd(6 + j)} % 32")
        + " ELSE 0 END)"
        for j in range(4)
    )
    # MP4: track t is video iff d(2+t) % 2 = 0 (t < n_tracks = 1 + d1 % 3)
    any_vide = " OR ".join(
        f"({t} < n_tracks AND {_sql_hexd(2 + t)} % 2 = 0)" for t in range(3)
    )
    any_soun = " OR ".join(
        f"({t} < n_tracks AND {_sql_hexd(2 + t)} % 2 = 1)" for t in range(3)
    )
    return f"""
    WITH h AS (
      SELECT doc_id AS media_id, md5(text) AS hx
      FROM documents WHERE text IS NOT NULL
    ),
    p AS (
      SELECT media_id, hx,
             {_sql_hexd(0)} % 2 = 0 AS is_ogg,
             1 + {_sql_hexd(5)} % 4 AS n_audio,
             1 + {_sql_hexd(1)} % 3 AS n_tracks
      FROM h
    ),
    q AS (
      SELECT media_id, hx, is_ogg, n_audio, n_tracks,
             {total} AS total_samples,
             {_sql_hexd(3)} * 16 + {_sql_hexd(4)} AS pre_skip,
             ({any_vide}) AS any_vide,
             ({any_soun}) AS any_soun
      FROM p
    )
    SELECT media_id,
           CASE WHEN is_ogg THEN 'ogg' ELSE 'mp4' END AS format,
           CASE WHEN is_ogg THEN 'opus'
                WHEN any_vide THEN 'avc1' ELSE 'mp4a' END AS codec,
           CASE WHEN is_ogg THEN CAST(1 + {_sql_hexd(1)} % 2 AS BIGINT)
                WHEN any_soun THEN CAST(1 + {_sql_hexd(5)} % 2 AS BIGINT)
                END AS channels,
           CASE WHEN is_ogg THEN CAST(
                  (CASE {_sql_hexd(2)} % 5 WHEN 0 THEN 8000 WHEN 1 THEN 12000
                   WHEN 2 THEN 16000 WHEN 3 THEN 24000 ELSE 48000 END)
                  AS BIGINT)
                WHEN any_soun THEN CAST(
                  (CASE {_sql_hexd(6)} % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                   WHEN 2 THEN 32000 ELSE 48000 END) AS BIGINT)
                END AS sample_rate,
           CAST(CASE WHEN is_ogg THEN 2 + n_audio ELSE n_tracks END
                AS BIGINT) AS n_pages,
           CAST(CASE WHEN is_ogg THEN 2 + n_audio ELSE n_tracks END
                AS BIGINT) AS n_packets,
           CASE WHEN is_ogg THEN CAST(pre_skip + total_samples AS BIGINT)
                END AS last_granule,
           CASE WHEN is_ogg
                THEN ROUND(CAST(total_samples AS DOUBLE) / 48.0, 6)
                ELSE ROUND(CAST({_sql_hexd(7)} * 16 + {_sql_hexd(8)}
                           AS DOUBLE) * 1000.0, 6)
                END AS duration_ms
    FROM q
"""


@_q("q_container_stats", _container_stats_sql())
def q_container_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio/video container triage as a declared query, REAL walkers
    end-to-end: each document becomes a spec-valid container built
    from its md5 hex digits — an OGG-Opus stream (RFC 3533 pages with
    real CRCs, OpusHead/OpusTags headers, 1-4 audio packets whose TOC
    bytes draw from all 32 RFC 6716 configs, RFC 7845 granule
    bookkeeping) or an ISO-BMFF MP4 (ftyp/moov/mvhd + 1-3 trak trees
    with hdlr + stsd sample entries) — shipped as a binary column and
    walked by ``media.container_stats``.  The oracle recomputes every
    output (codec identification, page/packet/track counts, TOC-summed
    duration, granule, mvhd duration) from the same digits, so the
    page CRC math, lacing reassembly, box-grammar recursion, and TOC
    semantics are all inside the gate."""
    import struct

    from conte_to_fresco_etl_spark.operators.media import container_stats

    def build_payloads(it):
        import hashlib

        import pandas as pd

        from conte_to_fresco_etl_spark.operators.media_mp4 import build_box
        from conte_to_fresco_etl_spark.operators.media_ogg import (
            _OPUS_CONFIGS,
            build_ogg_page,
        )

        def ogg_payload(h: str) -> bytes:
            d = [int(c, 16) for c in h]
            channels = 1 + d[1] % 2
            rate = (8000, 12000, 16000, 24000, 48000)[d[2] % 5]
            pre_skip = d[3] * 16 + d[4]
            n_audio = 1 + d[5] % 4
            head = (
                b"OpusHead" + bytes([1, channels])
                + struct.pack("<H", pre_skip)
                + struct.pack("<I", rate)
                + struct.pack("<h", 0) + bytes([0])
            )
            tags = (
                b"OpusTags" + struct.pack("<I", 2) + b"cs"
                + struct.pack("<I", 0)
            )
            serial = d[0] * 16 + d[1]
            pages = [
                build_ogg_page(serial, 0, 0, [head], header_type=0x02),
                build_ogg_page(serial, 1, 0, [tags]),
            ]
            granule = pre_skip
            for j in range(n_audio):
                config = d[6 + j] % 32
                stereo = d[10 + j] % 2
                toc = (config << 3) | (stereo << 2)  # code 0: one frame
                pkt = bytes([toc]) + b"\x00" * d[11]
                granule += _OPUS_CONFIGS[config][2]
                flags = 0x04 if j == n_audio - 1 else 0
                pages.append(
                    build_ogg_page(
                        serial, 2 + j, granule, [pkt], header_type=flags
                    )
                )
            return b"".join(pages)

        def mp4_payload(h: str) -> bytes:
            d = [int(c, 16) for c in h]
            n_tracks = 1 + d[1] % 3
            ftyp = build_box(
                b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom"
            )
            dur_s = d[7] * 16 + d[8]
            mvhd = build_box(
                b"mvhd",
                bytes(4) + bytes(8)
                + struct.pack(">I", 1)        # timescale: 1 unit = 1 s
                + struct.pack(">I", dur_s)
                + bytes(80),
            )
            traks = b""
            for t in range(n_tracks):
                vide = d[2 + t] % 2 == 0
                if vide:
                    entry = struct.pack(">I", 16) + b"avc1" + bytes(8)
                    hdlr = build_box(b"hdlr", bytes(8) + b"vide" + bytes(12))
                else:
                    ch = 1 + d[5] % 2
                    rate = (8000, 16000, 32000, 48000)[d[6] % 4]
                    entry = (
                        struct.pack(">I", 36) + b"mp4a" + bytes(6)
                        + struct.pack(">H", 1) + bytes(8)
                        + struct.pack(">H", ch)
                        + struct.pack(">H", 16) + bytes(4)
                        + struct.pack(">I", rate << 16)
                    )
                    hdlr = build_box(b"hdlr", bytes(8) + b"soun" + bytes(12))
                stsd = build_box(
                    b"stsd", bytes(4) + struct.pack(">I", 1) + entry
                )
                traks += build_box(
                    b"trak",
                    build_box(
                        b"mdia",
                        hdlr + build_box(b"minf", build_box(b"stbl", stsd)),
                    ),
                )
            return ftyp + build_box(b"moov", mvhd + traks)

        for pdf in it:
            ids, payloads = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                h = hashlib.md5(text.encode("utf-8")).hexdigest()
                ids.append(did)
                payloads.append(
                    ogg_payload(h) if int(h[0], 16) % 2 == 0
                    else mp4_payload(h)
                )
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    ).select("doc_id", "text")
    media = docs.mapInPandas(
        build_payloads, schema="media_id long, payload binary"
    )
    out = container_stats(media)
    return out.select(
        "media_id", "format", "codec", "channels", "sample_rate",
        "n_pages", "n_packets", "last_granule",
        F.round("duration_ms", 6).alias("duration_ms"),
    )


# ---------------------------------------------------------------------------
# Composed curation pipeline
# ---------------------------------------------------------------------------

_CURATION_SQL = f"""
    WITH prof AS ({_DOC_PROFILE_SQL}),
    g AS (
      SELECT {_SQL_FINGERPRINT} AS fingerprint,
             COUNT(*) AS n_dups,
             MIN(doc_id) AS representative
      FROM documents GROUP BY 1
    )
    SELECT p.doc_id, p.lang_pred, p.quality, g.n_dups
    FROM prof p JOIN g ON p.fingerprint = g.fingerprint
    WHERE p.doc_id = g.representative AND p.quality >= 0.5
"""

@_q("q_corpus_curation", _CURATION_SQL)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation shape, composed from the
    catalog's own operators and gated as one plan: profile → exact-dedup
    (keep each fingerprint's representative) → quality filter.

    Scale shape: profile is map-side; the dedup group-by is one shuffle
    on the fingerprint; the re-join of profiles to group stats is a
    broadcast (group table ≈ distinct fingerprints, far smaller than the
    corpus).  This is the plan a real "clean the crawl" job runs —
    declared so the composition, not just the parts, is oracle-checked."""
    from conte_to_fresco_etl_spark.operators.dedup import (
        exact_duplicate_groups,
    )

    docs = _t(spark, sf_dir, "documents")
    prof = profile_documents(docs)
    groups = exact_duplicate_groups(docs)
    return (
        prof.join(F.broadcast(groups), "fingerprint")
        .filter(
            (F.col("doc_id") == F.col("representative"))
            & (F.col("quality") >= 0.5)
        )
        .select("doc_id", "lang_pred", "quality", "n_dups")
    )


# ---------------------------------------------------------------------------
# Gopher-style quality filters
# ---------------------------------------------------------------------------

from conte_to_fresco_etl_spark.operators.text_analysis import (  # noqa: E402
    FILTER_THRESHOLDS as _TH,
    quality_filters,
)

_QUALITY_FILTERS_SQL = f"""
    WITH base AS (
      SELECT doc_id, text, {_sql_tokens()} AS toks,
             list_filter(list_transform(string_split(text, chr(10)),
                                        l -> trim(l)),
                         l -> length(l) > 0) AS ls
      FROM documents
    ),
    g AS (
      SELECT doc_id, text, toks, ls,
         CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
              ELSE list_transform(generate_series(1, len(toks) - 1),
                                  i -> array_to_string(toks[i:i+1], ' '))
         END AS g2
      FROM base
    ),
    m AS (
      SELECT doc_id,
        ROUND(CASE WHEN len(ls) = 0 THEN 0.0
              ELSE 1.0 - CAST(len(list_distinct(ls)) AS DOUBLE) / len(ls)
              END, 6) AS dup_line_frac,
        ROUND(CASE WHEN len(g2) = 0 THEN 0.0
              ELSE 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2)
              END, 6) AS dup_2gram_frac,
        ROUND(CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(list_sum(list_transform(toks, t -> length(t)))
                        AS DOUBLE) / len(toks)
              END, 6) AS mean_word_len,
        ROUND(CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST((length(text) - length(replace(text, '#', '')))
                   + (length(text) - length(replace(text, '...', ''))) / 3
                   AS DOUBLE) / len(toks)
              END, 6) AS symbol_word_ratio,
        ROUND(CASE WHEN len(ls) = 0 THEN 0.0
              ELSE CAST(len(list_filter(ls,
                   l -> list_contains(['-', '*', '•'], substr(l, 1, 1))))
                   AS DOUBLE) / len(ls)
              END, 6) AS bullet_line_frac,
        ROUND(CASE WHEN len(ls) = 0 THEN 0.0
              ELSE CAST(len(list_filter(ls, l -> ends_with(l, '...')))
                   AS DOUBLE) / len(ls)
              END, 6) AS ellipsis_line_frac,
        ROUND(CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(len(list_filter(toks,
                   t -> regexp_matches(t, '[a-zA-Z]'))) AS DOUBLE) / len(toks)
              END, 6) AS alpha_word_frac
      FROM g
    )
    SELECT *,
           (dup_line_frac <= {_TH["max_dup_line_fraction"]}
            AND dup_2gram_frac <= {_TH["max_dup_2gram_fraction"]}
            AND mean_word_len >= {_TH["min_mean_word_length"]}
            AND mean_word_len <= {_TH["max_mean_word_length"]}
            AND symbol_word_ratio <= {_TH["max_symbol_word_ratio"]}
            AND bullet_line_frac <= {_TH["max_bullet_line_fraction"]}
            AND ellipsis_line_frac <= {_TH["max_ellipsis_line_fraction"]}
            AND alpha_word_frac >= {_TH["min_alpha_word_fraction"]}) AS keep
    FROM m
"""

def _classifier_sql() -> str:
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        CLASSIFIER_BIAS,
        CLASSIFIER_WEIGHTS,
    )

    # identical term order AND association as the Spark expression:
    # bias first, then weights in sorted-key order, left-associated.
    z = repr(float(CLASSIFIER_BIAS))
    for colname, w in sorted(CLASSIFIER_WEIGHTS.items()):
        z = f"({z} + {repr(float(w))} * {colname})"
    return f"""
    WITH qf AS ({_QUALITY_FILTERS_SQL})
    SELECT doc_id, dup_line_frac, dup_2gram_frac, mean_word_len,
           symbol_word_ratio, bullet_line_frac, ellipsis_line_frac,
           alpha_word_frac,
           ROUND(1.0 / (1.0 + exp(-{z})), 6) AS score,
           ROUND(1.0 / (1.0 + exp(-{z})), 6) >= 0.5 AS keep
    FROM qf
"""


@_q("q_quality_classifier", _classifier_sql())
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: logistic scorer over the Gopher
    metric vector — the exact plan shape a TRAINED quality classifier
    runs (coefficients are data; swapping in learned weights changes
    nothing structural).  One map-side projection over the metric
    columns."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        quality_classifier,
    )

    return quality_classifier(_t(spark, sf_dir, "documents"))


def _soft_sample_sql() -> str:
    return f"""
    WITH qc AS ({_classifier_sql()})
    SELECT doc_id, score FROM qc
    WHERE CAST(CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)),
               1, 15) AS BIGINT) AS DOUBLE) / power(16.0, 15) < score
       OR score >= 1.0
"""


@_q("q_soft_quality_sample", _soft_sample_sql())
def q_soft_quality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft quality filtering end-to-end: classifier score becomes the
    keep PROBABILITY via a hash-stable unit uniform — the smooth
    quality-weighted sampling shape, composed and oracled through both
    stages."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        quality_classifier,
    )
    from conte_to_fresco_etl_spark.validation import (
        score_proportional_sample,
    )

    scored = quality_classifier(_t(spark, sf_dir, "documents")).select(
        "doc_id", "score"
    )
    return score_proportional_sample(scored, "score", key_col="doc_id")


@_q("q_quality_filters", _QUALITY_FILTERS_SQL)
def q_quality_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition + shape filters: duplicate-line and
    duplicate-2-gram fractions, mean word length, symbol-to-word ratio,
    bullet/ellipsis line fractions, alphabetic-word fraction, and the
    composed keep/drop verdict.  One map-side codegen projection."""
    return quality_filters(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Winnowing fingerprints
# ---------------------------------------------------------------------------

_WINNOW_SQL = f"""
    WITH d AS (
      SELECT doc_id, lower(text) AS t FROM documents
    ),
    h AS (
      SELECT doc_id,
             CASE WHEN length(t) < 5 THEN CAST([] AS BIGINT[])
                  ELSE list_transform(generate_series(1, length(t) - 4),
                                      i -> {_sql_md5_long("substr(t, i, 5)")})
             END AS hs
      FROM d
    ),
    f AS (
      SELECT doc_id,
             CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
                  WHEN len(hs) < 4 THEN [list_min(hs)]
                  ELSE list_distinct(list_transform(
                         generate_series(1, len(hs) - 3),
                         i -> list_min(hs[i:i+3])))
             END AS fps
      FROM h
    )
    SELECT doc_id, unnest(fps) AS fp FROM f
"""

@_q("q_winnow_fingerprints", _WINNOW_SQL)
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints, k=5 window=4: every substring
    match of length >= 8 between two docs shares a fingerprint —
    partial-copy detection, complementing minhash's whole-doc
    similarity."""
    from conte_to_fresco_etl_spark.operators.dedup import (
        winnowing_fingerprints,
    )

    return winnowing_fingerprints(
        _t(spark, sf_dir, "documents"), k=5, window=4
    )


# ---------------------------------------------------------------------------
# Stratified sampling and TF-IDF
# ---------------------------------------------------------------------------

#: Per-language keep fractions for the sampling query: downsample the
#: dominant language (the data-mixture rebalancing shape).
_STRATA_FRACTIONS = {"en": 0.3}
_STRATA_SEED = 42


def _strata_cutoff_sql() -> str:
    default = int(1.0 * 0xFFFFFFFF)
    case = "CASE "
    for stratum, frac in sorted(_STRATA_FRACTIONS.items()):
        case += f"WHEN lang = '{stratum}' THEN {int(frac * 0xFFFFFFFF)} "
    return case + f"ELSE {default} END"


_STRATIFIED_SQL = f"""
    SELECT doc_id, lang
    FROM documents
    WHERE CAST('0x' || substr(md5('{_STRATA_SEED}' || CAST(doc_id AS VARCHAR)), 1, 8)
               AS BIGINT) < {_strata_cutoff_sql()}
"""

@_q("q_stratified_sample", _STRATIFIED_SQL)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-stable stratified sample: keep 30% of English docs, 100% of
    everything else — deterministic mixture rebalancing whose membership
    both engines derive from the same md5 cutoffs."""
    from conte_to_fresco_etl_spark.validation import stratified_sample

    return stratified_sample(
        _t(spark, sf_dir, "documents"),
        strata_col="lang",
        fractions=_STRATA_FRACTIONS,
        key_col="doc_id",
        seed=_STRATA_SEED,
    ).select("doc_id", "lang")


_TFIDF_SQL = f"""
    WITH base AS (
      SELECT doc_id, {_sql_tokens()} AS toks FROM documents
    ),
    nonempty AS (SELECT * FROM base WHERE len(toks) > 0),
    t AS (SELECT doc_id, unnest(toks) AS term FROM nonempty),
    tf AS (SELECT doc_id, term, COUNT(*) AS cnt FROM t GROUP BY 1, 2),
    dl AS (
      SELECT doc_id, term, cnt,
             SUM(cnt) OVER (PARTITION BY doc_id) AS doc_len
      FROM tf
    ),
    dfc AS (
      SELECT term, COUNT(*) AS df_count FROM tf GROUP BY 1
      HAVING COUNT(*) >= 2
    ),
    nd AS (SELECT COUNT(*) AS n_docs FROM nonempty),
    s AS (
      SELECT d.doc_id, d.term,
             ROUND((CAST(d.cnt AS DOUBLE) / d.doc_len)
                   * ln(CAST(n.n_docs AS DOUBLE) / f.df_count), 6) AS tfidf
      FROM dl d JOIN dfc f USING (term) CROSS JOIN nd n
    )
    SELECT doc_id, term, tfidf, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term ASC)
             AS BIGINT) AS rank
      FROM s
    ) WHERE rank <= 5
"""

@_q("q_top_tfidf_terms", _TFIDF_SQL)
def q_top_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 TF-IDF terms (min document frequency 2) —
    the corpus-statistic + per-doc-ranking composition: one (doc, term)
    count shuffle, a doc-length window, a broadcast DF join, one rank
    window."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        top_tfidf_terms,
    )

    return top_tfidf_terms(
        _t(spark, sf_dir, "documents"), k=5, min_df=2
    )


# ---------------------------------------------------------------------------
# PII scrub
# ---------------------------------------------------------------------------

from conte_to_fresco_etl_spark.operators.pii import (  # noqa: E402
    EMAIL_RE,
    EMAIL_TOKEN,
    IPV4_RE,
    IPV4_TOKEN,
    PHONE_RE,
    PHONE_TOKEN,
)

# The synthetic corpus carries no PII, so the query INJECTS a
# deterministic payload (email / IP / phone derived from doc_id) into
# every 7th document in BOTH engines, then scrubs — the gate exercises
# real matches, not just zero counts.
_PII_INJECT_SQL = (
    "CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' "
    "|| CAST(doc_id AS VARCHAR) || '@example.com from 10.' "
    "|| CAST(doc_id % 256 AS VARCHAR) || '.0.1 call 555-867-5309' "
    "ELSE text END"
)

_PII_SQL = f"""
    WITH d AS (SELECT doc_id, {_PII_INJECT_SQL} AS text FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{IPV4_RE}')) AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS BIGINT) AS n_phones,
           (len(regexp_extract_all(text, '{EMAIL_RE}'))
            + len(regexp_extract_all(text, '{IPV4_RE}'))
            + len(regexp_extract_all(text, '{PHONE_RE}'))) > 0 AS has_pii,
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '{EMAIL_RE}', '{EMAIL_TOKEN}', 'g'),
               '{IPV4_RE}', '{IPV4_TOKEN}', 'g'),
             '{PHONE_RE}', '{PHONE_TOKEN}', 'g') AS redacted
    FROM d
"""

@_q("q_pii_scrub", _PII_SQL)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction: per-doc match counts (email / IPv4 /
    phone), a has_pii verdict, and the redacted body — one codegen
    projection, patterns shared verbatim with the oracle."""
    from conte_to_fresco_etl_spark.operators.pii import pii_scrub

    docs = _t(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com from 10."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".0.1 call 555-867-5309"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return pii_scrub(injected)


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

# Eval split: every 97th doc plays the benchmark set; train is the rest.
_DECON_SQL = f"""
    WITH {_DOC_TRIGRAMS_SQL},
    eval_g AS (
      SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0
    ),
    train AS (SELECT doc_id, grams FROM g WHERE doc_id % 97 <> 0),
    tg AS (SELECT doc_id, unnest(grams) AS gram FROM train),
    hits AS (
      SELECT tg.doc_id, COUNT(*) AS n_contam
      FROM tg JOIN eval_g USING (gram) GROUP BY 1
    )
    SELECT tr.doc_id,
           CAST(len(tr.grams) AS BIGINT) AS n_grams,
           CAST(COALESCE(h.n_contam, 0) AS BIGINT) AS n_contam,
           COALESCE(h.n_contam, 0) > 0 AS contaminated
    FROM train tr LEFT JOIN hits h ON tr.doc_id = h.doc_id
"""

@_q("q_decontaminate", _DECON_SQL)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    3-gram with the eval split (doc_id % 97 = 0).  Broadcast eval-gram
    semi-count; one shuffle on the training side."""
    from conte_to_fresco_etl_spark.operators.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents")
    return decontaminate(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
        ngram_n=3,
    )


@_q("q_decontaminate_bloom", _DECON_SQL)
def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefilter decontamination — same split, same oracle, same
    answer as q_decontaminate, but the eval side broadcasts as a bitmap
    (~1.5 B/gram vs ~50 B/gram of strings) and training grams are
    prefiltered JVM-side before the exact confirm join.  The form that
    survives an eval suite too large to broadcast as a string set."""
    from conte_to_fresco_etl_spark.operators.dedup import decontaminate_bloom

    docs = _t(spark, sf_dir, "documents")
    return decontaminate_bloom(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
        ngram_n=3,
    )


# ---------------------------------------------------------------------------
# Per-source frequency cap
# ---------------------------------------------------------------------------

_SOURCE_CAP_SQL = """
    SELECT doc_id, source, rk FROM (
      SELECT doc_id, source,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15),
                        doc_id) AS BIGINT) AS rk
      FROM documents
    ) WHERE rk <= 15
"""

@_q("q_source_cap", _SOURCE_CAP_SQL)
def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition control: keep at most 15 docs per source, chosen by
    hash order (a stable uniform sample of each source).  Runs the
    verified-prefilter scale path — the rank window sees only the
    sub-cutoff survivors, never whole groups."""
    from conte_to_fresco_etl_spark.validation import cap_per_group

    return cap_per_group(
        _t(spark, sf_dir, "documents"),
        group_col="source",
        key_col="doc_id",
        cap=15,
        prefilter_safety=4.0,
    ).select("doc_id", "source", "rk")


# ---------------------------------------------------------------------------
# Unigram LM scoring
# ---------------------------------------------------------------------------

_UNIGRAM_NLL_SQL = f"""
    WITH base AS (
      SELECT doc_id, {_sql_tokens()} AS toks FROM documents
    ),
    ne AS (SELECT * FROM base WHERE len(toks) > 0),
    t AS (SELECT doc_id, unnest(toks) AS term FROM ne),
    tf AS (SELECT doc_id, term, COUNT(*) AS cnt FROM t GROUP BY 1, 2),
    vocab AS (SELECT term, SUM(cnt) AS vc FROM tf GROUP BY 1),
    n AS (SELECT SUM(vc) AS n_total FROM vocab),
    term_nll AS (
      SELECT term,
             CAST(ROUND(-ln(CAST(vc AS DOUBLE) / CAST(n_total AS DOUBLE)), 9)
                  AS DECIMAL(18,9)) AS nlp
      FROM vocab CROSS JOIN n
    )
    SELECT tf.doc_id,
           CAST(SUM(tf.cnt) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(CAST(tf.cnt AS DECIMAL(10,0)) * v.nlp) AS DOUBLE)
                 / CAST(SUM(tf.cnt) AS DOUBLE), 6) AS nll
    FROM tf JOIN term_nll v USING (term)
    GROUP BY tf.doc_id
"""

@_q("q_unigram_nll", _UNIGRAM_NLL_SQL)
def q_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean negative logprob per doc under the corpus unigram LM — the
    perplexity-proxy quality signal.  Decimal-summed contributions make
    the float aggregation order-independent, so the gate is exact."""
    from conte_to_fresco_etl_spark.operators.text_analysis import unigram_nll

    return unigram_nll(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Token-length distribution stats
# ---------------------------------------------------------------------------

_TOKEN_STATS_SQL = f"""
    WITH t AS (
      SELECT lang, CAST(len({_sql_tokens()}) AS BIGINT) AS n FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           MIN(n) AS min_tokens,
           ROUND(CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS mean_tokens,
           MAX(n) AS max_tokens,
           ROUND(CAST(quantile_cont(n, 0.5) AS DOUBLE), 6) AS p50,
           ROUND(CAST(quantile_cont(n, 0.9) AS DOUBLE), 6) AS p90,
           ROUND(CAST(quantile_cont(n, 0.99) AS DOUBLE), 6) AS p99
    FROM t GROUP BY lang
"""

@_q("q_token_stats", _TOKEN_STATS_SQL)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-count distribution (docs, tokens, min / mean /
    max, exact interpolated p50/p90/p99) — the data-mixture report."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        token_length_stats,
    )

    return token_length_stats(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------

# Greedy packing is a deterministic left fold per shard, so the oracle
# is a recursive CTE stepping through each shard's rows in id order.
_PACK_SQL = f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, doc_id % 8 AS shard,
             CAST(len({_sql_tokens()}) AS BIGINT) AS n
      FROM documents
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
      FROM t
    ),
    rec AS (
      SELECT shard, rn, doc_id, n, CAST(0 AS BIGINT) AS seq_id,
             n AS bin_tokens
      FROM r WHERE rn = 1
      UNION ALL
      SELECT x.shard, x.rn, x.doc_id, x.n,
             CASE WHEN p.bin_tokens + x.n <= 200 THEN p.seq_id
                  ELSE p.seq_id + 1 END,
             CASE WHEN p.bin_tokens + x.n <= 200 THEN p.bin_tokens + x.n
                  ELSE x.n END
      FROM rec p JOIN r x ON x.shard = p.shard AND x.rn = p.rn + 1
    )
    SELECT doc_id, shard, seq_id, n AS n_tokens,
           bin_tokens - n AS tok_offset
    FROM rec
"""

@_q("q_pack_sequences", _PACK_SQL)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing into 200-token sequences across 8 hash
    shards — one shuffle, sequential only within a shard."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        pack_sequences,
    )

    return pack_sequences(
        _t(spark, sf_dir, "documents"), budget=200, n_shards=8
    )


# ---------------------------------------------------------------------------
# k-NN classification over embeddings
# ---------------------------------------------------------------------------

#: The majority label of each query's ``topk`` (query_id, nlabel) rows;
#: ties go to the lower label.
_KNN_VOTE_SQL = """votes AS (
      SELECT query_id, nlabel, COUNT(*) AS n_votes FROM topk GROUP BY 1, 2
    )
    SELECT query_id, CAST(nlabel AS BIGINT) AS pred_label,
           CAST(n_votes AS BIGINT) AS n_votes
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY n_votes DESC, nlabel ASC) AS r
      FROM votes
    ) WHERE r = 1"""

_KNN_SQL = f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, label, e, sqrt(list_dot_product(e, e)) AS nrm FROM v
    ),
    q AS (SELECT * FROM n WHERE vec_id % 50 = 0),
    c AS (SELECT * FROM n WHERE vec_id % 50 <> 0),
    topk AS (
      SELECT query_id, nlabel FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               c.label AS nlabel,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 ROUND(CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
                            ELSE list_dot_product(q.e, c.e) / (q.nrm * c.nrm)
                       END, 6) DESC,
                 c.vec_id ASC) AS rank
        FROM c CROSS JOIN q
      ) WHERE rank <= 10
    ),
    {_KNN_VOTE_SQL}
"""

@_q("q_knn_classify", _KNN_SQL)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-NN majority-vote label prediction for the query subset
    (vec_id % 50 = 0) against the labeled remainder — exact neighbor
    search, deterministic vote, fully oracled.

    YARDSTICK (r13): the exact vote scores every corpus vector against
    every query (O(n · |queries| · d) per classification pass —
    measured 13.9x at 10x rows, BENCH_FULL_SF1 r12); it anchors recall
    1 the way q_ann_topk anchors exact top-k.  The deployment form is
    ``q_knn_classify_ivf``: the same deterministic vote over
    inverted-probe IVF candidates behind the sqrt(n) auto quantizer."""
    from conte_to_fresco_etl_spark.operators.similarity import knn_classify

    emb = _t(spark, sf_dir, "embeddings")
    return knn_classify(
        emb.filter(F.col("vec_id") % 50 != 0),
        emb.filter(F.col("vec_id") % 50 == 0),
        k=10,
    )


# The ANN-backed classifier stays exactly oracle-checkable because the
# coarse quantizer is hash-seeded from the CORPUS side (a pure function
# of the labeled table) and count-sized by the same
# clamp(round(sqrt n), 8, 65536) rule both engines derive from their own
# count — the q_ivf_auto_topk machinery with the vote stacked on top.
_KNN_IVF_SQL = f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    n0 AS (
      SELECT vec_id, label, e, sqrt(list_dot_product(e, e)) AS nrm
      FROM v WHERE e IS NOT NULL
    ),
    c AS (SELECT * FROM n0 WHERE vec_id % 50 <> 0),
    q AS (SELECT * FROM n0 WHERE vec_id % 50 = 0),
    {_sqrt_cents_sql("c", "cc")},
    {_cent_dist_sql("dc", "c", "cc")},
    {_nearest_cells_sql("assign", "vec_id", "dc", "= 1", "cc")},
    {_cent_dist_sql("dq", "q", "cc")},
    {_nearest_cells_sql("probes", "vec_id AS query_id", "dq", "<= 4", "cc")},
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assign a ON a.cc = p.cc
      WHERE a.vec_id <> p.query_id
    ),
    topk AS (
      SELECT query_id, nlabel FROM (
        SELECT cand.query_id, b.label AS nlabel,
               ROW_NUMBER() OVER (PARTITION BY cand.query_id ORDER BY
                 ROUND(CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
                            ELSE list_dot_product(a.e, b.e)
                                 / (a.nrm * b.nrm)
                       END, 6) DESC,
                 cand.neighbor_id ASC) AS rank
        FROM cand JOIN c b ON cand.neighbor_id = b.vec_id
                  JOIN q a ON cand.query_id = a.vec_id
      ) WHERE rank <= 10
    ),
    {_KNN_VOTE_SQL}
"""

@_q("q_knn_classify_ivf", _KNN_IVF_SQL)
def q_knn_classify_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-backed k-NN classification — the scale sibling of
    q_knn_classify (r12 verdict's top ask): the same deterministic
    10-NN majority vote, but the neighbor search runs through the
    inverted-probe IVF path (``knn_classify(method='ivf')``) behind a
    hash-seeded sqrt(n) quantizer, so a corpus-labeling pass costs
    O(n_probe · sqrt(n) · d) per query instead of O(n · d).  The
    quantizer is a pure function of the labeled corpus, so the oracle
    re-derives cells, probe sets, candidates, ranks, and the vote at
    any sf — the whole approximate classifier is hash-gated, not just
    its machinery."""
    from conte_to_fresco_etl_spark.operators.similarity import knn_classify

    emb = _t(spark, sf_dir, "embeddings")
    return knn_classify(
        emb.filter(F.col("vec_id") % 50 != 0),
        emb.filter(F.col("vec_id") % 50 == 0),
        k=10,
        method="ivf",
        n_centroids="auto",
        n_probe=4,
    )


# ---------------------------------------------------------------------------
# Bigram merge statistics (BPE step-0)
# ---------------------------------------------------------------------------

_TOP_BIGRAMS_SQL = f"""
    WITH t AS (
      SELECT {_sql_tokens()} AS toks FROM documents
    ),
    b AS (
      SELECT unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
                         ELSE list_transform(generate_series(1, len(toks) - 1),
                                             i -> toks[i] || ' ' || toks[i+1])
                    END) AS bigram
      FROM t
    ),
    counts AS (SELECT bigram, COUNT(*) AS n FROM b GROUP BY 1)
    SELECT bigram, CAST(n AS BIGINT) AS n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, bigram ASC) AS BIGINT)
             AS rank
    FROM counts
    ORDER BY rank LIMIT 20
"""

@_q("q_top_bigrams", _TOP_BIGRAMS_SQL)
def q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent token pairs by occurrence count — the merge-
    candidate statistic of a BPE vocabulary-induction step (one round;
    full BPE iterates this exact query against a re-tokenized corpus)."""
    from conte_to_fresco_etl_spark.operators.text_analysis import top_bigrams

    return top_bigrams(_t(spark, sf_dir, "documents"), k=20)


# ---------------------------------------------------------------------------
# Temperature sampling
# ---------------------------------------------------------------------------

# alpha = 0.5: keep fraction sqrt(n_min/n_g) — sqrt is IEEE-correctly
# rounded in every engine, so the oracle recomputes bit-identical
# cutoffs from the table alone (pow would not guarantee that).
_TEMP_SAMPLE_SQL = """
    WITH g AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
    mn AS (SELECT MIN(n) AS n_min FROM g),
    cut AS (
      SELECT lang,
             CAST(FLOOR(ROUND(sqrt(CAST(n_min AS DOUBLE) / CAST(n AS DOUBLE)),
                              6) * 4294967295) AS BIGINT) AS cutoff
      FROM g CROSS JOIN mn
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN cut ON d.lang = cut.lang
    WHERE CAST('0x' || substr(md5('7' || CAST(d.doc_id AS VARCHAR)), 1, 8)
               AS BIGINT) < cutoff
"""

@_q("q_temperature_sample", _TEMP_SAMPLE_SQL)
def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-0.5 mixture rebalancing over languages: group shares
    flatten toward uniform; the smallest language keeps everything."""
    from conte_to_fresco_etl_spark.validation import temperature_sample

    return temperature_sample(
        _t(spark, sf_dir, "documents"),
        group_col="lang",
        key_col="doc_id",
        alpha=0.5,
        seed=7,
    ).select("doc_id", "lang")


def _compression_sql() -> str | None:
    """Oracle for the zlib compression-ratio signal: the compressed
    size is a pure function of (bytes, level) only within one zlib
    build, so no portable SQL re-derivation exists — instead the
    builder computes every row with the SAME interpreter's zlib at
    import (the literal-embedding convention of ``_ivf_trained_sql``)
    and pins them as VALUES."""
    import zlib

    docs = _gate_docs()
    if docs is None:
        return None
    rows = []
    for i, t in zip(*docs):
        raw = (t or "").encode("utf-8")
        comp = len(zlib.compress(raw, 6)) if raw else 0
        ratio = comp / len(raw) if raw else 1.0
        rows.append(f"({i}, {len(raw)}, {comp}, {ratio!r})")
    values = ",\n        ".join(rows)
    return f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           CAST(n_compressed AS BIGINT) AS n_compressed,
           CAST(ratio AS DOUBLE) AS ratio
    FROM (VALUES
        {values}
    ) AS t(doc_id, n_bytes, n_compressed, ratio)
"""


@_q("q_compression_ratio", _compression_sql())
def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression-ratio quality signal per document (repetitive /
    machine-generated text compresses hard; junk doesn't).  Map-side
    Arrow pass, no shuffle."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        compression_ratio,
    )

    return compression_ratio(_t(spark, sf_dir, "documents"))


_REPEATED_SPANS_SQL = f"""
    WITH t AS (
      SELECT doc_id, {_sql_tokens()} AS toks FROM documents
    ),
    f AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 8),
    g0 AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, len(toks) - 7)) AS i
      FROM f
    ),
    g AS (
      SELECT doc_id, i - 1 AS p,
             array_to_string(toks[i:i+7], ' ') AS gram
      FROM g0
    ),
    rep AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
    mark AS (SELECT doc_id, p FROM g JOIN rep USING (gram)),
    cov0 AS (
      SELECT doc_id, unnest(generate_series(p, p + 7)) AS pos FROM mark
    ),
    cov AS (SELECT DISTINCT doc_id, pos FROM cov0),
    isl AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
               AS island
      FROM cov
    ),
    sp AS (
      SELECT doc_id, MIN(pos) AS span_start, MAX(pos) AS span_end,
             COUNT(*) AS n_tokens
      FROM isl GROUP BY doc_id, island
    )
    SELECT sp.doc_id,
           CAST(span_start AS BIGINT) AS span_start,
           CAST(span_end AS BIGINT) AS span_end,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           array_to_string(t.toks[span_start + 1 : span_end + 1], ' ')
             AS span_text
    FROM sp JOIN t ON sp.doc_id = t.doc_id
"""

@_q("q_repeated_spans", _REPEATED_SPANS_SQL)
def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-passage extraction: maximal token spans whose
    every word-8-gram repeats in the corpus — the substring-level dedup
    signal whole-document dedup misses.  Gram-count shuffle +
    gap-and-islands; the k-fold position expansion touches only marked
    starts.  Session-staged: shared with q_dup_token_frac."""
    return _spans(spark, sf_dir)


def _spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from conte_to_fresco_etl_spark.operators.dedup import repeated_spans
    from conte_to_fresco_etl_spark.session import staged

    docs = _t(spark, sf_dir, "documents")
    params = dict(k=8, min_count=2)
    return staged(
        "repeated_spans", [docs], params,
        lambda: repeated_spans(docs, **params),
    )


_DUP_TOKEN_FRAC_SQL = f"""
    WITH rs AS ({_REPEATED_SPANS_SQL}),
    agg AS (
      SELECT doc_id, SUM(n_tokens) AS dup_tokens FROM rs GROUP BY doc_id
    ),
    tc AS (SELECT doc_id, len({_sql_tokens()}) AS n_tokens FROM documents)
    SELECT tc.doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(COALESCE(dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CASE WHEN n_tokens = 0 THEN 0.0
                ELSE CAST(COALESCE(dup_tokens, 0) AS DOUBLE) / n_tokens
           END AS dup_token_frac
    FROM tc LEFT JOIN agg USING (doc_id)
"""

@_q("q_dup_token_frac", _DUP_TOKEN_FRAC_SQL)
def q_dup_token_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The filter signal consuming repeated_spans: fraction of each
    document's tokens sitting inside corpus-repeated passages (the
    per-doc cut threshold in substring-dedup pipelines).  Composition
    is oracled end-to-end, not just the span extraction."""
    from conte_to_fresco_etl_spark.functions.text import token_count

    docs = _t(spark, sf_dir, "documents")
    per_doc = (
        _spans(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.sum("n_tokens").alias("dup_tokens"))
    )
    return (
        docs.select("doc_id", token_count("text").alias("n_tokens"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.when(F.col("n_tokens") == 0, F.lit(0.0))
            .otherwise(
                F.coalesce("dup_tokens", F.lit(0)).cast("double")
                / F.col("n_tokens")
            )
            .alias("dup_token_frac"),
        )
    )


_BOILER_SQL = f"""
    WITH {_DOC_TRIGRAMS_SQL},
    p AS (SELECT doc_id, unnest(grams) AS gram FROM g),
    cut AS (
      SELECT GREATEST(2, CAST(floor(COUNT(*) * 0.04) AS INT)) AS c
      FROM documents
    ),
    freq AS (
      SELECT gram FROM p GROUP BY gram
      HAVING COUNT(*) >= (SELECT c FROM cut)
    ),
    cnt AS (
      SELECT p.doc_id, COUNT(*) AS n_grams, COUNT(f.gram) AS n_boiler
      FROM p LEFT JOIN freq f USING (gram) GROUP BY p.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(n_boiler, 0) AS BIGINT) AS n_boiler,
           CASE WHEN COALESCE(n_grams, 0) = 0 THEN 0.0
                ELSE CAST(n_boiler AS DOUBLE) / n_grams END AS boiler_frac
    FROM documents d LEFT JOIN cnt ON d.doc_id = cnt.doc_id
"""

@_q("q_boilerplate_frac", _BOILER_SQL)
def q_boilerplate_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-boilerplate contamination per doc: fraction of distinct
    word-3-grams appearing in >= 4% of the corpus (C4/RefinedWeb-style
    boilerplate signal).  One gram shuffle for document frequency; the
    frequent-gram set broadcasts back."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        boilerplate_ngram_stats,
    )

    return boilerplate_ngram_stats(
        _t(spark, sf_dir, "documents"), ngram_n=3, min_doc_frac=0.04
    )


#: cumulative split cutoffs computed in PYTHON float arithmetic and
#: embedded exactly (repr round-trips), so the oracle compares against
#: bit-identical doubles — 0.9 + 0.05 is NOT 0.95 in IEEE 754.
_SPLIT_CUTS = (repr(0.9), repr(0.9 + 0.05))

_SPLITS_SQL = f"""
    WITH b AS (
      SELECT doc_id,
             CAST(CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)),
                       1, 15) AS BIGINT) AS DOUBLE)
               / power(16.0, 15) AS bb
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN bb < {_SPLIT_CUTS[0]} THEN 'train'
                WHEN bb < {_SPLIT_CUTS[1]} THEN 'val'
                ELSE 'test' END AS split
    FROM b
"""

@_q("q_assign_splits", _SPLITS_SQL)
def q_assign_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (90/5/5): hash-bucket
    each key against cumulative cutoffs — reproducible across engines,
    partitionings, and corpus growth (adding docs never moves an
    existing doc's split).  Map-side projection, no shuffle."""
    from conte_to_fresco_etl_spark.validation import assign_splits

    return assign_splits(
        _t(spark, sf_dir, "documents").select("doc_id"),
        key_col="doc_id",
        weights={"train": 0.9, "val": 0.05, "test": 0.05},
    )


_URL_SQL = r"""
    WITH src AS (
      SELECT doc_id,
             CASE CAST(doc_id % 4 AS INT)
               WHEN 0 THEN 'HTTPS://WWW.' || source || '.Example.COM:443/'
                           || CAST(doc_id AS VARCHAR)
                           || '/?utm_source=x&q=' || CAST(doc_id AS VARCHAR)
                           || '#top'
               WHEN 1 THEN 'http://' || source || '.example.com:80/p/'
                           || CAST(doc_id AS VARCHAR)
               WHEN 2 THEN 'https://' || source || '.example.com/a//'
               ELSE 'https://' || source || '.example.com/p?a=1&gclid=z&b=2'
             END AS url
      FROM documents
    ),
    parts AS (
      SELECT doc_id, url,
             lower(regexp_extract(url,
                   '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             lower(regexp_extract(url,
                   '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
             regexp_replace(url,
                   '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+', '') AS rest0
      FROM src
    ),
    defrag AS (
      SELECT doc_id, url, scheme, hostport,
             regexp_replace(rest0, '#.*$', '') AS rest1
      FROM parts
    ),
    pq AS (
      SELECT doc_id, url, scheme, hostport,
             regexp_replace(regexp_extract(rest1, '^([^?]*)', 1),
                            '/+$', '') AS path,
             regexp_replace(
               regexp_replace(
                 regexp_replace('&' || regexp_extract(rest1, '\?(.*)$', 1),
                   '&(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&]*', '', 'g'),
                 '^&+', ''),
               '&+$', '') AS q
      FROM defrag
    ),
    norm AS (
      SELECT doc_id, url, scheme,
             CASE WHEN scheme = 'http'
                    THEN regexp_replace(hostport, ':80$', '')
                  WHEN scheme = 'https'
                    THEN regexp_replace(hostport, ':443$', '')
                  ELSE hostport END AS host,
             CASE WHEN q = '' THEN path ELSE path || '?' || q END AS rest
      FROM pq
    )
    SELECT doc_id, url,
           regexp_replace(
             regexp_replace(
               regexp_replace(lower(regexp_extract(url,
                 '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
                 ':[0-9]+$', ''),
               '^www\.', ''),
             '^$', '') AS host,
           scheme || '://' || host || rest AS norm_url
    FROM norm
"""

_URL_DEDUP_SQL = f"""
    WITH u AS ({_URL_SQL})
    SELECT host,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT norm_url) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT norm_url) AS BIGINT) AS n_dups
    FROM u GROUP BY host
"""

@_q("q_url_dedup", _URL_DEDUP_SQL)
def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The URL-dedup tier in action: per host, how many raw URLs
    collapse under canonicalization — re-crawl duplicates caught
    before any content ever hashes.  One shuffle on the host."""
    base = q_url_normalize(spark, sf_dir)
    return base.groupBy("host").agg(
        F.count("*").alias("n_urls"),
        F.count_distinct("norm_url").alias("n_distinct"),
        (F.count("*") - F.count_distinct("norm_url")).cast("long").alias(
            "n_dups"
        ),
    )


@_q("q_url_normalize", _URL_SQL)
def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization gated cross-engine: four families of messy
    URL (uppercase scheme/host + default port + tracking param +
    fragment; explicit :80; trailing slashes; mid-query tracking
    param) are synthesized identically in both engines and pushed
    through the codegen normalizer — the cheapest crawl-dedup tier."""
    from conte_to_fresco_etl_spark.functions.url import (
        url_host,
        url_normalize,
    )

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    url = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("HTTPS://WWW."), F.col("source"),
                F.lit(".Example.COM:443/"), d, F.lit("/?utm_source=x&q="),
                d, F.lit("#top"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("http://"), F.col("source"),
                F.lit(".example.com:80/p/"), d,
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("https://"), F.col("source"), F.lit(".example.com/a//")
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://"), F.col("source"),
                F.lit(".example.com/p?a=1&gclid=z&b=2"),
            )
        )
    )
    return docs.select(
        "doc_id",
        url.alias("url"),
        url_host(url).alias("host"),
        url_normalize(url).alias("norm_url"),
    )


_NORMALIZE_SQL = r"""
    WITH src AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN 'Cafe' || chr(769) || chr(9) || ' ' || chr(7) || text
                  ELSE text END AS text
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(nfc_normalize(text),
                '[\x00-\x08\x0B-\x1F\x7F]', ' ', 'g'),
                '[ \t\n\f\r]+', ' ', 'g'),
                ' ' || chr(9) || chr(10) || chr(12) || chr(13)) AS norm_text,
           trim(regexp_replace(regexp_replace(nfc_normalize(text),
                '[\x00-\x08\x0B-\x1F\x7F]', ' ', 'g'),
                '[ \t\n\f\r]+', ' ', 'g'),
                ' ' || chr(9) || chr(10) || chr(12) || chr(13)) <> text
             AS changed
    FROM src
"""

@_q("q_normalize_text", _NORMALIZE_SQL)
def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode canonicalization gated cross-engine: every third doc
    gets a decomposed-accent + control-char prefix injected
    identically in both engines, so NFC composition AND the cleanup
    rules are exercised, not just passed through.  Python unicodedata
    vs DuckDB nfc_normalize — both implement the same Unicode standard
    pure function."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        normalize_text,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    dirty = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            # decomposed e + COMBINING ACUTE: NFC must actually compose
            F.concat(F.lit("Cafe\u0301\t \x07"), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return normalize_text(dirty)


_DATASET_CARD_SQL = f"""
    WITH base AS (
      SELECT doc_id, source, lang,
             len({_sql_tokens()}) AS n_toks,
             {_SQL_FINGERPRINT} AS fp
      FROM documents
    ),
    per_source AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS dup_docs,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
      FROM base GROUP BY source
    ),
    lang_mix AS (
      SELECT source,
             ROUND(-SUM(p * ln(p)), 6) AS lang_entropy
      FROM (
        SELECT source,
               CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY source) AS p
        FROM base GROUP BY source, lang
      ) GROUP BY source
    )
    SELECT ps.source, n_docs, n_tokens, dup_docs, n_langs,
           lang_entropy,
           CAST(n_tokens AS DOUBLE)
             / SUM(n_tokens) OVER () AS token_share
    FROM per_source ps JOIN lang_mix USING (source)
"""

@_q("q_dataset_card", _DATASET_CARD_SQL)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card: doc/token counts, exact-duplicate count
    (docs minus distinct content fingerprints), language count and
    entropy, corpus token share — the summary table a corpus release
    ships.  Two aggregations to dimension-sized rows; window
    normalizers run over those few rows only."""
    from pyspark.sql import Window

    from conte_to_fresco_etl_spark.functions.text import (
        doc_fingerprint,
        token_count,
    )

    base = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "lang",
        token_count("text").alias("n_toks"),
        doc_fingerprint(F.col("text")).alias("fp"),
    )
    per_source = base.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        (F.count("*") - F.count_distinct("fp")).alias("dup_docs"),
        F.count_distinct("lang").alias("n_langs"),
    )
    w_src = Window.partitionBy("source")
    lang_mix = (
        base.groupBy("source", "lang")
        .agg(F.count("*").alias("__n"))
        .withColumn(
            "__p", F.col("__n").cast("double") / F.sum("__n").over(w_src)
        )
        .groupBy("source")
        .agg(
            F.round(-F.sum(F.col("__p") * F.log("__p")), 6).alias(
                "lang_entropy"
            )
        )
    )
    # token_share's corpus-total window runs directly above the
    # per-source AGGREGATE (|sources| rows through the single window
    # task, never the join output) — the join with lang_mix happens
    # after the share is already attached
    w_all = Window.partitionBy()
    per_source = per_source.withColumn(
        "token_share",
        F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w_all),
    )
    return (
        per_source.join(lang_mix, "source")
        .select(
            "source", "n_docs", "n_tokens",
            F.col("dup_docs").cast("long").alias("dup_docs"),
            F.col("n_langs").cast("long").alias("n_langs"),
            "lang_entropy", "token_share",
        )
    )


_MIXTURE_SQL = f"""
    WITH t AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len({_sql_tokens()})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    )
    SELECT source, n_docs, n_tokens,
           pow(CAST(n_tokens AS DOUBLE), 0.5)
             / SUM(pow(CAST(n_tokens AS DOUBLE), 0.5)) OVER () AS weight,
           pow(CAST(n_tokens AS DOUBLE), 0.5)
             / SUM(pow(CAST(n_tokens AS DOUBLE), 0.5)) OVER ()
             * 1000000.0 / CAST(n_tokens AS DOUBLE) AS epochs
    FROM t
"""

@_q("q_mixture_weights", _MIXTURE_SQL)
def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-planning table over sources: alpha-0.5 sampling weights
    and implied epochs for a 1M-token budget.  One map-side-combined
    aggregation to dimension-sized rows; the normalizer is a window
    over that tiny aggregate."""
    from conte_to_fresco_etl_spark.validation import mixture_weights

    return mixture_weights(
        _t(spark, sf_dir, "documents"),
        group_col="source",
        alpha=0.5,
        token_budget=1_000_000,
    )


# ---------------------------------------------------------------------------
# Composed curation pipeline v2 (quality -> decontaminate -> cap -> pack)
# ---------------------------------------------------------------------------

_CURATION_V2_SQL = f"""
    WITH RECURSIVE q AS ({_QUALITY_FILTERS_SQL}),
    dc AS ({_DECON_SQL}),
    kept AS (
      SELECT d.doc_id, d.source, d.text
      FROM documents d
      JOIN q ON d.doc_id = q.doc_id AND q.keep
      JOIN dc ON d.doc_id = dc.doc_id AND NOT dc.contaminated
    ),
    capped AS (
      SELECT doc_id, source, text FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY source
          ORDER BY substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15),
                   doc_id) AS rk
        FROM kept
      ) WHERE rk <= 15
    ),
    t AS (
      SELECT doc_id, source, doc_id % 8 AS shard,
             CAST(len({_sql_tokens()}) AS BIGINT) AS n
      FROM capped
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
      FROM t
    ),
    rec AS (
      SELECT shard, rn, doc_id, source, n, CAST(0 AS BIGINT) AS seq_id,
             n AS bin_tokens
      FROM r WHERE rn = 1
      UNION ALL
      SELECT x.shard, x.rn, x.doc_id, x.source, x.n,
             CASE WHEN p.bin_tokens + x.n <= 200 THEN p.seq_id
                  ELSE p.seq_id + 1 END,
             CASE WHEN p.bin_tokens + x.n <= 200 THEN p.bin_tokens + x.n
                  ELSE x.n END
      FROM rec p JOIN r x ON x.shard = p.shard AND x.rn = p.rn + 1
    )
    SELECT doc_id, source, shard, seq_id, n AS n_tokens,
           bin_tokens - n AS tok_offset
    FROM rec
"""

@_q("q_curation_v2", _CURATION_V2_SQL)
def q_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data path in one declared plan: Gopher-style
    quality verdict -> benchmark decontamination -> per-source cap ->
    greedy sequence packing.  Every stage is individually gated; this
    entry gates their COMPOSITION (filter interplay, cap-after-filter
    ordering, packing over the surviving set)."""
    import pandas as pd

    from conte_to_fresco_etl_spark.operators.dedup import (
        _gram_posting_batches,
        decontaminate,
    )
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        _QUALITY_METRIC_COLS,
        _quality_metric_lists,
        pack_sequences,
        quality_filters,
    )
    from conte_to_fresco_etl_spark.parallelism import (
        DENSE_BYTES_PER_TASK,
        ensure_min_parallelism,
    )
    from conte_to_fresco_etl_spark.validation import cap_per_group

    docs = _t(spark, sf_dir, "documents")
    # r14 (guide §4): quality + decontaminate each tokenized the corpus
    # in their OWN Arrow pass (plus a third for the eval slice).  This
    # fused pass tokenizes ONCE, emitting per-doc metric rows (__g NULL,
    # values from the operator's _quality_metric_lists — bit-identical
    # by construction) and per-doc distinct 3-gram posting rows (the
    # operator's _gram_posting_batches), checkpointed for its three
    # consumers.  The operators themselves are NOT forked: rounding +
    # thresholding stay in quality_filters(raw_metrics=...), the
    # counting join stays in decontaminate(train_grams=/eval_grams=...).
    gram_fn = _gram_posting_batches(["doc_id"], "text", 3)
    mcols = list(_QUALITY_METRIC_COLS)

    def fused_batches(it):
        for pdf in it:
            if len(pdf):
                m = _quality_metric_lists(pdf["text"])
                mf = pd.DataFrame({"doc_id": pdf["doc_id"]})
                mf["__g"] = pd.Series([None] * len(pdf), dtype=object)
                for c in mcols:
                    mf[c] = m[c]
                yield mf[["doc_id", "__g", *mcols]]
            for gf in gram_fn(iter([pdf])):
                if len(gf):
                    gf = gf.copy()
                    for c in mcols:
                        gf[c] = None
                    yield gf[["doc_id", "__g", *mcols]]

    fused = (
        ensure_min_parallelism(
            docs.select("doc_id", "text"), DENSE_BYTES_PER_TASK
        )
        .mapInPandas(
            fused_batches,
            schema="doc_id long, __g string, "
            + ", ".join(f"{c} double" for c in mcols),
        )
        .localCheckpoint(eager=False)
    )
    raw_metrics = fused.filter(F.col("__g").isNull()).select(
        "doc_id", *mcols
    )
    grams = fused.filter(F.col("__g").isNotNull()).select("doc_id", "__g")
    q = (
        quality_filters(docs, raw_metrics=raw_metrics)
        .filter(F.col("keep"))
        .select("doc_id")
    )
    dc = (
        decontaminate(
            docs.filter(F.col("doc_id") % 97 != 0),
            docs.filter(F.col("doc_id") % 97 == 0),
            ngram_n=3,
            train_grams=grams.filter(F.col("doc_id") % 97 != 0),
            eval_grams=grams.filter(F.col("doc_id") % 97 == 0),
        )
        .filter(~F.col("contaminated"))
        .select("doc_id")
    )
    kept = docs.join(q, "doc_id").join(dc, "doc_id").select(
        "doc_id", "source", "text"
    )
    # capped feeds BOTH the packing pass and the source join-back:
    # persist it, or the whole quality+decontaminate subtree re-executes
    # per branch (measured 15s -> 2s at sf0.1); the survivor set is cap
    # x |sources| rows, so the join-back side broadcasts.
    capped = (
        cap_per_group(kept, group_col="source", key_col="doc_id", cap=15)
        .select("doc_id", "source", "text")
        .persist()
    )
    packed = pack_sequences(capped, budget=200, n_shards=8)
    return packed.join(
        F.broadcast(capped.select("doc_id", "source")), "doc_id"
    ).select(
        "doc_id", "source", "shard", "seq_id", "n_tokens", "tok_offset"
    )


# ---------------------------------------------------------------------------
# Label centroids (embedding-space monitoring)
# ---------------------------------------------------------------------------

_LABEL_CENTROIDS_SQL = """
    WITH x AS (
      SELECT label, i AS dim,
             CAST(ROUND(CAST(embedding[i] AS DOUBLE), 9)
                  AS DECIMAL(18,9)) AS v
      FROM embeddings, generate_series(1, 64) AS g(i)
      WHERE embedding IS NOT NULL AND i <= len(embedding)
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(dim AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS mean_val
    FROM x GROUP BY label, dim
"""

@_q("q_label_centroids", _LABEL_CENTROIDS_SQL)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding, long (label, dim) format — narrow-row
    shuffle with decimal-exact order-independent sums."""
    from conte_to_fresco_etl_spark.operators.similarity import (
        label_centroids,
    )

    return label_centroids(_t(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Canonical-doc selection + deterministic shard manifest
# ---------------------------------------------------------------------------

_CANONICAL_SQL = f"""
    WITH RECURSIVE {_PAIRS_GRAPH_SQL},
    {_REACH_COMP_SQL}
    SELECT c.doc_id, c.component, d.n_chars,
           (ROW_NUMBER() OVER (PARTITION BY c.component
                               ORDER BY d.n_chars DESC, c.doc_id ASC) = 1)
             AS keep
    FROM comp c JOIN documents d ON c.doc_id = d.doc_id
"""

@_q("q_dedup_canonical", _CANONICAL_SQL)
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best-per-cluster dedup decision: near-dup components →
    exactly one keeper (highest n_chars, ties to smallest id) per
    cluster.  The anti-joinable (keep = false) set IS the dedup filter;
    the corpus itself is never reshuffled.  Served straight from the
    session-staged decision table shared with q_doc_components and
    q_dedup_apply."""
    return _decision(spark, sf_dir)


_SHARD_MANIFEST_SQL = f"""
    WITH s AS (
      SELECT doc_id, n_chars,
             {_sql_md5_long("CAST(doc_id AS VARCHAR)", 8)} % 16 AS shard
      FROM documents
    )
    SELECT shard, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
    FROM s GROUP BY shard
"""

@_q("q_shard_manifest", _SHARD_MANIFEST_SQL)
def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data export manifest: content-independent md5 sharding
    (stable under re-runs and corpus growth, unlike round-robin or
    monotonically_increasing_id) + per-shard size accounting.  One
    map-side projection + one 16-group aggregate; the shard column is
    also the partitionBy key a writer would use."""
    from conte_to_fresco_etl_spark.functions.text import md5_long

    docs = _t(spark, sf_dir, "documents")
    shard = (
        md5_long(F.col("doc_id").cast("string"), hex_chars=8) % 16
    ).alias("shard")
    return (
        docs.select(shard, "doc_id", "n_chars")
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


_MH_BANDS_TAGGED_SQL = "\n      UNION ALL\n".join(
    f"SELECT doc_id, is_new, sig, {i} AS band, "
    f"array_to_string(sig[{i * 4 + 1}:{i * 4 + 4}], ',') AS key FROM sigs"
    for i in range(12)
)

_INCREMENTAL_SQL = f"""
    WITH docs AS (
      SELECT doc_id, lower(text) AS t, (doc_id >= 250) AS is_new
      FROM documents WHERE length(text) >= 5
    ),
    sh AS (
      SELECT doc_id, is_new,
             list_distinct(list_transform(generate_series(1, length(t) - 4),
                                          i -> substr(t, i, 5))) AS shingles
      FROM docs
    ),
    hb AS (
      SELECT doc_id, is_new,
             list_transform(shingles, s -> {_sql_md5_long('s')} % {MINHASH_PRIME}) AS hs
      FROM sh WHERE len(shingles) > 0
    ),
    sigs AS (
      SELECT doc_id, is_new, [
      {_MH_SIG_TERMS}] AS sig FROM hb
    ),
    bands AS (
      {_MH_BANDS_TAGGED_SQL}
    ),
    cand AS (
      SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS existing_id,
             n.sig AS sa, o.sig AS sb
      FROM bands n
      JOIN bands o ON n.band = o.band AND n.key = o.key
                   AND n.is_new AND NOT o.is_new
    )
    SELECT new_id, existing_id, est_jaccard FROM (
      SELECT new_id, existing_id,
             CAST(len(list_filter(generate_series(1, 48), i -> sa[i] = sb[i])) AS DOUBLE) / 48.0
               AS est_jaccard
      FROM cand
    ) WHERE est_jaccard >= 0.5
"""

@_q("q_incremental_dedup", _INCREMENTAL_SQL)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-batch dedup against a standing corpus: docs with id >= 250
    play the new batch, the rest the historical corpus.  Only the new
    side is hashed per ingest in production (existing band keys +
    signatures are precomputed and stored); candidates are cross-side
    band collisions only — the historical corpus is never re-paired
    against itself."""
    from conte_to_fresco_etl_spark.operators.dedup import incremental_neardup

    docs = _t(spark, sf_dir, "documents")
    return incremental_neardup(
        docs.filter(F.col("doc_id") >= 250),
        docs.filter(F.col("doc_id") < 250),
        num_hashes=48, bands=12, shingle_n=5, threshold=0.5, seed=42,
    )


# ---------------------------------------------------------------------------
# Context-window chunking + distributed k-means step
# ---------------------------------------------------------------------------

_CHUNKS_SQL = f"""
    WITH base AS (
      SELECT doc_id, {_sql_tokens()} AS toks FROM documents
    ),
    nn AS (
      SELECT doc_id, toks, len(toks) AS n FROM base WHERE len(toks) > 0
    ),
    c AS (
      SELECT doc_id, toks,
             greatest(1, CAST(ceil(CAST(n - 16 AS DOUBLE) / 48.0) AS BIGINT))
               AS n_chunks
      FROM nn
    )
    ,x AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, n_chunks - 1)) AS i
      FROM c
    )
    SELECT doc_id, i AS chunk_id,
           array_to_string(toks[i*48 + 1 : i*48 + 64], ' ') AS chunk_text,
           CAST(len(toks[i*48 + 1 : i*48 + 64]) AS BIGINT) AS chunk_n_tokens
    FROM x
"""

@_q("q_doc_chunks", _CHUNKS_SQL)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (64-token windows, 16-token overlap):
    map-side tokenize + arithmetic chunk count + explode + slice — the
    pre-embedding/packing step of a training pipeline, zero shuffles."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        chunk_documents,
    )

    return chunk_documents(
        _t(spark, sf_dir, "documents"), max_tokens=64, overlap=16
    )


def _py_fuse(toks: list, pa: str, pb: str, joiner: str = "_") -> list:
    """THE greedy left-to-right non-overlapping pair fuse — the single
    Python twin of the operators' anchored-regexp fuse, shared by the
    trainer and applier oracles so the contract cannot drift."""
    out, i = [], 0
    while i < len(toks):
        if i + 1 < len(toks) and toks[i] == pa and toks[i + 1] == pb:
            out.append(pa + joiner + pb)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return out


def _py_bpe_merges(
    texts: list, n_merges: int, joiner: str = "_"
) -> list[tuple[int, str, int]]:
    """Pure-Python twin of operators.text_analysis.induce_bpe_merges:
    same tokenization (_py_tokens), same top-pair rule (count desc,
    bigram asc), same greedy fuse (_py_fuse).  Drives the oracle."""
    from collections import Counter

    from conte_to_fresco_etl_spark.operators.dedup import _py_tokens

    corpora = [t for t in (_py_tokens(x) for x in texts) if len(t) >= 2]
    merges: list[tuple[int, str, int]] = []
    for rnd in range(n_merges):
        counts: Counter = Counter()
        for toks in corpora:
            counts.update(
                toks[i] + " " + toks[i + 1] for i in range(len(toks) - 1)
            )
        if not counts:
            break
        pair, n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        pa, pb = pair.split(" ", 1)
        merges.append((rnd, pair, n))
        corpora = [
            out
            for toks in corpora
            if len(out := _py_fuse(toks, pa, pb, joiner)) >= 2
        ]
    return merges


@functools.lru_cache(maxsize=4)
def _gate_merge_table(n_merges: int = 6) -> tuple | None:
    """The (round, bigram, count) table trained on the gate corpus,
    trained ONCE per process (previously each oracle builder and every
    q_bpe_apply call re-read the parquet and retrained identically)."""
    docs = _gate_docs()
    if docs is None:
        return None
    return tuple(_py_bpe_merges(list(docs[1]), n_merges))


def _gate_bpe_merges(n_merges: int = 6) -> list | None:
    """The fixed tokenizer q_bpe_apply applies — merges trained once on
    the gate corpus, mirroring production's train-once/apply-anywhere."""
    table = _gate_merge_table(n_merges)
    if table is None:
        return None
    return [b for _, b, _ in table]


def _bpe_sql(n_merges: int = 6) -> str | None:
    """Python-constant oracle for q_bpe_merges: the process-cached
    gate-corpus merge table as VALUES literals (the _ivf_trained_sql
    pattern — the loop is a pure function of the table, so literals
    derived from it ARE the oracle).  None if the gate table is absent
    → rows-only check."""
    merges = _gate_merge_table(n_merges)
    if not merges:
        return None
    values = ",\n        ".join(
        "({}, '{}', {})".format(r, b.replace("'", "''"), n)
        for r, b, n in merges
    )
    return f"""
    SELECT CAST(merge_round AS BIGINT) AS merge_round, bigram,
           CAST(n AS BIGINT) AS n
    FROM (VALUES
        {values}
    ) AS t(merge_round, bigram, n)
"""


@_q("q_bpe_merges", _bpe_sql(6))
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-table induction closed-loop (the iterate-and-
    re-tokenize loop q_top_bigrams is round 0 of): 6 rounds of
    count-pairs → fuse-best → re-count over the documents corpus,
    entirely JVM-side per round with one merge decision row reaching
    the driver per round."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        induce_bpe_merges,
    )

    return induce_bpe_merges(
        _t(spark, sf_dir, "documents"), n_merges=6
    )


def _py_apply_merges(toks: list, merges: list, joiner: str = "_") -> list:
    """Pure-Python twin of operators.text_analysis.apply_bpe_merges:
    the shared ``_py_fuse`` applied per merge in table order (Python re
    lacks variable-width lookbehind, so the twin uses the fold the
    regex form was property-tested against)."""
    for pair in merges:
        pa, pb = pair.split(" ", 1)
        toks = _py_fuse(toks, pa, pb, joiner)
    return toks


def _bpe_count_values() -> str | None:
    """VALUES rows (doc_id, words, tokens after the gate merges) of every
    gate document with text, from the pure-Python twin; None without
    the gate corpus."""
    merges = _gate_bpe_merges(6)
    docs = _gate_docs()
    if merges is None or docs is None:
        return None
    from conte_to_fresco_etl_spark.operators.dedup import _py_tokens

    rows = []
    for did, text in zip(docs[0], docs[1]):
        if text is None:
            continue
        toks = _py_tokens(text)
        merged = _py_apply_merges(list(toks), merges)
        # mirror the expression's join/re-split round trip: a [] or
        # [''] token list joins to '' which re-splits to []
        after = 0 if merged in ([], [""]) else len(merged)
        rows.append((did, len(toks), after))
    if not rows:
        return None
    return ",\n        ".join(f"({d}, {b}, {a})" for d, b, a in rows)


def _bpe_apply_sql() -> str | None:
    """Python-constant oracle for q_bpe_apply: run the (process-cached)
    merge table over the gate corpus with the pure-Python twin and emit
    per-doc token counts as VALUES literals."""
    values = _bpe_count_values()
    if values is None:
        return None
    return f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_tokens_before AS BIGINT) AS n_tokens_before,
           CAST(n_tokens_after AS BIGINT) AS n_tokens_after
    FROM (VALUES
        {values}
    ) AS t(doc_id, n_tokens_before, n_tokens_after)
"""


@_q("q_bpe_apply", _bpe_apply_sql())
def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION: the gate-trained 6-merge table applied to
    the corpus via apply_bpe_merges — n nested anchored regex rewrites
    composed into one map-side codegen projection, zero shuffles (the
    production shape: train once, apply to 100 TB as a scan).  The
    oracle recomputes per-doc token counts with the pure-Python fold
    twin."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        apply_bpe_merges,
    )

    merges = _gate_bpe_merges(6) or []
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return apply_bpe_merges(docs, merges).select(
        "doc_id", "n_tokens_before", "n_tokens_after"
    )


def _kmeans_sql(cents) -> str:
    dim = len(cents[0])

    def dist(c):
        return " + ".join(
            f"(CAST(embedding[{d+1}] AS DOUBLE) - ({float(c[d])!r}))"
            f"*(CAST(embedding[{d+1}] AS DOUBLE) - ({float(c[d])!r}))"
            for d in range(dim)
        )

    d_cols = ",\n             ".join(
        f"({dist(c)}) AS d{j}" for j, c in enumerate(cents)
    )
    d_list = "[" + ", ".join(f"d{j}" for j in range(len(cents))) + "]"
    return f"""
    WITH d AS (
      SELECT vec_id, embedding,
             {d_cols}
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = {dim}
    ),
    a AS (
      SELECT embedding,
             list_position({d_list}, list_min({d_list})) AS cl
      FROM d
    ),
    x AS (
      SELECT cl, i AS dim,
             CAST(ROUND(CAST(embedding[i] AS DOUBLE), 9)
                  AS DECIMAL(18,9)) AS v
      FROM a, generate_series(1, {dim}) AS g(i)
      WHERE i <= len(embedding)
    )
    SELECT CAST(cl AS BIGINT) AS cluster,
           CAST(dim AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS mean_val
    FROM x GROUP BY cl, dim
"""


def _kmeans_centroids():
    from conte_to_fresco_etl_spark.operators.similarity import (
        deterministic_centroids,
    )

    return deterministic_centroids(k=8, dim=64, seed=7)


_KMEANS_SQL = _kmeans_sql(_kmeans_centroids())

@_q("q_kmeans_step", _KMEANS_SQL)
def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd iteration over the full corpus: map-side
    nearest-centroid assignment against shared deterministic centroid
    literals (both engines embed the SAME left-associated double
    expression tree, so assignments are bit-reproducible), then a
    narrow (cluster, dim) shuffle with decimal-exact partial sums for
    the updated means.  The 100 TB k-means shape: per-iteration cost is
    one scan + one narrow shuffle; iterate by feeding means back in."""
    from conte_to_fresco_etl_spark.operators.similarity import kmeans_step

    return kmeans_step(
        _t(spark, sf_dir, "embeddings"), _kmeans_centroids()
    )


# ---------------------------------------------------------------------------
# Bigram-LM scoring (perplexity proxy, order-sensitive)
# ---------------------------------------------------------------------------

#: CTEs base/ne/b/tf/bc: word-bigram counts per document (tf) and overall (bc).
_BIGRAM_COUNTS_SQL = f"""base AS (
      SELECT doc_id, {_sql_tokens()} AS toks FROM documents
    ),
    ne AS (SELECT * FROM base WHERE len(toks) >= 2),
    b AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 1),
                                   i -> toks[i] || ' ' || toks[i+1])) AS bigram
      FROM ne
    ),
    tf AS (SELECT doc_id, bigram, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
    bc AS (SELECT bigram, SUM(cnt) AS bcn FROM tf GROUP BY 1)"""

#: Each document's bigram count and mean ``term.nlp`` (decimal-summed).
_BIGRAM_DOC_NLL_SQL = """SELECT tf.doc_id,
           CAST(SUM(tf.cnt) AS BIGINT) AS n_bigrams,
           ROUND(CAST(SUM(CAST(tf.cnt AS DECIMAL(10,0)) * t.nlp) AS DOUBLE)
                 / CAST(SUM(tf.cnt) AS DOUBLE), 6) AS nll
    FROM tf JOIN term t USING (bigram)
    GROUP BY tf.doc_id"""

_BIGRAM_NLL_SQL = f"""
    WITH {_BIGRAM_COUNTS_SQL},
    pc AS (
      SELECT split_part(bigram, ' ', 1) AS prev, SUM(bcn) AS pcn
      FROM bc GROUP BY 1
    ),
    v AS (
      SELECT COUNT(DISTINCT
               substr(bigram, strpos(bigram, ' ') + 1)) AS vn
      FROM bc
    ),
    term AS (
      SELECT bigram,
             CAST(ROUND(-ln((CAST(bcn AS DOUBLE) + 0.5)
                            / (CAST(pcn AS DOUBLE) + 0.5 * vn)), 9)
                  AS DECIMAL(18,9)) AS nlp
      FROM bc
      JOIN pc ON split_part(bigram, ' ', 1) = prev
      CROSS JOIN v
    )
    {_BIGRAM_DOC_NLL_SQL}
"""

@_q("q_bigram_nll", _BIGRAM_NLL_SQL)
def q_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean negative logprob per doc under the corpus's own add-0.5
    bigram LM — catches improbable token TRANSITIONS (garble, shuffled
    text) that unigram scoring cannot.  Denominators and vocabulary
    derive from the bigram table itself; decimal-summed contributions
    keep the gate exact."""
    from conte_to_fresco_etl_spark.operators.text_analysis import bigram_nll

    return bigram_nll(_t(spark, sf_dir, "documents"), alpha=0.5)


_DEDUP_APPLY_SQL = f"""
    WITH decision AS ({_CANONICAL_SQL})
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d
    WHERE NOT EXISTS (
      SELECT 1 FROM decision c
      WHERE c.doc_id = d.doc_id AND NOT c.keep
    )
"""

@_q("q_dedup_apply", _DEDUP_APPLY_SQL)
def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup filter applied end-to-end: corpus LEFT-ANTI-joins the
    canonical decision's drop set (keep = false), so only cluster
    losers disappear and the corpus itself never reshuffles — the
    claim `canonical_docs` makes, here proven under the hash gate."""
    docs = _t(spark, sf_dir, "documents")
    drops = (
        _decision(spark, sf_dir).filter(~F.col("keep")).select("doc_id")
    )
    return docs.join(
        F.broadcast(drops), "doc_id", "left_anti"
    ).select("doc_id", "source", "n_chars")


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (A-ES)
# ---------------------------------------------------------------------------

_WSAMPLE_SQL = f"""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             ROUND(
               ln(({_sql_md5_long("'42:' || CAST(doc_id AS VARCHAR)")}
                   + 1.0) / {float(16**15 + 1)!r})
               / CAST(n_chars AS DOUBLE), 12) AS es_key
      FROM documents WHERE CAST(n_chars AS DOUBLE) > 0.0
    )
    SELECT doc_id, source, n_chars, es_key
    FROM keyed ORDER BY es_key DESC, doc_id LIMIT 50
"""


@_q("q_weighted_sample", _WSAMPLE_SQL)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted corpus sample (Efraimidis–Spirakis A-ES, k=50,
    weight = n_chars): hash-stable ln(u)/w keys ranked by
    TakeOrdered(k) — map-side keys, k·|partitions| driver rows,
    reproducible across engines and partitionings."""
    from conte_to_fresco_etl_spark.validation import weighted_sample_topk

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return weighted_sample_topk(
        docs, weight_col="n_chars", key_col="doc_id", k=50, seed=42
    )


# ---------------------------------------------------------------------------
# k-anonymity suppression over quasi-identifiers
# ---------------------------------------------------------------------------

_KANON_SQL = """
    WITH q AS (
      SELECT doc_id, lang, source,
             CAST(FLOOR(n_chars / 100.0) AS BIGINT) AS size_bucket
      FROM documents
    ),
    sizes AS (
      SELECT lang, source, size_bucket, COUNT(*) AS group_n
      FROM q GROUP BY 1, 2, 3
    )
    SELECT q.doc_id,
           CASE WHEN s.group_n >= 5 THEN q.lang END AS lang,
           CASE WHEN s.group_n >= 5 THEN q.source END AS source,
           CASE WHEN s.group_n >= 5 THEN q.size_bucket END AS size_bucket,
           s.group_n,
           s.group_n < 5 AS suppressed
    FROM q JOIN sizes s USING (lang, source, size_bucket)
"""


@_q("q_k_anonymity", _KANON_SQL)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity (k=5) over the (lang, source, size-bucket) quasi-
    identifier: equivalence classes smaller than k get their quasi
    columns suppressed.  Class-size aggregate + broadcast join back —
    the class table is dimension-sized by construction; the oracle
    spells the same thing with a join for parity."""
    from conte_to_fresco_etl_spark.operators.pii import k_anonymity

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.floor(F.col("n_chars") / 100.0).cast("long").alias("size_bucket"),
    )
    return k_anonymity(
        docs,
        quasi_cols=["lang", "source", "size_bucket"],
        id_col="doc_id",
        k=5,
    )


# ---------------------------------------------------------------------------
# PMI collocations
# ---------------------------------------------------------------------------

_PMI_MIN_DF = 25
_PMI_MIN_PAIR = 10
_PMI_K = 20

_PMI_SQL = f"""
    WITH toks AS (
      SELECT DISTINCT doc_id AS doc, unnest({_sql_tokens()}) AS term
      FROM documents
    ),
    dfreq AS (SELECT term, COUNT(*) AS n_t FROM toks GROUP BY 1),
    vocab AS (SELECT term, n_t FROM dfreq WHERE n_t >= {_PMI_MIN_DF}),
    posts AS (
      SELECT t.doc, t.term FROM toks t
      WHERE t.term IN (SELECT term FROM vocab)
    ),
    pairs AS (
      SELECT a.term AS t1, b.term AS t2, COUNT(*) AS n_pair
      FROM posts a JOIN posts b ON a.doc = b.doc AND a.term < b.term
      GROUP BY 1, 2 HAVING COUNT(*) >= {_PMI_MIN_PAIR}
    ),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents)
    SELECT p.t1, p.t2, p.n_pair,
           ROUND(ln(CAST(p.n_pair AS DOUBLE) * n.n_docs
                    / (CAST(va.n_t AS DOUBLE) * CAST(vb.n_t AS DOUBLE))),
                 6) AS pmi
    FROM pairs p
    JOIN vocab va ON va.term = p.t1
    JOIN vocab vb ON vb.term = p.t2
    CROSS JOIN n
    ORDER BY pmi DESC, t1, t2 LIMIT {_PMI_K}
"""


@_q("q_token_pmi", _PMI_SQL)
def q_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by document-level PMI: vocabulary pruned
    (df ≥ 25) BEFORE the per-document pair self-join, so pair
    generation costs Σ |doc ∩ vocab|²; exact long counts in, one
    ROUND(6)-pinned log expression out, TakeOrdered ranking."""
    from conte_to_fresco_etl_spark.operators.text_analysis import token_pmi

    return token_pmi(
        _t(spark, sf_dir, "documents"),
        min_df=_PMI_MIN_DF,
        min_pair=_PMI_MIN_PAIR,
        k=_PMI_K,
    )


# ---------------------------------------------------------------------------
# Lexical diversity (unigram entropy / type-token ratio)
# ---------------------------------------------------------------------------

_ENTROPY_SQL = f"""
    WITH toks AS (
      SELECT source AS grp, unnest({_sql_tokens()}) AS term
      FROM documents
    ),
    counts AS (SELECT grp, term, COUNT(*) AS n FROM toks GROUP BY 1, 2),
    totals AS (
      SELECT grp, CAST(SUM(n) AS BIGINT) AS n_tokens,
             COUNT(*) AS n_types
      FROM counts GROUP BY 1
    )
    SELECT c.grp AS source, t.n_tokens, t.n_types,
           ROUND(CAST(t.n_types AS DOUBLE) / CAST(t.n_tokens AS DOUBLE),
                 6) AS ttr,
           ROUND(-CAST(SUM(CAST(ROUND(
             (CAST(c.n AS DOUBLE) / CAST(t.n_tokens AS DOUBLE))
             * ln(CAST(c.n AS DOUBLE) / CAST(t.n_tokens AS DOUBLE)), 12)
           AS DECIMAL(28,12))) AS DOUBLE), 6) AS entropy
    FROM counts c JOIN totals t USING (grp)
    GROUP BY c.grp, t.n_tokens, t.n_types
"""


@_q("q_token_entropy", _ENTROPY_SQL)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram Shannon entropy + type-token ratio — the
    lexical-diversity screen for template farms and generated spam.
    One (source, term) count shuffle; -Σ p·ln(p) contributions are
    ROUND(12)-pinned and decimal-summed so the double is
    order-independent and engine-exact."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        token_entropy,
    )

    return token_entropy(
        _t(spark, sf_dir, "documents"), group_col="source"
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage (OOV rate)
# ---------------------------------------------------------------------------

_OOV_MIN_DF = 50

_OOV_SQL = f"""
    WITH toks AS (
      SELECT doc_id, unnest({_sql_tokens()}) AS tok FROM documents
    ),
    dfreq AS (
      SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1
    ),
    vocab AS (SELECT tok FROM dfreq WHERE df >= {_OOV_MIN_DF}),
    totals AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM toks GROUP BY 1
    ),
    oov AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_oov
      FROM toks WHERE tok NOT IN (SELECT tok FROM vocab) GROUP BY 1
    )
    SELECT t.doc_id, t.n_tokens,
           COALESCE(o.n_oov, 0) AS n_oov,
           ROUND(CAST(COALESCE(o.n_oov, 0) AS DOUBLE)
                 / CAST(t.n_tokens AS DOUBLE), 6) AS oov_rate
    FROM totals t LEFT JOIN oov o USING (doc_id)
"""


@_q("q_oov_rate", _OOV_SQL)
def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: per-document OOV rate against the
    corpus's own common-term vocabulary (df ≥ 50) — one explode, a
    broadcast anti join, partial-aggregated doc counts."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        oov_rate,
        tokens,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    vocab = (
        toks.groupBy("term")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= _OOV_MIN_DF)
        .select("term")
    )
    return oov_rate(docs, vocab)


# ---------------------------------------------------------------------------
# Prefix-filtered exact Jaccard join (PPJoin-style)
# ---------------------------------------------------------------------------

_PREFIX_T = 0.6

_PREFIX_JOIN_SQL = f"""
    WITH {_ID_TRIGRAMS_SQL},
    toks AS (SELECT DISTINCT id, unnest(grams) AS tok FROM g),
    sizes AS (SELECT id, COUNT(*) AS sz FROM toks GROUP BY 1),
    pairs AS (
      SELECT x.id AS a, y.id AS b, COUNT(*) AS n_common
      FROM toks x JOIN toks y ON x.tok = y.tok AND x.id < y.id
      GROUP BY 1, 2
    )
    SELECT p.a, p.b, p.n_common,
           ROUND(CAST(p.n_common AS DOUBLE)
                 / CAST(sa.sz + sb.sz - p.n_common AS DOUBLE), 6)
             AS jaccard
    FROM pairs p
    JOIN sizes sa ON sa.id = p.a
    JOIN sizes sb ON sb.id = p.b
    WHERE CAST(p.n_common AS DOUBLE)
          / CAST(sa.sz + sb.sz - p.n_common AS DOUBLE) >= {_PREFIX_T!r}
"""


@_q("q_jaccard_prefix", _PREFIX_JOIN_SQL)
def q_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-gram-shingle Jaccard pairs (t ≥ 0.6) via PPJoin prefix
    filtering: rare-shingle-first global order, |d|−⌈t|d|⌉+1 prefixes,
    candidate-bounded verification — the SAME answer as the oracle's
    all-posting join from a fraction of the candidates.  Shingles (not
    unigram tokens) keep sets distinctive on small-vocabulary corpora,
    the precondition prefix filtering needs to prune anything."""
    from conte_to_fresco_etl_spark.operators.dedup import (
        jaccard_prefix_join,
    )

    return jaccard_prefix_join(
        _t(spark, sf_dir, "documents"),
        threshold=_PREFIX_T,
    )


# ---------------------------------------------------------------------------
# Label-centroid similarity matrix
# ---------------------------------------------------------------------------

_CENTROID_SIM_SQL = f"""
    WITH cent AS ({_LABEL_CENTROIDS_SQL}),
    paired AS (
      SELECT a.label AS label_a, b.label AS label_b,
             CAST(ROUND(a.mean_val * b.mean_val, 12)
                  AS DECIMAL(28,12)) AS dot_c,
             CAST(ROUND(a.mean_val * a.mean_val, 12)
                  AS DECIMAL(28,12)) AS na_c,
             CAST(ROUND(b.mean_val * b.mean_val, 12)
                  AS DECIMAL(28,12)) AS nb_c
      FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
    )
    SELECT label_a, label_b,
           ROUND(CAST(SUM(dot_c) AS DOUBLE)
                 / sqrt(CAST(SUM(na_c) AS DOUBLE)
                        * CAST(SUM(nb_c) AS DOUBLE)), 6) AS cosine
    FROM paired GROUP BY 1, 2
"""


@_q("q_centroid_similarity", _CENTROID_SIM_SQL)
def q_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-separability matrix: pairwise cosine between label
    centroids, computed over the long centroid table (corpus collapses
    once; the pairwise pass touches |labels|²·dims rows)."""
    from conte_to_fresco_etl_spark.operators.similarity import (
        centroid_similarity,
    )

    return centroid_similarity(_t(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Directed containment (quotation / subsumption detection)
# ---------------------------------------------------------------------------

_CONTAIN_SQL = f"""
    WITH {_ID_TRIGRAMS_SQL},
    posts AS (SELECT DISTINCT id, unnest(grams) AS tok FROM g),
    sizes AS (SELECT id, COUNT(*) AS sz FROM posts GROUP BY 1),
    common AS (
      SELECT x.id AS a, y.id AS b, COUNT(*) AS n_common
      FROM posts x JOIN posts y ON x.tok = y.tok AND x.id <> y.id
      GROUP BY 1, 2
    )
    SELECT c.a, c.b, c.n_common,
           ROUND(CAST(c.n_common AS DOUBLE) / CAST(s.sz AS DOUBLE), 6)
             AS containment
    FROM common c JOIN sizes s ON s.id = c.a
    WHERE CAST(c.n_common AS DOUBLE) / CAST(s.sz AS DOUBLE) >= 0.8
"""


@_q("q_containment", _CONTAIN_SQL)
def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle containment C(a→b) ≥ 0.8 — the quotation/
    subsumption detector Jaccard misses (a short doc copied into a
    long one).  Inverted-index posting join, Σ posting², never n²."""
    from conte_to_fresco_etl_spark.operators.dedup import containment_pairs

    return containment_pairs(
        _t(spark, sf_dir, "documents"),
        threshold=0.8,
    )


# ---------------------------------------------------------------------------
# Language-ID confusion matrix (classifier evaluation)
# ---------------------------------------------------------------------------

_LANG_CONFUSION_SQL = f"""
    WITH base AS (
      SELECT doc_id, lang, {_sql_tokens()} AS toks FROM documents
    ),
    scored AS (
      SELECT doc_id, lang,
         {_LANG_SCORES_SQL}
      FROM base
    ),
    pred AS (
      SELECT lang AS label, {_LANG_CASE_SQL} AS lang_pred FROM scored
    ),
    cells AS (
      SELECT label, lang_pred, COUNT(*) AS n FROM pred GROUP BY 1, 2
    )
    SELECT c.label, c.lang_pred, c.n,
           ROUND(CAST(c.n AS DOUBLE)
                 / CAST(SUM(c.n) OVER (PARTITION BY c.label) AS DOUBLE),
                 6) AS recall_share
    FROM cells c
"""


@_q("q_lang_confusion", _LANG_CONFUSION_SQL)
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation confusion matrix: the stopword language-ID
    prediction against the documents table's gold ``lang`` label, with
    per-label recall shares.  One prediction map pass + one (label,
    pred) count shuffle; the share window runs over the |labels|² cell
    table."""
    from conte_to_fresco_etl_spark.functions.text import (
        lang_id_from_tokens,
        tokens,
    )
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    # tokenize ONCE in its own projection: the five stopword scores
    # reference the array through HOF lambdas, which CSE cannot cross
    pred = docs.select(
        F.col("lang").alias("label"), tokens("text").alias("__toks")
    ).select(
        "label", lang_id_from_tokens(F.col("__toks")).alias("lang_pred")
    )
    cells = pred.groupBy("label", "lang_pred").agg(F.count("*").alias("n"))
    w = Window.partitionBy("label")
    return cells.select(
        "label",
        "lang_pred",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(w).cast("double"), 6
        ).alias("recall_share"),
    )


# ---------------------------------------------------------------------------
# Per-dimension embedding statistics (embedding-space drift monitor)
# ---------------------------------------------------------------------------

_EMB_STATS_SQL = """
    WITH x AS (
      SELECT i AS dim, CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings, generate_series(1, 64) AS g(i)
      WHERE embedding IS NOT NULL AND i <= len(embedding)
    )
    SELECT CAST(dim AS INT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(v) AS min_v, MAX(v) AS max_v,
           ROUND(CAST(SUM(CAST(ROUND(v, 9) AS DECIMAL(18,9)))
                      AS DOUBLE) / COUNT(*), 6) AS mean_v,
           ROUND(CAST(SUM(CAST(ROUND(v * v, 12) AS DECIMAL(28,12)))
                      AS DOUBLE) / COUNT(*), 6) AS mean_sq
    FROM x GROUP BY dim
"""


@_q("q_embedding_stats", _EMB_STATS_SQL)
def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics (n/min/max/mean/mean-square)
    — the drift monitor for an embedding column: a dimension whose
    moments move means the upstream encoder changed.  One narrow
    (dim, value) shuffle with decimal-pinned sums; at 100 TB this is
    64 partial aggregates, never a vector-wide row."""
    emb = _t(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    x = emb.select(F.posexplode("embedding").alias("pos", "val")).select(
        (F.col("pos") + 1).cast("int").alias("dim"),
        F.col("val").cast("double").alias("v"),
    )
    return x.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
        F.round(
            F.sum(F.round(F.col("v"), 9).cast("decimal(18,9)"))
            .cast("double")
            / F.count("*").cast("double"),
            6,
        ).alias("mean_v"),
        F.round(
            F.sum(
                F.round(F.col("v") * F.col("v"), 12).cast("decimal(28,12)")
            ).cast("double")
            / F.count("*").cast("double"),
            6,
        ).alias("mean_sq"),
    )


# ---------------------------------------------------------------------------
# Curation v3: this round's governance ops composed end-to-end
# ---------------------------------------------------------------------------

_CURATION_V3_SQL = f"""
    WITH fp AS (
      SELECT doc_id, source, n_chars,
             {_SQL_FINGERPRINT} AS fingerprint
      FROM documents
    ),
    reps AS (
      SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY fingerprint
    ),
    survivors AS (
      SELECT f.doc_id, f.source, f.n_chars FROM fp f
      WHERE f.doc_id IN (SELECT doc_id FROM reps)
    ),
    keyed AS (
      SELECT doc_id, source, n_chars,
             ROUND(
               ln(({_sql_md5_long("'42:' || CAST(doc_id AS VARCHAR)")}
                   + 1.0) / {float(16**15 + 1)!r})
               / CAST(n_chars AS DOUBLE), 12) AS es_key
      FROM survivors WHERE CAST(n_chars AS DOUBLE) > 0.0
    ),
    sampled AS (
      SELECT doc_id, source, n_chars
      FROM keyed ORDER BY es_key DESC, doc_id LIMIT 100
    ),
    b AS (
      SELECT doc_id, source, n_chars,
             ({_sql_md5_long("'42:' || CAST(doc_id AS VARCHAR)")})
               / {float(16**15)!r} AS bb
      FROM sampled
    )
    SELECT doc_id, source, n_chars,
           CASE WHEN bb < {_SPLIT_CUTS[0]} THEN 'train'
                WHEN bb < {_SPLIT_CUTS[1]} THEN 'val'
                ELSE 'test' END AS split
    FROM b
"""


@_q("q_curation_v3", _CURATION_V3_SQL)
def q_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """This round's governance ops composed end-to-end — exact dedup
    (min-id representative per content fingerprint) → length-weighted
    A-ES sample of 100 → hash-stable train/val/test assignment.  The
    COMPOSITION is what the gate checks: each stage's row set feeds the
    next exactly."""
    from conte_to_fresco_etl_spark.functions.text import doc_fingerprint
    from conte_to_fresco_etl_spark.validation import (
        assign_splits,
        weighted_sample_topk,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", "text"
    )
    fp = docs.select(
        "doc_id", "source", "n_chars",
        doc_fingerprint(F.col("text")).alias("fingerprint"),
    )
    reps = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    survivors = fp.join(
        F.broadcast(reps.select("doc_id")), "doc_id", "left_semi"
    ).select("doc_id", "source", "n_chars")
    sampled = weighted_sample_topk(
        survivors, weight_col="n_chars", key_col="doc_id", k=100, seed=42
    ).drop("es_key")
    return assign_splits(sampled, key_col="doc_id").select(
        "doc_id", "source", "n_chars", "split"
    )


# ---------------------------------------------------------------------------
# N-gram novelty (first-occurrence fraction per document)
# ---------------------------------------------------------------------------

_NOVELTY_SQL = f"""
    WITH {_ID_TRIGRAMS_SQL},
    posts AS (SELECT DISTINCT id, unnest(grams) AS tok FROM g),
    firsts AS (SELECT tok, MIN(id) AS first_id FROM posts GROUP BY 1)
    SELECT p.id AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_id = p.id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(CAST(SUM(CASE WHEN f.first_id = p.id THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS novelty
    FROM posts p JOIN firsts f USING (tok)
    GROUP BY p.id
"""


@_q("q_ngram_novelty", _NOVELTY_SQL)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of its distinct 3-gram
    shingles FIRST seen in it (by ingestion id order) — the curriculum
    /repetition signal a near-dup pass leaves behind (a doc can evade
    pairwise thresholds yet contribute almost nothing new).  Reuses the
    session-staged shingle posting; MIN-per-gram comes from a
    tok-partitioned window instead of an aggregate-then-join, so the
    postings are read ONCE and the plan is one tok shuffle + one doc
    shuffle (the join spelling read the posting table twice — measured
    2.35s -> 1.6s at sf0.1 under the bench's cold-cache methodology)."""
    from pyspark.sql import Window

    from conte_to_fresco_etl_spark.operators.dedup import shingle_postings

    posts = shingle_postings(_t(spark, sf_dir, "documents"))
    novel = F.when(
        F.min("__id").over(Window.partitionBy("tok")) == F.col("__id"), 1
    ).otherwise(0)
    return (
        posts.select("__id", novel.alias("__novel"))
        .groupBy(F.col("__id").alias("doc_id"))
        .agg(
            F.count("*").alias("n_grams"),
            F.sum("__novel").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double")
                / F.col("n_grams").cast("double"),
                6,
            ).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# Round 5: DSIR selection, embedding outliers, hard negatives, propagation
# ---------------------------------------------------------------------------

_DSIR_SQL = f"""
    WITH base AS (
      SELECT doc_id, lang = 'en' AS is_t, {_sql_tokens()} AS toks FROM documents
    ),
    ne AS (SELECT * FROM base WHERE len(toks) > 0),
    t AS (SELECT doc_id, is_t, unnest(toks) AS term FROM ne),
    tf AS (SELECT doc_id, is_t, term, COUNT(*) AS cnt FROM t GROUP BY 1, 2, 3),
    vocab AS (
      SELECT term, SUM(cnt) AS vc_s,
             SUM(CASE WHEN is_t THEN cnt ELSE 0 END) AS vc_t
      FROM tf GROUP BY 1
    ),
    tot AS (SELECT SUM(vc_s) AS n_s, SUM(vc_t) AS n_t, COUNT(*) AS v FROM vocab),
    d AS (
      SELECT term,
             CAST(ROUND(
               ln((CAST(vc_t AS DOUBLE) + 1.0)
                  / (CAST(n_t AS DOUBLE) + CAST(v AS DOUBLE)))
             - ln((CAST(vc_s AS DOUBLE) + 1.0)
                  / (CAST(n_s AS DOUBLE) + CAST(v AS DOUBLE))), 9)
             AS DECIMAL(18,9)) AS dt
      FROM vocab CROSS JOIN tot
    )
    SELECT tf.doc_id,
           CAST(SUM(tf.cnt) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(CAST(tf.cnt AS DECIMAL(10,0)) * d.dt) AS DOUBLE), 6)
             AS log_weight
    FROM tf JOIN d USING (term)
    GROUP BY tf.doc_id
"""


@_q("q_dsir_weights", _DSIR_SQL)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights toward the English subcorpus: both
    unigram LMs fall out of ONE vocabulary pass (conditional sums), so
    targeted data selection costs the same as one perplexity scoring
    run."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        dsir_logweights,
    )

    return dsir_logweights(
        _t(spark, sf_dir, "documents"), F.col("lang") == "en"
    )


_EMB_OUTLIERS_SQL = f"""
    WITH cent AS ({_LABEL_CENTROIDS_SQL}),
    x AS (
      SELECT vec_id, CAST(label AS BIGINT) AS label, CAST(i AS BIGINT) AS dim,
             CAST(embedding[i] AS DOUBLE) AS val
      FROM embeddings, generate_series(1, 64) AS g(i)
      WHERE embedding IS NOT NULL AND i <= len(embedding)
    ),
    d AS (
      SELECT x.label, x.vec_id,
             ROUND(CAST(SUM(CAST(ROUND((x.val - c.mean_val) * (x.val - c.mean_val), 12)
                                 AS DECIMAL(28,12))) AS DOUBLE), 6) AS dist2
      FROM x JOIN cent c ON x.label = c.label AND x.dim = c.dim
      GROUP BY 1, 2
    )
    SELECT label, vec_id, dist2, rk FROM (
      SELECT label, vec_id, dist2,
             CAST(ROW_NUMBER() OVER (PARTITION BY label
                    ORDER BY dist2 DESC, vec_id ASC) AS BIGINT) AS rk
      FROM d
    ) WHERE rk <= 5
"""


@_q("q_embedding_outliers", _EMB_OUTLIERS_SQL)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 farthest-from-own-centroid vectors per label — the
    mislabel/off-distribution review queue."""
    from conte_to_fresco_etl_spark.operators.similarity import (
        embedding_outliers,
    )

    return embedding_outliers(_t(spark, sf_dir, "embeddings"))


_HARDNEG_SQL = """
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    n AS (SELECT vec_id, label, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
    q AS (SELECT * FROM n WHERE vec_id % 100 = 0)
    SELECT query_id, neighbor_id, neighbor_label, cosine, rank FROM (
      SELECT query_id, neighbor_id, neighbor_label, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
      FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               c.label AS neighbor_label,
               ROUND(CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
                          ELSE list_dot_product(c.e, q.e) / (q.nrm * c.nrm)
                     END, 6) AS cosine
        FROM n c, q
        WHERE c.vec_id <> q.vec_id AND c.label <> q.label
      )
    ) WHERE rank <= 5
"""


@_q("q_hard_negatives", _HARDNEG_SQL)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most-similar DIFFERENT-label vectors per anchor
    (vec_id % 100 = 0) — contrastive hard-negative mining, pure
    Column-expression path (no driver collect)."""
    from conte_to_fresco_etl_spark.operators.similarity import (
        hard_negative_topk,
    )

    return hard_negative_topk(
        _t(spark, sf_dir, "embeddings"), F.col("vec_id") % 100 == 0, k=5
    )


# The SCALE path for hard-negative mining: the exact miner above is
# anchors x corpus (O(n²) with a fractional anchor set — 55x wall-clock
# at 10x rows in the r11 one-decade bench); this one generates
# candidates through the SAME density-adaptive sign-LSH bands as
# q_embedding_neardup_lsh (shared plane literals + the count-derived
# bits clamp), then exact-scores, label-filters, and ranks only the
# candidates.  Deterministic given the literals, so the approximate
# result is gated bit-for-bit.
_HARDNEG_LSH_SQL = f"""
    WITH v AS (
      -- null-filtered universe: the Spark side drops null embeddings
      -- before signing/banding, so a rank<=k gate must too (a null row
      -- would otherwise band into key 0 and perturb candidate sets)
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    n AS (
      SELECT vec_id, label, e, sqrt(list_dot_product(e, e)) AS nrm FROM v
    ),
    p AS (
      SELECT LEAST(12, GREATEST(4,
               CAST(ceil(log2(CAST(count(*) AS DOUBLE) / 64.0)) AS BIGINT)
             )) AS bits
      FROM n
    ),
    s AS (
      SELECT vec_id, {_EMB_SIG_SQL} AS sig FROM n
    ),
    bands AS (
      {_EMB_BANDS_SQL}
    ),
    qb AS (SELECT * FROM bands WHERE vec_id % 100 = 0),
    cand AS (
      SELECT DISTINCT c.vec_id AS neighbor_id, q.vec_id AS query_id
      FROM bands c JOIN qb q ON c.band = q.band AND c.key = q.key
                            AND c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, neighbor_label, cosine, rank FROM (
      SELECT query_id, neighbor_id, neighbor_label, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT)
               AS rank
      FROM (
        SELECT cand.query_id, cand.neighbor_id,
               CAST(a.label AS BIGINT) AS neighbor_label,
               ROUND(CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
                          ELSE list_dot_product(a.e, b.e) / (a.nrm * b.nrm)
                     END, 6) AS cosine
        FROM cand JOIN n a ON cand.neighbor_id = a.vec_id
                  JOIN n b ON cand.query_id = b.vec_id
        WHERE a.label <> b.label
      )
    ) WHERE rank <= 5
"""

@_q("q_hard_negatives_lsh", _HARDNEG_LSH_SQL)
def q_hard_negatives_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining through density-adaptive LSH candidates —
    the corpus-scale sibling of q_hard_negatives (which stays as the
    exact yardstick, like q_ann_topk for the top-k family).  Candidate
    generation, exact rescoring, label filter, and ranking are all
    deterministic from the shared plane literals, so the oracle gates
    the whole approximate pipeline bit-for-bit."""
    from conte_to_fresco_etl_spark.operators.similarity import (
        hard_negative_topk_lsh,
    )

    return hard_negative_topk_lsh(
        _t(spark, sf_dir, "embeddings"), F.col("vec_id") % 100 == 0, k=5,
        dim=64, n_planes=48, bands=4, seed=42,
        adaptive_bits=True, target_bucket=64, min_bits=4,
    )


_QPROP_SQL = f"""
    WITH pairs AS ({_MINHASH_SQL}),
    e AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    base AS (
      SELECT doc_id, text, {_sql_tokens()} AS toks FROM documents
    ),
    m AS (
      SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)
         END AS praw,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(len(list_filter(toks, t -> list_contains({_sql_list(EN_STOPWORDS)}, t))) AS DOUBLE) / len(toks)
         END AS sraw
      FROM base
    ),
    q AS (
      SELECT doc_id,
             ROUND(0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
                 + 0.3 * (1.0 - praw)
                 + 0.3 * least(1.0, 4.0 * sraw), 6) AS quality
      FROM m
    ),
    nb AS (
      SELECT e.src AS doc_id, COUNT(*) AS n_neighbors,
             ROUND(CAST(SUM(CAST(q2.quality AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*), 6) AS nb_mean
      FROM e JOIN q q2 ON q2.doc_id = e.dst
      GROUP BY 1
    )
    SELECT q.doc_id, q.quality,
           CAST(COALESCE(nb.n_neighbors, 0) AS BIGINT) AS n_neighbors,
           ROUND(0.5 * q.quality + 0.5 * COALESCE(nb.nb_mean, q.quality), 6)
             AS smoothed
    FROM q LEFT JOIN nb ON nb.doc_id = q.doc_id
"""


@_q("q_quality_propagation", _QPROP_SQL)
def q_quality_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One quality-smoothing step over the MinHash near-dup graph:
    spam evidence flows between near-copies that individually pass the
    heuristics.  Same pair derivation as q_minhash_lsh."""
    from conte_to_fresco_etl_spark.functions.text import quality_score
    from conte_to_fresco_etl_spark.operators.dedup import minhash_lsh_pairs
    from conte_to_fresco_etl_spark.operators.graph import score_propagation

    docs = _t(spark, sf_dir, "documents")
    scores = docs.select(
        "doc_id", F.round(quality_score(F.col("text")), 6).alias("quality")
    )
    pairs = minhash_lsh_pairs(
        docs, num_hashes=48, bands=12, shingle_n=5, threshold=0.5, seed=42
    )
    return score_propagation(scores, pairs)


_RECALL_SAMPLE = 250

_LSH_RECALL_SQL = f"""
    WITH docs AS (
      SELECT doc_id, lower(text) AS t FROM documents
      WHERE length(text) >= 5 AND doc_id < {_RECALL_SAMPLE}
    ),
    {_MH_CAND_SQL},
    est AS (
      SELECT id_a, id_b FROM (
        SELECT id_a, id_b,
               CAST(len(list_filter(generate_series(1, 48), i -> sa[i] = sb[i])) AS DOUBLE) / 48.0
                 AS est_jaccard
        FROM cand
      ) WHERE est_jaccard >= 0.5
    ),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.shingles, b.shingles)) AS nc,
             len(a.shingles) AS sa, len(b.shingles) AS sb
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    ),
    exact AS (
      SELECT id_a, id_b FROM p
      WHERE CAST(nc AS DOUBLE) / CAST(sa + sb - nc AS DOUBLE) >= 0.5
    ),
    c AS (
      SELECT (SELECT COUNT(*) FROM exact) AS n_true,
             (SELECT COUNT(*) FROM est) AS n_est,
             (SELECT COUNT(*) FROM est e JOIN exact x
                ON e.id_a = x.id_a AND e.id_b = x.id_b) AS n_hit
    )
    SELECT CAST(n_true AS BIGINT) AS n_true,
           CAST(n_est AS BIGINT) AS n_est,
           CAST(n_hit AS BIGINT) AS n_hit,
           CASE WHEN n_true = 0 THEN NULL
                ELSE ROUND(CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE), 6)
           END AS recall,
           CASE WHEN n_est = 0 THEN NULL
                ELSE ROUND(CAST(n_hit AS DOUBLE) / CAST(n_est AS DOUBLE), 6)
           END AS prec
    FROM c
"""


@_q("q_lsh_recall", _LSH_RECALL_SQL)
def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall/precision of the 12x4 MinHash-LSH layout against
    exact shingle Jaccard on a 250-doc pair sample — the empirical
    check on q_lsh_calibration's analytic s-curve."""
    from conte_to_fresco_etl_spark.operators.dedup import lsh_recall_report

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _RECALL_SAMPLE
    )
    return lsh_recall_report(
        docs, num_hashes=48, bands=12, shingle_n=5, threshold=0.5, seed=42
    )


# ---------------------------------------------------------------------------
# Classifier evaluation metrics + uniform k-per-group reservoir
# ---------------------------------------------------------------------------

_CLS_METRICS_SQL = f"""
    WITH base AS (
      SELECT lang AS g, {_sql_tokens()} AS toks FROM documents
    ),
    m AS (
      SELECT g, {_LANG_SCORES_SQL}
      FROM base
    ),
    pred AS (SELECT g, {_LANG_CASE_SQL} AS p FROM m),
    cells AS (SELECT g, p, COUNT(*) AS n FROM pred
              WHERE g IS NOT NULL AND p IS NOT NULL GROUP BY 1, 2),
    classes AS (
      SELECT g AS cls FROM cells UNION SELECT p AS cls FROM cells
    ),
    gold_tot AS (SELECT g AS cls, SUM(n) AS gold_n FROM cells GROUP BY 1),
    pred_tot AS (SELECT p AS cls, SUM(n) AS pred_n FROM cells GROUP BY 1),
    tp AS (SELECT g AS cls, n AS tp_n FROM cells WHERE g = p),
    pc AS (
      SELECT c.cls,
             COALESCE(gold_n, 0) AS gold_n,
             COALESCE(pred_n, 0) AS pred_n,
             COALESCE(tp_n, 0) AS tp_n
      FROM classes c
      LEFT JOIN gold_tot USING (cls)
      LEFT JOIN pred_tot USING (cls)
      LEFT JOIN tp USING (cls)
    ),
    x AS (
      SELECT *,
        CASE WHEN pred_n = 0 THEN 0.0
             ELSE CAST(tp_n AS DOUBLE) / CAST(pred_n AS DOUBLE) END AS prec,
        CASE WHEN gold_n = 0 THEN 0.0
             ELSE CAST(tp_n AS DOUBLE) / CAST(gold_n AS DOUBLE) END AS rec
      FROM pc
    ),
    y AS (
      SELECT *,
        CASE WHEN prec + rec = 0 THEN 0.0
             ELSE 2.0 * prec * rec / (prec + rec) END AS f1
      FROM x
    ),
    s AS (
      SELECT COUNT(*) AS n_classes, SUM(tp_n) AS tp_total,
             SUM(gold_n) AS n_total, SUM(gold_n * pred_n) AS pe_num,
             SUM(CAST(ROUND(prec, 12) AS DECIMAL(18,12))) AS p_sum,
             SUM(CAST(ROUND(rec, 12) AS DECIMAL(18,12))) AS r_sum,
             SUM(CAST(ROUND(f1, 12) AS DECIMAL(18,12))) AS f_sum
      FROM y
    )
    SELECT CAST(n_total AS BIGINT) AS n,
           CAST(n_classes AS BIGINT) AS n_classes,
           ROUND(CAST(tp_total AS DOUBLE) / CAST(n_total AS DOUBLE), 6)
             AS accuracy,
           ROUND(CAST(p_sum AS DOUBLE) / n_classes, 6) AS macro_precision,
           ROUND(CAST(r_sum AS DOUBLE) / n_classes, 6) AS macro_recall,
           ROUND(CAST(f_sum AS DOUBLE) / n_classes, 6) AS macro_f1,
           CASE WHEN 1.0 - CAST(pe_num AS DOUBLE)
                           / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)) = 0
                THEN NULL
                ELSE ROUND(
                  (CAST(tp_total AS DOUBLE) / CAST(n_total AS DOUBLE)
                   - CAST(pe_num AS DOUBLE)
                     / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)))
                  / (1.0 - CAST(pe_num AS DOUBLE)
                           / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE))), 6)
           END AS kappa
    FROM s
"""


@_q("q_classifier_metrics", _CLS_METRICS_SQL)
def q_classifier_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID scorecard against the gold lang label: accuracy,
    macro precision/recall/F1 over the union class set, Cohen's kappa
    — the numbers a pipeline watches when its heuristic classifiers
    change."""
    from conte_to_fresco_etl_spark.functions.text import (
        lang_id_from_tokens,
        tokens,
    )
    from conte_to_fresco_etl_spark.operators.robust import (
        classification_metrics,
    )

    docs = _t(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("g"), tokens("text").alias("__toks")
    ).select("g", lang_id_from_tokens(F.col("__toks")).alias("p"))
    return classification_metrics(pred, "g", "p")


_GROUP_RESERVOIR_SQL = """
    SELECT lang, doc_id, rk FROM (
      SELECT lang, doc_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY CAST('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15)
                             AS BIGINT) ASC,
                        doc_id ASC) AS BIGINT) AS rk
      FROM documents
    ) WHERE rk <= 20
"""


@_q("q_group_reservoir", _GROUP_RESERVOIR_SQL)
def q_group_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform 20-per-language sample via hash-rank — the
    deterministic, partitioning-independent equivalent of a per-group
    reservoir."""
    from conte_to_fresco_etl_spark.validation import group_reservoir

    return group_reservoir(
        _t(spark, sf_dir, "documents"), "lang", "doc_id", k=20, seed=7
    )


_HELDOUT_NLL_SQL = f"""
    WITH sp AS (
      SELECT doc_id, text,
             CASE WHEN CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15)
                            AS BIGINT) / 1152921504606846976.0 < 0.8
                  THEN 'train' ELSE 'val' END AS split
      FROM documents
    ),
    base AS (SELECT doc_id, split, {_sql_tokens()} AS toks FROM sp),
    ne AS (SELECT * FROM base WHERE len(toks) > 0),
    t AS (SELECT doc_id, split, unnest(toks) AS term FROM ne),
    tf AS (SELECT doc_id, split, term, COUNT(*) AS cnt FROM t GROUP BY 1, 2, 3),
    vocab AS (
      SELECT term, SUM(cnt) AS vc FROM tf WHERE split = 'train' GROUP BY 1
    ),
    tot AS (SELECT SUM(vc) AS n_train, COUNT(*) AS v FROM vocab),
    scored AS (
      SELECT tf.doc_id, tf.cnt,
             CAST(ROUND(-ln((CAST(COALESCE(v2.vc, 0) AS DOUBLE) + 1.0)
                            / (CAST(n_train AS DOUBLE) + CAST(v AS DOUBLE))), 9)
                  AS DECIMAL(18,9)) AS nlp
      FROM tf LEFT JOIN vocab v2 USING (term) CROSS JOIN tot
      WHERE tf.split = 'val'
    )
    SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(CAST(cnt AS DECIMAL(10,0)) * nlp) AS DOUBLE)
                 / CAST(SUM(cnt) AS DOUBLE), 6) AS heldout_nll
    FROM scored GROUP BY 1
"""


@_q("q_heldout_nll", _HELDOUT_NLL_SQL)
def q_heldout_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scores for the val split under a
    TRAIN-split unigram LM — the un-gameable form of LM-based
    filtering (a document's own duplicated mass cannot raise its
    score)."""
    from conte_to_fresco_etl_spark.operators.text_analysis import heldout_nll

    return heldout_nll(_t(spark, sf_dir, "documents"))


_SPLIT_LEAKAGE_SQL = f"""
    WITH pairs AS ({_MINHASH_SQL}),
    sp AS (
      SELECT doc_id,
             CASE WHEN CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15)
                            AS BIGINT) / 1152921504606846976.0 < 0.8
                  THEN 'train' ELSE 'val' END AS split
      FROM documents
    )
    SELECT least(a.split, b.split) AS split_lo,
           greatest(a.split, b.split) AS split_hi,
           COUNT(*) AS n_pairs
    FROM pairs p
    JOIN sp a ON a.doc_id = p.id_a
    JOIN sp b ON b.doc_id = p.id_b
    GROUP BY 1, 2
"""


@_q("q_split_leakage", _SPLIT_LEAKAGE_SQL)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit: count near-duplicate pairs WITHIN and
    ACROSS the hash-stable train/val splits.  Cross-split near-dups
    are eval contamination — the val doc's twin was trained on, so
    held-out metrics read too well; the standard remedy is assigning
    splits by near-dup COMPONENT (q_dedup_canonical's table) instead
    of by document.  Same pair derivation as q_minhash_lsh, same
    split rule as q_heldout_nll: the audit composes the two gated
    pipelines it checks."""
    from conte_to_fresco_etl_spark.operators.dedup import minhash_lsh_pairs
    from conte_to_fresco_etl_spark.validation import assign_splits

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, num_hashes=48, bands=12, shingle_n=5, threshold=0.5, seed=42
    )
    sp = assign_splits(
        docs.select("doc_id"),
        key_col="doc_id",
        weights={"train": 0.8, "val": 0.2},
        seed=42,
    )
    sa = sp.select(F.col("doc_id").alias("id_a"), F.col("split").alias("__sa"))
    sb = sp.select(F.col("doc_id").alias("id_b"), F.col("split").alias("__sb"))
    return (
        pairs.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .groupBy(
            F.least("__sa", "__sb").alias("split_lo"),
            F.greatest("__sa", "__sb").alias("split_hi"),
        )
        .agg(F.count("*").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# Round 6: source-level text profile, vocab overlap, survival curve,
# rare-token docs, positional span extraction
# ---------------------------------------------------------------------------

_STOPWORD_PROFILE_SQL = f"""
    WITH base AS (
      SELECT doc_id, source, {_sql_tokens()} AS toks FROM documents
    ),
    t AS (
      SELECT doc_id, source, unnest(toks) AS term FROM base
    ),
    tf AS (
      SELECT source, term, COUNT(*) AS cnt FROM t GROUP BY 1, 2
    )
    SELECT source,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 6)
             AS type_token_ratio,
           ROUND(CAST(SUM(CASE WHEN list_contains(
                     {_sql_list(EN_STOPWORDS)}, term) THEN cnt
                     ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(cnt) AS DOUBLE), 6) AS stopword_ratio
    FROM tf GROUP BY 1
"""


@_q("q_stopword_profile", _STOPWORD_PROFILE_SQL)
def q_stopword_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOURCE-level text profile: token volume, vocabulary size,
    type-token ratio, and stopword mass per source — the mixture-level
    roll-up of q_doc_profile's per-document signals (a source whose TTR
    collapses is template spam; one whose stopword mass vanishes is
    symbol soup).  One (source, term) count shuffle collapses the
    corpus; everything after is source-sized."""
    from conte_to_fresco_etl_spark.functions.text import (
        EN_STOPWORDS,
        tokens,
    )

    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").alias("cnt"))
    )
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    return tf.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.round(
            F.count("*").cast("double") / F.sum("cnt").cast("double"), 6
        ).alias("type_token_ratio"),
        F.round(
            F.sum(
                F.when(F.array_contains(sw, F.col("term")), F.col("cnt"))
                .otherwise(0)
            ).cast("double")
            / F.sum("cnt").cast("double"),
            6,
        ).alias("stopword_ratio"),
    )


_COVERAGE_OVERLAP_SQL = f"""
    WITH base AS (
      SELECT doc_id, source, {_sql_tokens()} AS toks FROM documents
      WHERE source IN ('src0','src1','src2','src3','src4','src5','src6','src7')
    ),
    v AS (
      SELECT DISTINCT source, unnest(toks) AS term FROM base
    ),
    sizes AS (SELECT source, COUNT(*) AS vsize FROM v GROUP BY 1),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
      FROM v a JOIN v b ON a.term = b.term AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b,
           CAST(sa.vsize AS BIGINT) AS vocab_a,
           CAST(sb.vsize AS BIGINT) AS vocab_b,
           CAST(i.n_common AS BIGINT) AS n_common,
           ROUND(CAST(i.n_common AS DOUBLE)
                 / CAST(sa.vsize + sb.vsize - i.n_common AS DOUBLE), 6)
             AS vocab_jaccard
    FROM inter i
    JOIN sizes sa ON i.src_a = sa.source
    JOIN sizes sb ON i.src_b = sb.source
"""


@_q("q_coverage_overlap", _COVERAGE_OVERLAP_SQL)
def q_coverage_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise VOCABULARY overlap between sources (Jaccard of distinct
    term sets over a bounded 8-source panel): the mixture-design signal
    for 'does adding source B buy new coverage or re-buy source A'.
    Plan: one distinct (source, term) table; the self-join is
    TERM-keyed, so a term present in k panel sources contributes k²
    pairs — bounded by 64 per term, never corpus² — and the result is
    pair-count-sized (≤ 28 rows)."""
    from pyspark.sql.functions import broadcast

    from conte_to_fresco_etl_spark.functions.text import tokens

    panel = [f"src{i}" for i in range(8)]
    docs = _t(spark, sf_dir, "documents").filter(F.col("source").isin(panel))
    v = (
        docs.select("source", F.explode(tokens("text")).alias("term"))
        .distinct()
    )
    sizes = v.groupBy("source").agg(F.count("*").alias("vsize"))
    a, b = v.alias("a"), v.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(
        F.col("source").alias("src_a"), F.col("vsize").alias("vocab_a")
    )
    sb = sizes.select(
        F.col("source").alias("src_b"), F.col("vsize").alias("vocab_b")
    )
    return (
        inter.join(broadcast(sa), "src_a")
        .join(broadcast(sb), "src_b")
        .select(
            "src_a", "src_b",
            F.col("vocab_a").cast("long").alias("vocab_a"),
            F.col("vocab_b").cast("long").alias("vocab_b"),
            F.col("n_common").cast("long").alias("n_common"),
            F.round(
                F.col("n_common").cast("double")
                / (
                    F.col("vocab_a") + F.col("vocab_b") - F.col("n_common")
                ).cast("double"),
                6,
            ).alias("vocab_jaccard"),
        )
    )


_LENGTH_SURVIVAL_SQL = """
    WITH t(threshold) AS (
      VALUES (100), (200), (400), (800), (1600), (3200)
    ),
    tot AS (
      SELECT COUNT(*) AS n_total,
             SUM(CAST(n_chars AS DECIMAL(18,0))) AS chars_total
      FROM documents
    )
    SELECT CAST(t.threshold AS BIGINT) AS threshold,
           CAST(SUM(CASE WHEN d.n_chars >= t.threshold THEN 1 ELSE 0 END)
                AS BIGINT) AS n_surviving,
           ROUND(CAST(SUM(CASE WHEN d.n_chars >= t.threshold THEN 1
                          ELSE 0 END) AS DOUBLE)
                 / CAST(MAX(tot.n_total) AS DOUBLE), 6) AS doc_frac,
           ROUND(CAST(SUM(CAST(LEAST(d.n_chars, t.threshold)
                               AS DECIMAL(18,0))) AS DOUBLE)
                 / CAST(MAX(tot.chars_total) AS DOUBLE), 6)
             AS chars_retained_frac
    FROM documents d CROSS JOIN t CROSS JOIN tot
    GROUP BY 1
"""


@_q("q_length_survival", _LENGTH_SURVIVAL_SQL)
def q_length_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length survival curve: for each truncation threshold,
    how many documents survive a min-length filter and what fraction of
    total characters a max-length TRUNCATION at that point retains —
    the two numbers that price any context-length budget.  ONE pass:
    all thresholds evaluate as conditional aggregates in a single
    map-side combine (no docs-x-thresholds blow-up), then the 1-row
    result unpivots to threshold rows."""
    thresholds = [100, 200, 400, 800, 1600, 3200]
    docs = _t(spark, sf_dir, "documents")
    aggs = []
    for t in thresholds:
        aggs.append(
            F.sum(F.when(F.col("n_chars") >= t, 1).otherwise(0)).alias(
                f"surv_{t}"
            )
        )
        aggs.append(
            F.sum(
                F.least(F.col("n_chars"), F.lit(t)).cast("decimal(18,0)")
            ).alias(f"kept_{t}")
        )
    row = docs.agg(
        F.count("*").alias("n_total"),
        F.sum(F.col("n_chars").cast("decimal(18,0)")).alias("chars_total"),
        *aggs,
    )
    stack_expr = ", ".join(
        f"{t}L, surv_{t}, kept_{t}" for t in thresholds
    )
    return row.select(
        F.expr(
            f"stack({len(thresholds)}, {stack_expr}) "
            "as (threshold, n_surviving, chars_kept)"
        ),
        "n_total",
        "chars_total",
    ).select(
        F.col("threshold").cast("long").alias("threshold"),
        F.col("n_surviving").cast("long").alias("n_surviving"),
        F.round(
            F.col("n_surviving").cast("double")
            / F.col("n_total").cast("double"),
            6,
        ).alias("doc_frac"),
        F.round(
            F.col("chars_kept").cast("double")
            / F.col("chars_total").cast("double"),
            6,
        ).alias("chars_retained_frac"),
    )


_RARE_TOKEN_SQL = f"""
    WITH base AS (
      SELECT doc_id, {_sql_tokens()} AS toks FROM documents
    ),
    posts AS (
      SELECT DISTINCT doc_id, unnest(toks) AS term FROM base
    ),
    vocab AS (
      SELECT term, COUNT(*) AS df FROM posts GROUP BY 1
    ),
    per_doc AS (
      SELECT p.doc_id,
             COUNT(*) AS n_terms,
             SUM(CASE WHEN v.df <= 2 THEN 1 ELSE 0 END) AS n_rare
      FROM posts p JOIN vocab v USING (term)
      GROUP BY 1
    )
    SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms,
           CAST(n_rare AS BIGINT) AS n_rare,
           ROUND(CAST(n_rare AS DOUBLE) / CAST(n_terms AS DOUBLE), 6)
             AS rare_frac
    FROM per_doc
    ORDER BY rare_frac DESC, doc_id ASC LIMIT 50
"""


@_q("q_rare_token_docs", _RARE_TOKEN_SQL)
def q_rare_token_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents dominated by near-hapax vocabulary (document frequency
    <= 2): high rare-term mass flags OCR garbage, codes/IDs, or
    genuinely novel content — either way the docs a curation pass
    reviews first.  One distinct (doc, term) posting shuffle, a
    term-keyed document-frequency aggregate joined back on term, a
    doc-sized aggregate, TakeOrdered top-50 (rounded fraction, ties to
    the lower doc id)."""
    from conte_to_fresco_etl_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    posts = (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .distinct()
    )
    vocab = posts.groupBy("term").agg(F.count("*").alias("df"))
    per_doc = (
        posts.join(vocab, "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms"),
            F.sum(F.when(F.col("df") <= 2, 1).otherwise(0)).alias("n_rare"),
        )
    )
    return (
        per_doc.select(
            "doc_id",
            F.col("n_terms").cast("long").alias("n_terms"),
            F.col("n_rare").cast("long").alias("n_rare"),
            F.round(
                F.col("n_rare").cast("double")
                / F.col("n_terms").cast("double"),
                6,
            ).alias("rare_frac"),
        )
        .orderBy(F.col("rare_frac").desc(), F.col("doc_id").asc())
        .limit(50)
    )


_SPAN_EXTRACT_SQL = f"""
    WITH base AS (
      SELECT doc_id, {_sql_tokens()} AS toks FROM documents
    ),
    pos AS (
      SELECT b.doc_id, CAST(u.i AS BIGINT) AS i
      FROM base b, UNNEST(generate_series(1, len(b.toks))) AS u(i)
      WHERE b.toks[u.i] = 'table'
    ),
    gaps AS (
      SELECT doc_id, i,
             i - LAG(i) OVER (PARTITION BY doc_id ORDER BY i) AS gap
      FROM pos
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           CAST(MIN(i) AS BIGINT) AS first_pos,
           CAST(MAX(i) AS BIGINT) AS last_pos,
           CAST(MIN(gap) AS BIGINT) AS min_gap
    FROM gaps GROUP BY 1
"""


@_q("q_span_extract", _SPAN_EXTRACT_SQL)
def q_span_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional posting extraction for one query term ('table'):
    per document, hit count, first/last token positions (1-based), and
    the minimum gap between consecutive hits — the burstiness signal
    (min_gap 1 = stuttered repetition; proximity search and phrase
    mining build on exactly these positional postings).  posexplode
    keeps positions map-side; the only shuffles are the doc-keyed
    window + aggregate."""
    from pyspark.sql import Window

    from conte_to_fresco_etl_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    pos = (
        docs.select(
            "doc_id", F.posexplode(tokens("text")).alias("p", "t")
        )
        .filter(F.col("t") == "table")
        .select("doc_id", (F.col("p") + 1).cast("long").alias("i"))
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    gaps = pos.select(
        "doc_id", "i", (F.col("i") - F.lag("i").over(w)).alias("gap")
    )
    return gaps.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_hits"),
        F.min("i").cast("long").alias("first_pos"),
        F.max("i").cast("long").alias("last_pos"),
        F.min("gap").cast("long").alias("min_gap"),
    )


# ---------------------------------------------------------------------------
# Round 6: near-dup cluster histogram, minhash estimator audit, RAKE
# keyword extraction
# ---------------------------------------------------------------------------

_NEARDUP_CLUSTERS_SQL = f"""
    SELECT CAST(n_members AS BIGINT) AS cluster_size,
           CAST(COUNT(DISTINCT component) AS BIGINT) AS n_clusters,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM ({_COMPONENTS_SQL})
    GROUP BY 1
"""


@_q("q_near_dup_clusters", _NEARDUP_CLUSTERS_SQL)
def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-SIZE distribution of the near-dup graph: how many
    components of each size exist and how many documents they hold —
    the one-page summary that tells a curation owner whether dedup is
    removing twins (size 2) or collapsing template farms (size 50),
    and the sanity check against a bad threshold gluing the corpus
    into one giant component.  Derives from the session-staged decision
    table: one component-keyed count, then a size-keyed count of the
    component table — both dimension-sized."""
    comp_sizes = (
        _decision(spark, sf_dir)
        .groupBy("component")
        .agg(F.count("*").alias("cluster_size"))
    )
    return comp_sizes.groupBy("cluster_size").agg(
        F.countDistinct("component").alias("n_clusters"),
        (F.countDistinct("component") * F.col("cluster_size"))
        .cast("long")
        .alias("n_docs"),
    ).select(
        F.col("cluster_size").cast("long").alias("cluster_size"),
        "n_clusters",
        "n_docs",
    )


_MINHASH_ERR_SQL = f"""
    WITH pairs AS ({_MINHASH_SQL}),
    docs2 AS (
      SELECT doc_id, lower(text) AS t FROM documents WHERE length(text) >= 5
    ),
    sh2 AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, length(t) - 4),
                                          i -> substr(t, i, 5))) AS shingles
      FROM docs2
    )
    SELECT p.id_a, p.id_b,
           ROUND(p.est_jaccard, 6) AS est_jaccard,
           ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / CAST(len(a.shingles) + len(b.shingles)
                        - len(list_intersect(a.shingles, b.shingles))
                        AS DOUBLE), 6) AS exact_jaccard,
           ROUND(ROUND(p.est_jaccard, 6)
                 - ROUND(CAST(len(list_intersect(a.shingles, b.shingles))
                              AS DOUBLE)
                         / CAST(len(a.shingles) + len(b.shingles)
                                - len(list_intersect(a.shingles, b.shingles))
                                AS DOUBLE), 6), 6) AS err
    FROM pairs p
    JOIN sh2 a ON p.id_a = a.doc_id
    JOIN sh2 b ON p.id_b = b.doc_id
"""


@_q("q_doc_minhash_sim", _MINHASH_ERR_SQL)
def q_doc_minhash_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator AUDIT: for every gated LSH candidate pair, the
    signature-estimated Jaccard next to the EXACT shingle-set Jaccard
    and their signed error — the calibration table that justifies (or
    indicts) the 48-hash budget, complementing q_lsh_recall's
    found/missed view with how far the estimates themselves drift.
    Exact sets only materialize for CANDIDATE pairs (pair-keyed joins
    onto the shingle arrays), never all pairs: the tiny pair table is
    persisted, its id set broadcast-semi-joins the corpus FIRST, and
    only the surviving docs are shingled (the full-corpus shingle
    build was ~2x this query's cost; the inner join already restricts
    the output to candidates, so the prune is a pure plan change)."""
    from conte_to_fresco_etl_spark.functions.text import char_shingles
    from conte_to_fresco_etl_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    # checkpoint, not persist (r13): the pair table feeds the id-set
    # prune AND the final join, and the shingle-set table feeds BOTH
    # join sides — un-truncated, each consumer re-planned (and partly
    # re-ran) the LSH signature build (55 Exchanges / 21 Python nodes
    # in the sf0.1 plan); checkpointing pins each to one computation
    pairs = minhash_lsh_pairs(docs, **_DEDUP_PARAMS).localCheckpoint(
        eager=False
    )
    cand_ids = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    sets = (
        docs.join(F.broadcast(cand_ids), "doc_id")
        .filter(F.length(F.col("text")) >= 5)
        .select("doc_id", char_shingles("text", 5).alias("sh"))
        # r14 re-adjudication (VERDICT r13 item 1): the r13 shingle-side
        # checkpoint measured 1.10x SLOWER (min-of-3 alternating
        # worktrees: 3.42s with vs 3.10s without) — the a/b sides read
        # the pruned candidate set, whose recompute is cheaper than the
        # block write+read; only the PAIR table keeps its checkpoint
        # (it feeds the id-set prune and the final join).
    )
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    exact = F.round(inter.cast("double") / union.cast("double"), 6)
    est = F.round(F.col("est_jaccard"), 6)
    return (
        pairs.join(sets.alias("a"), pairs["id_a"] == F.col("a.doc_id"))
        .join(sets.alias("b"), pairs["id_b"] == F.col("b.doc_id"))
        .select(
            "id_a",
            "id_b",
            est.alias("est_jaccard"),
            exact.alias("exact_jaccard"),
            F.round(est - exact, 6).alias("err"),
        )
    )


_KEYWORD_EXTRACT_SQL = f"""
    WITH base AS (
      SELECT doc_id, {_sql_tokens()} AS toks FROM documents
    ),
    pos AS (
      SELECT b.doc_id, CAST(u.i AS BIGINT) AS i, b.toks[u.i] AS term,
             CASE WHEN list_contains({_sql_list(EN_STOPWORDS)}, b.toks[u.i])
                  THEN 1 ELSE 0 END AS is_stop
      FROM base b, UNNEST(generate_series(1, len(b.toks))) AS u(i)
    ),
    phr AS (
      SELECT doc_id, i, term, is_stop,
             SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS UNBOUNDED PRECEDING) AS phrase_id
      FROM pos
    ),
    words AS (
      SELECT doc_id, phrase_id, term,
             COUNT(*) OVER (PARTITION BY doc_id, phrase_id) AS phrase_len
      FROM phr WHERE is_stop = 0
    ),
    stats AS (
      SELECT term, COUNT(*) AS freq,
             CAST(SUM(phrase_len) AS BIGINT) AS degree
      FROM words GROUP BY 1
    )
    SELECT term, CAST(freq AS BIGINT) AS freq, degree,
           ROUND(CAST(degree AS DOUBLE) / CAST(freq AS DOUBLE), 6) AS score
    FROM stats
    ORDER BY score DESC, term ASC LIMIT 20
"""


@_q("q_keyword_extract", _KEYWORD_EXTRACT_SQL)
def q_keyword_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE-style keyword extraction: tokens segment into maximal
    non-stopword phrase runs (a per-document cumulative-sum window over
    stopword flags — stopwords are the delimiters), each word scores
    degree/frequency where degree sums the lengths of the phrases it
    appears in (words living in longer content runs beat words standing
    alone), corpus top-20.  All windows are document-partitioned; the
    vocabulary aggregate is the only corpus shuffle."""
    from pyspark.sql import Window

    from conte_to_fresco_etl_spark.functions.text import (
        EN_STOPWORDS,
        tokens,
    )

    docs = _t(spark, sf_dir, "documents")
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    pos = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("p", "term")
    ).select(
        "doc_id",
        (F.col("p") + 1).alias("i"),
        "term",
        F.when(F.array_contains(sw, F.col("term")), 1).otherwise(0).alias(
            "is_stop"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("i").rowsBetween(
        Window.unboundedPreceding, 0
    )
    phr = pos.select(
        "doc_id", "i", "term", "is_stop",
        F.sum("is_stop").over(w).alias("phrase_id"),
    )
    wp = Window.partitionBy("doc_id", "phrase_id")
    words = phr.filter(F.col("is_stop") == 0).select(
        "term", F.count("*").over(wp).alias("phrase_len")
    )
    stats = words.groupBy("term").agg(
        F.count("*").alias("freq"),
        F.sum("phrase_len").cast("long").alias("degree"),
    )
    return (
        stats.select(
            "term",
            F.col("freq").cast("long").alias("freq"),
            "degree",
            F.round(
                F.col("degree").cast("double") / F.col("freq").cast("double"),
                6,
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("term").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity buckets (head / middle / tail per source)
# ---------------------------------------------------------------------------

_PPL_BUCKETS_SQL = f"""
    WITH unll AS ({_UNIGRAM_NLL_SQL}),
    scored AS (
      SELECT u.doc_id, u.nll, d.source
      FROM unll u JOIN documents d USING (doc_id)
    ),
    cuts AS (
      SELECT source,
             quantile_cont(nll, CAST('0.3333333333333333' AS DOUBLE)) AS c1,
             quantile_cont(nll, CAST('0.6666666666666666' AS DOUBLE)) AS c2
      FROM scored GROUP BY 1
    )
    SELECT s.source,
           CASE WHEN s.nll <= c.c1 THEN 'head'
                WHEN s.nll <= c.c2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(CAST(s.nll AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_nll
    FROM scored s JOIN cuts c USING (source)
    GROUP BY 1, 2
"""


@_q("q_perplexity_buckets", _PPL_BUCKETS_SQL)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail bucketing: per-source tertile
    cutpoints of the per-doc unigram-LM NLL, every doc assigned to its
    bucket, per (source, bucket) counts + mean NLL.  The standard way a
    pipeline turns a perplexity signal into a sampling policy (keep
    head, downsample tail) without a global sort.

    Scale: the NLL table is the gated ``unigram_nll`` pipeline; the
    cutpoint table is |sources|×2 exact percentiles broadcast back —
    at 100 TB swap ``percentile`` for ``approx_percentile`` (the
    calibration for that swap is ``q_quantile_sketch``)."""
    from pyspark.sql.functions import broadcast

    from conte_to_fresco_etl_spark.operators.text_analysis import unigram_nll

    docs = _t(spark, sf_dir, "documents")
    # r13: examined for the multi-consumer pattern (scored feeds the
    # cutpoint aggregate AND the bucketing join) — left alone: the
    # shared subtree root is the unigram_nll groupBy(doc) exchange,
    # which Catalyst already dedupes via ReusedExchange; an explicit
    # checkpoint measured flat (0.99x) while adding block churn.
    scored = unigram_nll(docs).join(docs.select("doc_id", "source"), "doc_id")
    cuts = scored.groupBy("source").agg(
        F.percentile("nll", F.lit(0.3333333333333333)).alias("c1"),
        F.percentile("nll", F.lit(0.6666666666666666)).alias("c2"),
    )
    bucketed = scored.join(broadcast(cuts), "source").select(
        "source",
        "nll",
        F.when(F.col("nll") <= F.col("c1"), "head")
        .when(F.col("nll") <= F.col("c2"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )
    return bucketed.groupBy("source", "bucket").agg(
        F.count("*").alias("n_docs"),
        F.round(
            F.sum(F.col("nll").cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_nll"),
    )


# ---------------------------------------------------------------------------
# Within-source rank normalization (cross-source comparable scores)
# ---------------------------------------------------------------------------

_RANK_NORMALIZE_SQL = """
    SELECT doc_id, source, n_chars,
           ROUND(PERCENT_RANK() OVER (
             PARTITION BY source ORDER BY n_chars), 6) AS pct_rank,
           CAST(LEAST(FLOOR(PERCENT_RANK() OVER (
             PARTITION BY source ORDER BY n_chars) * 10) + 1, 10)
             AS BIGINT) AS decile
    FROM documents
"""


@_q("q_rank_normalize", _RANK_NORMALIZE_SQL)
def q_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile rank-normalization: each doc's quality proxy (length)
    mapped to its within-source percentile rank + decile band, making
    scores comparable ACROSS sources whose raw distributions differ —
    the preprocessing step before any cross-source threshold or mixture
    policy.  All windows are source-partitioned (scale-safe); ties get
    identical percent_rank in any engine, so the gate is exact."""
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("n_chars")
    pr = F.percent_rank().over(w)
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        F.round(pr, 6).alias("pct_rank"),
        F.least(F.floor(pr * 10) + 1, F.lit(10))
        .cast("long")
        .alias("decile"),
    )


# ---------------------------------------------------------------------------
# Count-Min sketch heavy-hitter audit
# ---------------------------------------------------------------------------

def _cms_bucket_sql(i: str, item: str, width: int) -> str:
    return (
        f"CAST('0x' || substr(md5('cms:' || {i} || ':' || {item}), 1, 15) "
        f"AS BIGINT) % {width}"
    )


_COUNT_MIN_SQL = f"""
    WITH toks AS (
      SELECT unnest({_sql_tokens()}) AS item FROM documents
    ),
    exact AS (SELECT item, COUNT(*) AS exact_n FROM toks GROUP BY 1),
    topk AS (SELECT * FROM exact ORDER BY exact_n DESC, item LIMIT 20),
    rows_i AS (SELECT unnest(generate_series(0, 3)) AS i),
    cells AS (
      SELECT i AS row_i, {_cms_bucket_sql('i', 'item', 512)} AS bucket,
             COUNT(*) AS cell_n
      FROM toks CROSS JOIN rows_i
      GROUP BY 1, 2
    ),
    est AS (
      SELECT t.item, t.exact_n, MIN(c.cell_n) AS cms_n
      FROM topk t
      CROSS JOIN rows_i
      JOIN cells c ON c.row_i = i
                  AND c.bucket = {_cms_bucket_sql('i', 't.item', 512)}
      GROUP BY 1, 2
    )
    SELECT item, CAST(exact_n AS BIGINT) AS exact_n,
           CAST(cms_n AS BIGINT) AS cms_n,
           CAST(cms_n - exact_n AS BIGINT) AS overestimate
    FROM est
"""


@_q("q_count_min", _COUNT_MIN_SQL)
def q_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch heavy-hitter audit over the token stream: the
    exact top-20 terms next to their 4×512 CMS estimates and observed
    collision bias.  The CMS is the mergeable streaming counter a
    100 TB pipeline keeps instead of an exact vocabulary — this query
    is its calibration gate (CMS never underestimates; the pinned
    ``overestimate`` column is the bias at this geometry on this
    corpus)."""
    from conte_to_fresco_etl_spark.functions.text import tokens
    from conte_to_fresco_etl_spark.operators.rollup import count_min_topk

    items = _t(spark, sf_dir, "documents").select(
        F.explode(tokens(F.col("text"))).alias("item")
    )
    return count_min_topk(items, "item", k=20, depth=4, width=512)


# ---------------------------------------------------------------------------
# Sorted-Neighborhood Method candidate pairs (record-linkage blocking)
# ---------------------------------------------------------------------------

_SNM_SQL = """
    WITH keyed AS (
      SELECT doc_id AS id,
             substr(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'),
                    1, 20) AS k
      FROM documents
    ),
    blk AS (SELECT id, k, substr(k, 1, 2) AS blk FROM keyed),
    leads AS (
      SELECT id,
             LEAD(id, 1) OVER (PARTITION BY blk ORDER BY k, id) AS n1,
             LEAD(id, 2) OVER (PARTITION BY blk ORDER BY k, id) AS n2
      FROM blk
    ),
    cand AS (
      SELECT id AS id_a, n1 AS id_b FROM leads WHERE n1 IS NOT NULL
      UNION ALL
      SELECT id AS id_a, n2 AS id_b FROM leads WHERE n2 IS NOT NULL
    ),
    sets AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, length(lower(text)) - 4),
               i -> substr(lower(text), i, 5))) AS sh
      FROM documents WHERE length(text) >= 5
    )
    SELECT c.id_a, c.id_b,
           ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / CAST(len(a.sh) + len(b.sh)
                        - len(list_intersect(a.sh, b.sh)) AS DOUBLE),
                 6) AS jaccard
    FROM cand c
    JOIN sets a ON c.id_a = a.doc_id
    JOIN sets b ON c.id_b = b.doc_id
"""


@_q("q_snm_pairs", _SNM_SQL)
def q_snm_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-Neighborhood dedup blocking: normalized-prefix sort keys,
    block-partitioned lead windows pairing each doc with its 2
    successors, exact shingle Jaccard on the bounded candidate set —
    the record-linkage complement to LSH banding (prefix-agreeing dups
    with n·(w−1) candidates, no banding calibration)."""
    from conte_to_fresco_etl_spark.operators.dedup import snm_candidate_pairs

    return snm_candidate_pairs(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# l-diversity audit (homogeneity-attack screen on the k-anonymity classes)
# ---------------------------------------------------------------------------

_LDIV_SQL = """
    WITH q AS (
      SELECT lang, source,
             CAST(FLOOR(n_chars / 100.0) AS BIGINT) AS size_bucket
      FROM documents
    ),
    counts AS (
      SELECT source, size_bucket, lang, COUNT(*) AS n
      FROM q GROUP BY 1, 2, 3
    )
    SELECT source, size_bucket,
           CAST(SUM(n) AS BIGINT) AS group_n,
           CAST(COUNT(*) AS BIGINT) AS n_sensitive,
           ROUND(CAST(MAX(n) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6)
             AS top_frac,
           COUNT(*) >= 3 AS meets_l
    FROM counts GROUP BY 1, 2
"""


@_q("q_l_diversity", _LDIV_SQL)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity (l=3) over the (source, size-bucket) classes with
    lang as the sensitive attribute — the homogeneity-attack audit
    k-anonymity alone misses.  One (quasi, sensitive) count shuffle,
    then a dimension-sized regroup."""
    from conte_to_fresco_etl_spark.operators.pii import l_diversity

    docs = _t(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.floor(F.col("n_chars") / F.lit(100.0))
        .cast("long")
        .alias("size_bucket"),
    )
    return l_diversity(docs, ["source", "size_bucket"], "lang", l=3)


# ---------------------------------------------------------------------------
# Classifier calibration (reliability bins against the hard filter rules)
# ---------------------------------------------------------------------------

_CALIBRATION_SQL = f"""
    WITH qc AS ({_classifier_sql()}),
    qf AS ({_QUALITY_FILTERS_SQL}),
    j AS (
      SELECT qc.doc_id, qc.score,
             CASE WHEN qf.keep THEN 1 ELSE 0 END AS y
      FROM qc JOIN qf USING (doc_id)
    ),
    b AS (
      SELECT LEAST(CAST(FLOOR(score * 10) AS BIGINT), 9) AS bin,
             score, y
      FROM j
    )
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(score AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_score,
           ROUND(CAST(SUM(y) AS BIGINT) / CAST(COUNT(*) AS DOUBLE), 6)
             AS positive_rate,
           ROUND(ABS(CAST(SUM(y) AS BIGINT) / CAST(COUNT(*) AS DOUBLE)
                 - CAST(SUM(CAST(score AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*)), 6) AS gap
    FROM b GROUP BY 1
"""


@_q("q_calibration", _CALIBRATION_SQL)
def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table of the logistic quality scorer against the
    HARD Gopher rule verdict: per confidence bin, mean predicted
    probability vs observed keep rate and their gap (the per-bin ECE
    decomposition) — the audit that must pass before
    ``q_soft_quality_sample`` treats the score as a probability."""
    from conte_to_fresco_etl_spark.operators.robust import calibration_bins
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        quality_classifier,
        quality_filters,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = quality_classifier(docs).select("doc_id", "score")
    hard = quality_filters(docs).select("doc_id", "keep")
    return calibration_bins(
        scored.join(hard, "doc_id"), "score", "keep"
    )


# ---------------------------------------------------------------------------
# Semantic decontamination (embedding-space benchmark overlap)
# ---------------------------------------------------------------------------

_SEM_DECON_SQL = f"""
    WITH {_VEC_CTE},
    bench AS (SELECT * FROM n WHERE vec_id % 25 = 0),
    corp AS (SELECT * FROM n WHERE vec_id % 25 <> 0),
    scored AS (
      SELECT c.vec_id, b.vec_id AS bid,
             ROUND(CASE WHEN c.nrm * b.nrm = 0 THEN 0.0
                        ELSE list_dot_product(c.e, b.e) / (c.nrm * b.nrm)
                   END, 6) AS cos
      FROM corp c CROSS JOIN bench b
    ),
    best AS (
      SELECT vec_id, bid, cos,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, bid ASC) AS rn
      FROM scored
    )
    SELECT vec_id, bid AS best_match_id, cos AS best_cosine,
           cos >= 0.5 AS contaminated
    FROM best WHERE rn = 1
"""


@_q("q_semantic_decontaminate", _SEM_DECON_SQL)
def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: every corpus vector scored
    against the held-out 'benchmark' slice (vec_id % 25 = 0), best
    match + ≥0.5 verdict — catches the paraphrased eval leakage the
    n-gram decontaminate pair cannot see.  Benchmark broadcasts as a
    dense matrix, corpus streams through one matmul per Arrow batch —
    zero shuffles."""
    from conte_to_fresco_etl_spark.operators.similarity import (
        semantic_decontaminate,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_decontaminate(
        emb.filter(F.pmod(F.col("vec_id"), F.lit(25)) != 0),
        emb.filter(F.pmod(F.col("vec_id"), F.lit(25)) == 0),
    )


# ---------------------------------------------------------------------------
# Image perceptual-hash near-dup (multimodal dedup through the real codec)
# ---------------------------------------------------------------------------

#: 8x4 RGB binary PPM, pixel bytes = ASCII hex chars (values 48..57 /
#: 97..102), so the payload is valid UTF-8 AND both engines can derive
#: the exact pixel bytes from md5 alone.  Pixels of docs sharing
#: (source, lang) come from the same md5 chain; the red byte of pixels
#: 0..2 is perturbed per-doc — same-group images differ in <= 3 gray
#: values, so they land within aHash Hamming <= 3 of each other while
#: cross-group hashes are independent 32-bit draws.
_IMG_PPM_HEADER = "P6\n8 4\n255\n"

_IMAGE_NEARDUP_SQL = """
    WITH d AS (
      SELECT doc_id,
             md5(source || ':' || lang || ':0') ||
             md5(source || ':' || lang || ':1') ||
             md5(source || ':' || lang || ':2') AS bh,
             md5('img:' || CAST(doc_id AS VARCHAR)) AS dh
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_transform(generate_series(0, 31), p ->
               (ascii(CASE WHEN p <= 2 THEN substr(dh, p + 1, 1)
                           ELSE substr(bh, 3 * p + 1, 1) END)
                + 2 * ascii(substr(bh, 3 * p + 2, 1))
                + ascii(substr(bh, 3 * p + 3, 1))) // 4) AS gs
      FROM d
    ),
    h AS (
      SELECT doc_id,
             list_sum(list_transform(generate_series(0, 31), p ->
               CASE WHEN 32 * gs[p + 1] > list_sum(gs)
                    THEN CAST(1 AS BIGINT) << p
                    ELSE CAST(0 AS BIGINT) END)) AS ahash
      FROM g
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
"""


@_q("q_image_neardup", _IMAGE_NEARDUP_SQL)
def q_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup: aHash over REAL decoded images.  Each doc is
    packed into a valid 8x4 binary PPM whose pixel bytes are md5-derived
    ASCII hex chars (same-template docs share a base image, three red
    bytes perturbed per doc), shipped as a binary column, decoded by the
    native PPM codec, average-hashed, and paired via the exact 4x8-bit
    band pigeonhole join (``media.ahash_neardup_pairs``) — the image
    twin of SimHash text dedup.  The oracle recomputes pixels, hash and
    pairs from the md5 chain alone, so the full decode->hash->join path
    is value-gated.  At 100 TB: decode+hash are map-side, the join
    shuffles only (band, key, hash) rows."""
    from conte_to_fresco_etl_spark.operators.media import (
        ahash_neardup_pairs,
        numpy_codec,
    )

    docs = _t(spark, sf_dir, "documents")
    gk = F.concat(F.col("source"), F.lit(":"), F.col("lang"))
    bh = F.concat(
        F.md5(F.concat(gk, F.lit(":0"))),
        F.md5(F.concat(gk, F.lit(":1"))),
        F.md5(F.concat(gk, F.lit(":2"))),
    )
    dh = F.md5(F.concat(F.lit("img:"), F.col("doc_id").cast("string")))
    mixed = F.concat(
        dh.substr(1, 1),
        bh.substr(2, 2),
        dh.substr(2, 1),
        bh.substr(5, 2),
        dh.substr(3, 1),
        bh.substr(8, 89),
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("modality"),
        F.encode(F.concat(F.lit(_IMG_PPM_HEADER), mixed), "utf-8").alias(
            "payload"
        ),
    )
    return ahash_neardup_pairs(
        media, codec=numpy_codec, bits=32, max_hamming=3, n_bands=4
    )


# ---------------------------------------------------------------------------
# Kneser-Ney bigram perplexity scoring
# ---------------------------------------------------------------------------

_KN_BIGRAM_SQL = f"""
    WITH {_BIGRAM_COUNTS_SQL},
    pc AS (
      SELECT split_part(bigram, ' ', 1) AS prev, SUM(bcn) AS pcn,
             COUNT(*) AS n1f
      FROM bc GROUP BY 1
    ),
    cw AS (
      SELECT split_part(bigram, ' ', 2) AS cur, COUNT(*) AS n1b
      FROM bc GROUP BY 1
    ),
    tt AS (SELECT COUNT(*) AS tn FROM bc),
    term AS (
      SELECT bigram,
             CAST(ROUND(-ln(
               (CAST(bcn AS DOUBLE) - 0.75) / CAST(pcn AS DOUBLE)
               + (0.75 * CAST(n1f AS DOUBLE) / CAST(pcn AS DOUBLE))
                 * (CAST(n1b AS DOUBLE) / CAST(tn AS DOUBLE))), 9)
                  AS DECIMAL(18,9)) AS nlp
      FROM bc
      JOIN pc ON split_part(bigram, ' ', 1) = prev
      JOIN cw ON split_part(bigram, ' ', 2) = cur
      CROSS JOIN tt
    )
    {_BIGRAM_DOC_NLL_SQL}
"""


@_q("q_kn_bigram_nll", _KN_BIGRAM_SQL)
def q_kn_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc perplexity under an interpolated Kneser-Ney bigram LM —
    the smoothing family production quality filters use (continuation
    counts, not raw frequency, drive the backoff).  All KN statistics
    derive from one bigram-count aggregation; contributions
    decimal-sum."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        kneser_ney_nll,
    )

    return kneser_ney_nll(_t(spark, sf_dir, "documents"), discount=0.75)


# ---------------------------------------------------------------------------
# TF-IDF cosine similarity join (weighted sibling of the Jaccard family)
# ---------------------------------------------------------------------------

_COSINE_SIM_SQL = f"""
    WITH t AS (
      SELECT doc_id, {_sql_tokens()} AS toks FROM documents
    ),
    p AS (
      SELECT DISTINCT doc_id AS id,
             unnest(CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                    ELSE list_transform(generate_series(1, len(toks) - 2),
                         i -> array_to_string(toks[i:i+2], ' ')) END) AS tok
      FROM t
    ),
    nd AS (SELECT COUNT(DISTINCT id) AS n FROM p),
    dfq AS (SELECT tok, COUNT(*) AS df FROM p GROUP BY 1),
    w AS (
      SELECT tok,
             CAST(ROUND(ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE))
                        * ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)), 9)
                  AS DECIMAL(18,9)) AS w2
      FROM dfq CROSS JOIN nd
      WHERE df <= CAST(floor(CAST(0.1 AS DOUBLE) * CAST(n AS DOUBLE))
                       AS BIGINT)
    ),
    wp AS (SELECT p.id, p.tok, w.w2 FROM p JOIN w USING (tok)),
    norms AS (
      SELECT id, sqrt(CAST(SUM(w2) AS DOUBLE)) AS nrm FROM wp GROUP BY 1
    ),
    dots AS (
      SELECT l.id AS id_a, r.id AS id_b, CAST(SUM(l.w2) AS DOUBLE) AS dot
      FROM wp l JOIN wp r ON l.tok = r.tok AND l.id < r.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, cosine FROM (
      SELECT d.id_a, d.id_b, ROUND(d.dot / (a.nrm * b.nrm), 6) AS cosine
      FROM dots d
      JOIN norms a ON d.id_a = a.id
      JOIN norms b ON d.id_b = b.id
    ) WHERE cosine >= 0.5
"""


@_q("q_cosine_sim_join", _COSINE_SIM_SQL)
def q_cosine_sim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted similarity join: idf-weighted set cosine >= 0.5 over
    3-gram shingles via the inverted-index sparse dot product (posting
    self-join grouped by pair — lossless for any positive threshold,
    never all-pairs).  Vocabulary df-capped at 10% of docs, which both
    bounds the Sigma df^2 fan-out and drops stop-shingles.  Shares the
    session-staged posting table with the Jaccard/PPJoin/containment
    family."""
    from conte_to_fresco_etl_spark.operators.dedup import (
        tfidf_cosine_pairs,
    )

    return tfidf_cosine_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)


# ---------------------------------------------------------------------------
# Label-propagation communities over the near-dup graph
# ---------------------------------------------------------------------------

_LPA_ROUND_SQL = """
    c{r} AS (
      SELECT e.a AS node, l.label AS nlab, COUNT(*) AS c
      FROM e JOIN l{p} l ON e.b = l.node GROUP BY 1, 2
    ),
    l{r} AS (
      SELECT node, nlab AS label FROM (
        SELECT node, nlab,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, nlab ASC) AS rn
        FROM c{r}
      ) WHERE rn = 1
    )"""

_LPA_SQL = f"""
    WITH {_PAIRS_GRAPH_SQL},
    l0 AS (SELECT DISTINCT a AS node, a AS label FROM e),
    {','.join(_LPA_ROUND_SQL.format(r=r, p=r - 1) for r in (1, 2, 3))}
    SELECT node, label FROM l3
"""


def _lpa_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-staged LPA labels: q_label_propagation and q_modularity
    both consume them (first caller pays)."""
    from conte_to_fresco_etl_spark.operators.dedup import minhash_lsh_pairs
    from conte_to_fresco_etl_spark.operators.graph import label_propagation
    from conte_to_fresco_etl_spark.session import staged

    docs = _t(spark, sf_dir, "documents")
    return staged(
        "label_propagation", [docs], {**_DEDUP_PARAMS, "rounds": 3},
        lambda: label_propagation(
            minhash_lsh_pairs(docs, **_DEDUP_PARAMS), rounds=3
        ),
    )


@_q("q_label_propagation", _LPA_SQL)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the gated near-dup graph: 3 synchronous
    label-propagation rounds, most-frequent-neighbor label with
    smallest-label tiebreak (fully deterministic).  The
    community-respecting alternative to connected components — a thin
    bridge between dense clusters does not merge them.  Per round: one
    edge join + one collapsed (node,label) count + a node-partitioned
    top-1 window; localCheckpoint breaks the iterate's lineage.  The
    label table is session-staged (q_modularity shares it)."""
    return _lpa_labels(spark, sf_dir)


# ---------------------------------------------------------------------------
# Tokenizer fertility audit (composes the gated BPE tokenizer)
# ---------------------------------------------------------------------------

def _tokenizer_fertility_sql() -> str | None:
    """Oracle: aggregate the pure-Python BPE twin's per-doc counts by
    language, joined back to documents for char volume."""
    values = _bpe_count_values()
    if values is None:
        return None
    return f"""
    WITH per AS (
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             CAST(n_before AS BIGINT) AS n_before,
             CAST(n_after AS BIGINT) AS n_after
      FROM (VALUES
        {values}
      ) AS t(doc_id, n_before, n_after)
    ),
    d AS (
      SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS nc
      FROM documents WHERE text IS NOT NULL
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nc) AS BIGINT) AS n_chars,
           CAST(SUM(n_before) AS BIGINT) AS n_words,
           CAST(SUM(n_after) AS BIGINT) AS n_tokens,
           ROUND(COALESCE(CAST(SUM(nc) AS DOUBLE)
                 / NULLIF(CAST(SUM(n_after) AS DOUBLE), 0.0), 0.0), 6)
             AS chars_per_token,
           ROUND(COALESCE(CAST(SUM(n_after) AS DOUBLE)
                 / NULLIF(CAST(SUM(n_before) AS DOUBLE), 0.0), 0.0), 6)
             AS fertility
    FROM d JOIN per USING (doc_id)
    GROUP BY lang
"""


@_q("q_tokenizer_fertility", _tokenizer_fertility_sql())
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per language: chars/token and
    tokens/word under the gate-trained BPE merge table — the
    cross-lingual cost report (a language with high fertility pays more
    sequence length per word) every multilingual-tokenizer decision
    reads.  Composes the trained tokenizer as a map-side projection with
    one language-keyed aggregation; integer sums, two final guarded
    divisions."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        apply_bpe_merges,
    )

    merges = _gate_bpe_merges(6) or []
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    per = apply_bpe_merges(docs, merges).select(
        "doc_id", "n_tokens_before", "n_tokens_after"
    )
    base = docs.select(
        "doc_id", "lang", F.length("text").cast("long").alias("nc")
    )
    return (
        base.join(per, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nc").cast("long").alias("n_chars"),
            F.sum("n_tokens_before").cast("long").alias("n_words"),
            F.sum("n_tokens_after").cast("long").alias("n_tokens"),
            F.round(
                F.coalesce(
                    F.try_divide(
                        F.sum("nc").cast("double"),
                        F.sum("n_tokens_after").cast("double"),
                    ),
                    F.lit(0.0),
                ),
                6,
            ).alias("chars_per_token"),
            F.round(
                F.coalesce(
                    F.try_divide(
                        F.sum("n_tokens_after").cast("double"),
                        F.sum("n_tokens_before").cast("double"),
                    ),
                    F.lit(0.0),
                ),
                6,
            ).alias("fertility"),
        )
    )


# ---------------------------------------------------------------------------
# Audio energy-hash near-dup (multimodal dedup through the real WAV codec)
# ---------------------------------------------------------------------------

def _wav_header_hex() -> str:
    """44-byte canonical RIFF/WAVE header for mono PCM16, 64 samples at
    8 kHz — the binary prefix of every synthesized clip (Spark builds
    payloads with unhex; the oracle derives samples from the hex chain
    and never touches the binary)."""
    import struct

    hdr = (
        b"RIFF" + struct.pack("<I", 36 + 128) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", 128)
    )
    return hdr.hex()


_WAV_HDR_HEX = _wav_header_hex()

_AUDIO_NEARDUP_SQL = f"""
    WITH d AS (
      SELECT doc_id,
             {' || '.join(f"md5(source || ':' || lang || ':a{i}')" for i in range(8))} AS bh,
             md5('aud:' || CAST(doc_id AS VARCHAR)) AS dh
      FROM documents
    ),
    mx AS (
      SELECT doc_id,
             substr(dh, 1, 2) || substr(bh, 3, 2) || substr(dh, 3, 2)
             || substr(bh, 7, 2) || substr(dh, 5, 2) || substr(bh, 11, 246)
               AS m
      FROM d
    ),
    sg AS (
      SELECT doc_id,
             list_transform(
               list_transform(generate_series(0, 63), i ->
                 CAST('0x' || substr(m, 4 * i + 1, 2) AS BIGINT)
                 + 256 * CAST('0x' || substr(m, 4 * i + 3, 2) AS BIGINT)),
               u -> CASE WHEN u >= 32768 THEN u - 65536 ELSE u END) AS ss
      FROM mx
    ),
    e AS (
      SELECT doc_id,
             list_transform(generate_series(0, 31), w ->
               abs(ss[2 * w + 1]) + abs(ss[2 * w + 2])) AS es
      FROM sg
    ),
    h AS (
      SELECT doc_id,
             list_sum(list_transform(generate_series(0, 31), w ->
               CASE WHEN 32 * es[w + 1] > list_sum(es)
                    THEN CAST(1 AS BIGINT) << w
                    ELSE CAST(0 AS BIGINT) END)) AS ehash
      FROM e
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.ehash, b.ehash)) AS BIGINT) AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.ehash, b.ehash)) <= 3
"""


@_q("q_audio_neardup", _AUDIO_NEARDUP_SQL)
def q_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup, audio edition: each doc becomes a VALID mono
    PCM16 WAV (binary header via unhex + md5-derived sample bytes;
    same-template docs share a base clip, three low bytes perturbed per
    doc), decoded by the native RIFF/WAV codec, energy-hash
    fingerprinted (32 window-energy bits vs the clip mean), and paired
    via the exact band-pigeonhole join — the audio twin of
    ``q_image_neardup``.  The oracle recomputes samples, energies, hash
    and pairs from the md5 chain alone, value-gating the full
    decode->fingerprint->join path."""
    from conte_to_fresco_etl_spark.operators.media import (
        audio_neardup_pairs,
        numpy_codec,
    )

    docs = _t(spark, sf_dir, "documents")
    gk = F.concat(F.col("source"), F.lit(":"), F.col("lang"))
    bh = F.concat(
        *[F.md5(F.concat(gk, F.lit(f":a{i}"))) for i in range(8)]
    )
    dh = F.md5(F.concat(F.lit("aud:"), F.col("doc_id").cast("string")))
    mixed = F.concat(
        dh.substr(1, 2),
        bh.substr(3, 2),
        dh.substr(3, 2),
        bh.substr(7, 2),
        dh.substr(5, 2),
        bh.substr(11, 246),
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("modality"),
        F.unhex(F.concat(F.lit(_WAV_HDR_HEX), mixed)).alias("payload"),
    )
    return audio_neardup_pairs(
        media, codec=numpy_codec, n_windows=32, max_hamming=3, n_bands=4
    )


# ---------------------------------------------------------------------------
# Token-label mutual information (feature selection for quality filtering)
# ---------------------------------------------------------------------------

def _mi_cell_sql(cnt: str, rt: str, ct: str) -> str:
    return (
        f"CAST(CASE WHEN {cnt} > 0 THEN "
        f"ROUND((CAST({cnt} AS DOUBLE) / CAST(n AS DOUBLE)) * "
        f"ln((CAST({cnt} AS DOUBLE) * CAST(n AS DOUBLE)) "
        f"/ (CAST({rt} AS DOUBLE) * CAST({ct} AS DOUBLE))), 12) "
        f"ELSE 0 END AS DECIMAL(18,12))"
    )


_TOKEN_MI_SQL = f"""
    WITH qf AS ({_QUALITY_FILTERS_SQL}),
    lab AS (
      SELECT doc_id, CASE WHEN keep THEN 1 ELSE 0 END AS y FROM qf
    ),
    p AS (
      SELECT DISTINCT d.doc_id, t.tok
      FROM documents d, UNNEST({_sql_tokens('d.text')}) AS t(tok)
    ),
    nd AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS n_pos
      FROM lab
    ),
    dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM p GROUP BY 1),
    top AS (SELECT tok, df FROM dfq ORDER BY df DESC, tok ASC LIMIT 32),
    tp AS (
      SELECT p.tok, CAST(COUNT(*) AS BIGINT) AS n_with,
             CAST(SUM(l.y) AS BIGINT) AS n_with_keep
      FROM p JOIN lab l USING (doc_id) JOIN top USING (tok)
      GROUP BY 1
    )
    SELECT tok, n_with, n_with_keep,
           ROUND(CAST(
             {_mi_cell_sql('n_with_keep', 'n_with', 'n_pos')}
             + {_mi_cell_sql('n_with - n_with_keep', 'n_with', 'n - n_pos')}
             + {_mi_cell_sql('n_pos - n_with_keep', 'n - n_with', 'n_pos')}
             + {_mi_cell_sql('n - n_with - (n_pos - n_with_keep)',
                             'n - n_with', 'n - n_pos')}
           AS DOUBLE), 6) AS mi
    FROM tp CROSS JOIN nd
"""


@_q("q_token_label_mi", _TOKEN_MI_SQL)
def q_token_label_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature selection for the quality classifier: mutual information
    between each of the 32 most frequent tokens' document presence and
    the hard Gopher keep/drop verdict — the screening statistic that
    ranks which lexical features actually carry label signal (PMI's
    label-supervised sibling).  All four contingency cells derive from
    one (doc, token) posting pass + the 1-row label total; per-cell
    contributions round to 12 decimals and sum in DECIMAL."""
    from conte_to_fresco_etl_spark.functions.text import tokens
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        quality_filters,
    )

    docs = _t(spark, sf_dir, "documents")
    lab = quality_filters(docs).select(
        "doc_id", F.col("keep").cast("int").alias("y")
    )
    p = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok"),
    )
    nd = lab.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    dfq = p.groupBy("tok").agg(F.count("*").cast("long").alias("df"))
    top = dfq.orderBy(F.col("df").desc(), F.col("tok").asc()).limit(32)
    tp = (
        p.join(F.broadcast(top.select("tok")), "tok")
        .join(lab, "doc_id")
        .groupBy("tok")
        .agg(
            F.count("*").cast("long").alias("n_with"),
            F.sum("y").cast("long").alias("n_with_keep"),
        )
    )

    def cell(cnt, rt, ct):
        n_d = F.col("n").cast("double")
        return (
            F.when(
                cnt > 0,
                F.round(
                    (cnt.cast("double") / n_d)
                    * F.log(
                        (cnt.cast("double") * n_d)
                        / (rt.cast("double") * ct.cast("double"))
                    ),
                    12,
                ),
            )
            .otherwise(F.lit(0))
            .cast("decimal(18,12)")
        )

    nw = F.col("n_with")
    nwk = F.col("n_with_keep")
    n = F.col("n")
    npos = F.col("n_pos")
    mi = F.round(
        (
            cell(nwk, nw, npos)
            + cell(nw - nwk, nw, n - npos)
            + cell(npos - nwk, n - nw, npos)
            + cell(n - nw - (npos - nwk), n - nw, n - npos)
        ).cast("double"),
        6,
    )
    return tp.crossJoin(F.broadcast(nd)).select(
        "tok", "n_with", "n_with_keep", mi.alias("mi")
    )


# ---------------------------------------------------------------------------
# PCA top component over the embedding table (power iteration)
# ---------------------------------------------------------------------------

_PCA_DIM = 64
_PCA_ITERS = 8


def _pca_sql(dim: int = _PCA_DIM, iterations: int = _PCA_ITERS) -> str:
    """Unrolled power-iteration PCA oracle: the q_pagerank discipline
    (one CTE pair per iteration, ROUND(x, 12) after every float step,
    decimal sums everywhere an order-dependent float SUM would drift).
    ``v0`` is the same repr-round-tripped literal the operator seeds
    with.  Every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and a
    recurrence whose iterate references the covariance CTE each round
    re-evaluates the corpus self-join 2^iterations times (measured:
    minutes vs 0.2s at sf0.01)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    v0 = float(
        Decimal(repr(1.0 / math.sqrt(float(dim)))).quantize(
            Decimal("1e-12"), rounding=ROUND_HALF_UP
        )
    )
    parts = [
        f"""
    WITH x AS MATERIALIZED (
      SELECT vec_id AS rid, i AS dim, CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings, generate_series(1, {dim}) AS g(i)
      WHERE embedding IS NOT NULL AND i <= len(embedding)
    ),
    nn AS MATERIALIZED (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings
      WHERE embedding IS NOT NULL
    ),
    mu AS MATERIALIZED (
      SELECT dim,
             ROUND(CAST(SUM(CAST(ROUND(v, 9) AS DECIMAL(18,9))) AS DOUBLE)
                   / (SELECT n FROM nn), 12) AS mu
      FROM x GROUP BY dim
    ),
    c AS MATERIALIZED (
      SELECT x.rid, x.dim, ROUND(x.v - mu.mu, 12) AS c
      FROM x JOIN mu USING (dim)
    ),
    cov AS MATERIALIZED (
      SELECT a.dim AS i, b.dim AS j,
             ROUND(CAST(SUM(CAST(ROUND(a.c * b.c, 12) AS DECIMAL(28,12)))
                        AS DOUBLE)
                   / ((SELECT n FROM nn) - CAST(1.0 AS DOUBLE)), 12) AS cv
      FROM c a JOIN c b ON a.rid = b.rid GROUP BY 1, 2
    ),
    v0 AS MATERIALIZED (
      SELECT i AS j, CAST({v0!r} AS DOUBLE) AS vj
      FROM generate_series(1, {dim}) AS g(i)
    )"""
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f""",
    u{k} AS MATERIALIZED (
      SELECT cov.i AS dim,
             CAST(SUM(CAST(ROUND(cov.cv * v.vj, 12) AS DECIMAL(28,12)))
                  AS DOUBLE) AS u
      FROM cov JOIN v{k - 1} v ON cov.j = v.j GROUP BY 1
    ),
    nrm{k} AS MATERIALIZED (
      SELECT sqrt(CAST(SUM(CAST(ROUND(u * u, 12) AS DECIMAL(28,12)))
                       AS DOUBLE)) AS nm
      FROM u{k}
    ),
    v{k} AS MATERIALIZED (
      SELECT dim AS j, ROUND(u / (SELECT nm FROM nrm{k}), 12) AS vj
      FROM u{k}
    )"""
        )
    parts.append(
        f""",
    tr AS MATERIALIZED (
      SELECT CAST(SUM(CAST(ROUND(cv, 12) AS DECIMAL(28,12))) AS DOUBLE)
        AS t
      FROM cov WHERE i = j
    )
    SELECT CAST(j AS INT) AS dim, ROUND(vj, 6) AS loading,
           ROUND((SELECT nm FROM nrm{iterations}), 6) AS eigval,
           ROUND((SELECT nm FROM nrm{iterations}) / (SELECT t FROM tr), 6)
             AS var_share
    FROM v{iterations}
"""
    )
    return "".join(parts)


@_q("q_pca_power", _pca_sql())
def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by power
    iteration: the variance-carrying direction plus its eigenvalue and
    variance share — the decomposition step before whitening, encoder
    drift attribution, or SemDeDup-style clustering.  One corpus pass
    builds the d^2-row covariance table map-side (the only shuffle is
    d^2 rows per partition); the 8 iterate rounds are broadcast joins
    of that dimension-sized table, localCheckpointed so the recurrence
    cannot fan the plan (q_pagerank discipline)."""
    from conte_to_fresco_etl_spark.operators.similarity import (
        pca_top_component,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return pca_top_component(
        emb, "embedding", dim=_PCA_DIM, iterations=_PCA_ITERS
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection of the embedding table
# ---------------------------------------------------------------------------

_RP_IN, _RP_OUT, _RP_SEED = 64, 16, "rp"


def _random_projection_sql(
    in_dim: int = _RP_IN, out_dim: int = _RP_OUT, seed: str = _RP_SEED
) -> str:
    """Oracle twin of :func:`operators.similarity.random_projection`:
    the same md5-parity Rademacher literals as a (k, j, s) VALUES
    table, the same ROUND(s*x, 12) decimal-summed join-aggregate."""
    import math

    from conte_to_fresco_etl_spark.operators.similarity import (
        rademacher_signs,
    )

    signs = rademacher_signs(seed, out_dim, in_dim)
    scale = repr(math.sqrt(float(out_dim)))
    vals = ", ".join(
        f"({k}, {j}, CAST({float(signs[k - 1][j - 1])!r} AS DOUBLE))"
        for k in range(1, out_dim + 1)
        for j in range(1, in_dim + 1)
    )
    return f"""
    WITH x AS (
      SELECT vec_id AS id, i AS j, CAST(embedding[i] AS DOUBLE) AS xv
      FROM embeddings, generate_series(1, {in_dim}) AS g(i)
      WHERE embedding IS NOT NULL AND len(embedding) >= {in_dim}
    ),
    sgn (k, j, s) AS (VALUES {vals})
    SELECT x.id, CAST(sgn.k AS INT) AS k,
           ROUND(CAST(SUM(CAST(ROUND(sgn.s * x.xv, 12) AS DECIMAL(28,12)))
                      AS DOUBLE) / CAST({scale} AS DOUBLE), 6) AS y
    FROM x JOIN sgn ON x.j = sgn.j
    GROUP BY 1, 2
"""


@_q("q_random_projection", _random_projection_sql())
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Rademacher random projection 64-d -> 16-d over the
    embedding corpus (Johnson-Lindenstrauss): the shuffle-free width
    reducer that fronts ANN indexing when embedding width is the cost
    driver.  Map-side only — the sign matrix is a (seed, k, j) pure
    function entered as literals, so any engine or executor
    regenerates it and no state ships with the plan."""
    from conte_to_fresco_etl_spark.operators.similarity import (
        random_projection,
    )

    return random_projection(
        _t(spark, sf_dir, "embeddings"),
        in_dim=_RP_IN,
        out_dim=_RP_OUT,
        seed=_RP_SEED,
    )


# ---------------------------------------------------------------------------
# Zipf-law slope per language
# ---------------------------------------------------------------------------

_ZIPF_SQL = """
    WITH toks AS (
      SELECT lang AS g, unnest({tokens}) AS t FROM documents
    ),
    cnts AS (
      SELECT g, t, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
    ),
    pts AS (
      SELECT g, ln(CAST(r AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
      FROM (
        SELECT g, t, cnt,
               ROW_NUMBER() OVER (
                 PARTITION BY g ORDER BY cnt DESC, t ASC
               ) AS r
        FROM cnts
      ) WHERE r <= 200
    ),
    mom AS (
      SELECT g, CAST(COUNT(*) AS DOUBLE) AS np,
             CAST(SUM(CAST(ROUND(x, 12) AS DECIMAL(38,12))) AS DOUBLE)
               AS sx,
             CAST(SUM(CAST(ROUND(y, 12) AS DECIMAL(38,12))) AS DOUBLE)
               AS sy,
             CAST(SUM(CAST(ROUND(x * y, 12) AS DECIMAL(38,12))) AS DOUBLE)
               AS sxy,
             CAST(SUM(CAST(ROUND(x * x, 12) AS DECIMAL(38,12))) AS DOUBLE)
               AS sxx,
             CAST(SUM(CAST(ROUND(y * y, 12) AS DECIMAL(38,12))) AS DOUBLE)
               AS syy
      FROM pts GROUP BY 1
    )
    SELECT g AS lang,
           CAST(np AS BIGINT) AS n_terms,
           CASE WHEN np * sxx - sx * sx > 0.0e0
                THEN ROUND((np * sxy - sx * sy) / (np * sxx - sx * sx), 6)
           END AS zipf_slope,
           CASE WHEN np * sxx - sx * sx > 0.0e0
                THEN ROUND((sy - ((np * sxy - sx * sy)
                                  / (np * sxx - sx * sx)) * sx) / np, 6)
           END AS zipf_intercept,
           CASE WHEN np * sxx - sx * sx > 0.0e0
                 AND np * syy - sy * sy > 0.0e0
                THEN ROUND((np * sxy - sx * sy) * (np * sxy - sx * sy)
                           / ((np * sxx - sx * sx)
                              * (np * syy - sy * sy)), 6)
           END AS r2
    FROM mom
"""


@_q("q_zipf_slope", _ZIPF_SQL.format(tokens=_sql_tokens()))
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Zipf slope over each language's 200 most frequent
    tokens: one (lang, token) count shuffle collapses the corpus to
    vocabulary size, a WindowGroupLimit-prunable per-lang rank window
    takes the head, and the log-log fit is decimal-summed per lang."""
    from conte_to_fresco_etl_spark.operators.text_analysis import zipf_fit

    return zipf_fit(
        _t(spark, sf_dir, "documents"),
        group_col="lang",
        text_col="text",
        top_n=200,
    )


# ---------------------------------------------------------------------------
# Token burstiness vs the Poisson baseline
# ---------------------------------------------------------------------------

_BURSTINESS_SQL = """
    WITH toks AS (
      SELECT doc_id AS i, unnest({tokens}) AS t FROM documents
    ),
    per_dt AS (
      SELECT i, t, COUNT(*) AS c FROM toks GROUP BY 1, 2
    ),
    per_t AS (
      SELECT t, SUM(c) AS cf, COUNT(*) AS df, SUM(c * c) AS s2
      FROM per_dt GROUP BY 1
    ),
    tot AS (SELECT COUNT(*) AS n_docs FROM documents),
    top AS (
      SELECT t, cf, df, s2, n_docs
      FROM per_t CROSS JOIN tot
      ORDER BY cf DESC, t ASC LIMIT 100
    )
    SELECT t AS token,
           CAST(cf AS BIGINT) AS cf,
           CAST(df AS BIGINT) AS df,
           ROUND(CAST(cf AS DOUBLE) / CAST(df AS DOUBLE), 6)
             AS mean_in_doc,
           ROUND((CAST(s2 AS DOUBLE) / CAST(n_docs AS DOUBLE)
                  - (CAST(cf AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    * (CAST(cf AS DOUBLE) / CAST(n_docs AS DOUBLE)))
                 / (CAST(cf AS DOUBLE) / CAST(n_docs AS DOUBLE)), 6)
             AS vmr,
           ROUND(CAST(df AS DOUBLE)
                 / (CAST(n_docs AS DOUBLE)
                    * (1.0 - EXP(-(CAST(cf AS DOUBLE)
                                   / CAST(n_docs AS DOUBLE))))), 6)
             AS df_ratio
    FROM top
"""


@_q("q_burstiness", _BURSTINESS_SQL.format(tokens=_sql_tokens()))
def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness profile of the corpus's 100 most frequent tokens:
    exact integer moments off two map-side-combinable count shuffles,
    1-row corpus total broadcast, TakeOrdered head."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        token_burstiness,
    )

    return token_burstiness(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        top_n=100,
    )


# ---------------------------------------------------------------------------
# Isotonic calibration map (PAVA via the minimax identity)
# ---------------------------------------------------------------------------

_ISOTONIC_SQL = f"""
    WITH qc AS ({{classifier}}),
    qf AS ({{filters}}),
    j AS (
      SELECT qc.doc_id, qc.score,
             CASE WHEN qf.keep THEN 1 ELSE 0 END AS y
      FROM qc JOIN qf USING (doc_id)
    ),
    b AS (
      SELECT LEAST(CAST(FLOOR(score * 20) AS BIGINT), 19) AS bin, y
      FROM j
    ),
    bins AS (
      SELECT bin, COUNT(*) AS n, SUM(y) AS pos FROM b GROUP BY 1
    ),
    ranges AS (
      SELECT jb.bin AS jb, kb.bin AS kb,
             ROUND(CAST(SUM(m.pos) AS DOUBLE)
                   / CAST(SUM(m.n) AS DOUBLE), 12) AS rate
      FROM bins jb
      JOIN bins kb ON jb.bin <= kb.bin
      JOIN bins m ON m.bin BETWEEN jb.bin AND kb.bin
      GROUP BY 1, 2
    ),
    mins AS (
      SELECT jb, kb,
             MIN(rate) OVER (
               PARTITION BY jb ORDER BY kb DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS mrate
      FROM ranges
    ),
    fit AS (
      SELECT kb AS bin, MAX(mrate) AS iso FROM mins GROUP BY 1
    )
    SELECT CAST(bins.bin AS BIGINT) AS bin,
           CAST(n AS BIGINT) AS n,
           CAST(pos AS BIGINT) AS pos,
           ROUND(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS raw_rate,
           ROUND(iso, 6) AS iso_rate
    FROM bins JOIN fit USING (bin)
"""


@_q(
    "q_isotonic_calibration",
    _ISOTONIC_SQL.format(
        classifier=_classifier_sql(), filters=_QUALITY_FILTERS_SQL
    ),
)
def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration map of the logistic quality scorer against
    the hard Gopher rule verdict: the corpus collapses to 20 score
    bins in one shuffle, then the PAVA fit runs as the minimax lattice
    over the dimension-sized range table (broadcast non-equi joins on
    ≤20-row sides, per-j min windows, per-bin max) — the fitted
    ``iso_rate`` is the monotone repair of ``q_calibration``'s gaps."""
    from conte_to_fresco_etl_spark.operators.robust import (
        isotonic_calibration,
    )
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        quality_classifier,
        quality_filters,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = quality_classifier(docs).select("doc_id", "score")
    hard = quality_filters(docs).select("doc_id", "keep")
    return isotonic_calibration(
        scored.join(hard, "doc_id"), "score", "keep", n_bins=20
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer induction (SentencePiece-style, hard-EM)
# ---------------------------------------------------------------------------


@functools.lru_cache(maxsize=2)
def _gate_unigram_table(
    max_len: int = 4,
    seed_multi: int = 40,
    rounds: int = 3,
    top_out: int = 30,
) -> tuple | None:
    """Pure-Python twin of operators.text_analysis.unigram_lm_tokenizer
    on the gate corpus: the per-word routines (_uni_substrings /
    _uni_logprobs / _uni_viterbi_pieces) are IMPORTED from the operator
    module, so twin and distributed path share one implementation; the
    aggregation here is plain Counters over the same integer counts the
    piece-keyed shuffle sums, and the logprob model is rebuilt from the
    identical integer dict each round — floats agree bit-for-bit."""
    docs = _gate_docs()
    if docs is None:
        return None
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from conte_to_fresco_etl_spark.operators.dedup import _py_tokens
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        _uni_logprobs,
        _uni_substrings,
        _uni_viterbi_pieces,
    )

    wc: Counter = Counter()
    for t in docs[1]:
        for w in _py_tokens(t):
            if w:
                wc[w] += 1
    sub: Counter = Counter()
    for w, c in wc.items():
        for s in _uni_substrings(w, max_len):
            sub[s] += c
    vocab = {s: c for s, c in sub.items() if len(s) == 1}
    for s, c in sorted(
        ((s, c) for s, c in sub.items() if len(s) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )[:seed_multi]:
        vocab[s] = c
    for _ in range(rounds):
        logp = _uni_logprobs(vocab)
        new = {p: 0 for p in vocab}
        for w, c in wc.items():
            pieces = _uni_viterbi_pieces(w, logp, max_len)
            if pieces is None:
                continue
            for p in pieces:
                new[p] += c
        vocab = new
    total = sum(vocab.values())
    ranked = sorted(
        ((p, c) for p, c in vocab.items() if c > 0),
        key=lambda kv: (-kv[1], kv[0]),
    )[:top_out]
    q6 = Decimal("1e-6")
    return tuple(
        (
            rank + 1,
            p,
            c,
            float(
                Decimal(repr(c / total)).quantize(q6, rounding=ROUND_HALF_UP)
            ),
        )
        for rank, (p, c) in enumerate(ranked)
    )


def _unigram_sql() -> str | None:
    """Python-constant oracle for q_unigram_tokenizer (the _bpe_sql
    pattern: the trained table is a pure function of the gate corpus,
    so twin-derived literals ARE the oracle; gate-SF-scoped)."""
    table = _gate_unigram_table()
    if not table:
        return None
    values = ",\n        ".join(
        "({}, '{}', {}, {})".format(r, p.replace("'", "''"), c, pr)
        for r, p, c, pr in table
    )
    return f"""
    SELECT CAST(rank AS BIGINT) AS rank, piece,
           CAST(cnt AS BIGINT) AS cnt, CAST(prob AS DOUBLE) AS prob
    FROM (VALUES
        {values}
    ) AS t(rank, piece, cnt, prob)
"""


@_q("q_unigram_tokenizer", _unigram_sql())
def q_unigram_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenizer induction over the
    corpus: one corpus scan builds the word histogram; seeding and
    three hard-EM Viterbi rounds run as Arrow-batched map passes over
    the vocabulary-sized distinct-word table with integer-exact
    piece-keyed reduces; the final round's piece table is the returned
    plan.  Completes the tokenizer family next to BPE
    (q_bpe_merges/q_bpe_apply)."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        unigram_lm_tokenizer,
    )

    return unigram_lm_tokenizer(
        _t(spark, sf_dir, "documents"),
        text_col="text",
        max_piece_len=4,
        seed_multi=40,
        em_rounds=3,
        top_out=30,
    )


def _gate_unigram_logp() -> dict | None:
    """Final logprob map of the gate-trained unigram model (the model
    q_unigram_apply broadcasts — train once on the gate corpus, apply
    anywhere, the q_bpe_apply precedent)."""
    table = _gate_unigram_table(top_out=10**9)
    if not table:
        return None
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        _uni_logprobs,
    )

    return _uni_logprobs({p: c for _, p, c, _ in table})


def _unigram_apply_sql() -> str | None:
    """Python-constant oracle for q_unigram_apply: replay the gate
    model over the gate corpus with the SAME shared per-word routines
    and emit per-doc counts as VALUES."""
    logp = _gate_unigram_logp()
    docs = _gate_docs()
    if logp is None or docs is None:
        return None
    from decimal import ROUND_HALF_UP, Decimal

    from conte_to_fresco_etl_spark.operators.dedup import _py_tokens
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        _uni_viterbi_pieces,
    )

    q6 = Decimal("1e-6")
    rows = []
    for did, text in zip(docs[0], docs[1]):
        words = [w for w in _py_tokens(text) if w]
        pieces = 0
        for w in words:
            seg = _uni_viterbi_pieces(w, logp, 4)
            pieces += len(seg) if seg is not None else 1
        if words:
            f = float(
                Decimal(repr(pieces / len(words))).quantize(
                    q6, rounding=ROUND_HALF_UP
                )
            )
            fert = repr(f)
        else:
            fert = "NULL"
        rows.append((did, len(words), pieces, fert))
    values = ",\n        ".join(
        f"({d}, {w}, {p}, {f})" for d, w, p, f in rows
    )
    return f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_pieces AS BIGINT) AS n_pieces,
           CAST(fertility AS DOUBLE) AS fertility
    FROM (VALUES
        {values}
    ) AS t(doc_id, n_words, n_pieces, fertility)
"""


@_q("q_unigram_apply", _unigram_apply_sql())
def q_unigram_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document application of the gate-trained unigram-LM
    tokenizer: the constant logprob map broadcasts into one Arrow map
    pass (zero shuffles — the apply side of train-once/apply-anywhere,
    q_bpe_apply's sibling), emitting word/piece counts and fertility."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        apply_unigram_tokenizer,
    )

    logp = _gate_unigram_logp()
    if logp is None:
        raise RuntimeError("gate corpus unavailable for unigram model")
    return apply_unigram_tokenizer(
        _t(spark, sf_dir, "documents"),
        logp,
        id_col="doc_id",
        text_col="text",
        max_piece_len=4,
    )


# ---------------------------------------------------------------------------
# Signed feature hashing (the hashing trick)
# ---------------------------------------------------------------------------

_FEATURE_HASH_SQL = """
    WITH tok AS (
      SELECT doc_id AS id, t
      FROM (SELECT doc_id, unnest({tokens}) AS t FROM documents)
      WHERE length(t) > 0
    ),
    hashed AS (
      SELECT id,
             CAST('0x' || substr(md5('fhb:' || t), 1, 15) AS BIGINT)
               % 16 AS k,
             (CAST('0x' || substr(md5('fhs:' || t), 1, 15) AS BIGINT)
               % 2) * 2 - 1 AS s
      FROM tok
    )
    SELECT CAST(id AS BIGINT) AS doc_id,
           CAST(k AS BIGINT) AS k,
           CAST(SUM(s) AS BIGINT) AS x
    FROM hashed GROUP BY 1, 2
    HAVING SUM(s) <> 0
"""


@_q("q_feature_hashing", _FEATURE_HASH_SQL.format(tokens=_sql_tokens()))
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bucket signed feature hashing of every document's tokens:
    pure JVM md5 expressions (no vocabulary, no model, no Python) and
    ONE map-side-combinable (doc, bucket) shuffle."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        feature_hashing,
    )

    return feature_hashing(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        n_buckets=16,
        seed="fh",
    )


# ---------------------------------------------------------------------------
# Modularity of the LPA communities
# ---------------------------------------------------------------------------

# pairs (the whole minhash oracle) and e are read many times below and
# DuckDB inlines every reference to a plain CTE: MATERIALIZED runs each
# once (DuckDB 1.0.0, sf0.01, 4-CPU VM: ~160 s -> ~5 s, same 47 rows).
_MODULARITY_SQL = f"""
    WITH {_PAIRS_GRAPH_SQL},
    l0 AS (SELECT DISTINCT a AS node, a AS label FROM e),
    {','.join(_LPA_ROUND_SQL.format(r=r, p=r - 1) for r in (1, 2, 3))},
    labels AS (SELECT node, label FROM l3),
    internal AS (
      SELECT la.label AS lbl, COUNT(*) AS e_c
      FROM pairs p
      JOIN labels la ON p.id_a = la.node
      JOIN labels lb ON p.id_b = lb.node
      WHERE la.label = lb.label
      GROUP BY 1
    ),
    deg AS (
      SELECT n, COUNT(*) AS d FROM (
        SELECT id_a AS n FROM pairs
        UNION ALL SELECT id_b AS n FROM pairs
      ) GROUP BY 1
    ),
    d_c AS (
      SELECT la.label AS lbl, COUNT(*) AS n_nodes, SUM(deg.d) AS d_c
      FROM deg JOIN labels la ON deg.n = la.node
      GROUP BY 1
    ),
    m_tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m FROM pairs)
    SELECT d_c.lbl AS label,
           CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(COALESCE(e_c, 0) AS BIGINT) AS internal_edges,
           CAST(d_c AS BIGINT) AS degree_sum,
           ROUND(CAST(COALESCE(e_c, 0) AS DOUBLE) / m
                 - (CAST(d_c AS DOUBLE) / (CAST(2.0 AS DOUBLE) * m))
                   * (CAST(d_c AS DOUBLE) / (CAST(2.0 AS DOUBLE) * m)), 6)
             AS contribution
    FROM d_c LEFT JOIN internal USING (lbl) CROSS JOIN m_tot
"""


@_q("q_modularity", _MODULARITY_SQL)
def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities over the gated near-dup
    graph: per-community internal-edge mass vs the degree-mass
    expectation, all collapsed to |communities| rows before the scalar
    algebra (m is the annotated 1-row broadcast) — the quality gate
    that says whether q_label_propagation's communities beat chance.
    Consumes the session-staged LPA label table."""
    from conte_to_fresco_etl_spark.operators.dedup import minhash_lsh_pairs
    from conte_to_fresco_etl_spark.operators.graph import modularity

    pairs = minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), **_DEDUP_PARAMS
    )
    return modularity(pairs, _lpa_labels(spark, sf_dir))


# ---------------------------------------------------------------------------
# Priority sampling (PPSWOR with unbiased subset-sum estimation)
# ---------------------------------------------------------------------------

_PRIORITY_SAMPLE_SQL = f"""
    WITH h AS (
      SELECT doc_id AS key, CAST(n_chars AS DOUBLE) AS w,
             ROUND(CAST(n_chars AS DOUBLE)
                   / ((CAST(CAST('0x' || substr(
                          md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15)
                        AS BIGINT) AS DOUBLE) + 1.0)
                      / {float(16**15 + 1)!r}), 12) AS priority
      FROM documents WHERE CAST(n_chars AS DOUBLE) > 0
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY priority DESC, key ASC) AS rn
      FROM h
    ),
    tau AS (
      SELECT CASE WHEN (SELECT COUNT(*) FROM h) >= 65
                  THEN (SELECT priority FROM ranked WHERE rn = 65)
                  ELSE 0.0 END AS tau
    )
    SELECT key AS doc_id, w, priority,
           ROUND(GREATEST(w, tau), 6) AS est_w
    FROM ranked CROSS JOIN tau
    WHERE rn <= 64
"""


@_q("q_priority_sample", _PRIORITY_SAMPLE_SQL)
def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-row priority sample of documents weighted by n_chars, with
    the Horvitz-Thompson est_w = max(w, τ) column that makes ANY
    subset-sum over the sample an unbiased estimate of the same
    subset's full-corpus total — map-side priorities, TakeOrdered
    head, τ derived in-plan as a 1-row broadcast."""
    from conte_to_fresco_etl_spark.validation import priority_sample

    return priority_sample(
        _t(spark, sf_dir, "documents").select("doc_id", "n_chars"),
        weight_col="n_chars",
        key_col="doc_id",
        k=64,
        seed=42,
    )


# ---------------------------------------------------------------------------
# Skip-gram negative sampling from the unigram^0.75 noise distribution
# ---------------------------------------------------------------------------

_NEG_SAMPLE_SQL = f"""
    WITH tok AS (
      SELECT doc_id AS id, t
      FROM (SELECT doc_id, unnest({{tokens}}) AS t FROM documents)
      WHERE length(t) > 0
    ),
    counts AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY 1),
    cum AS (
      SELECT t,
             CAST(SUM(CAST(ROUND(sqrt(sqrt(CAST(c AS DOUBLE)
                                          * CAST(c AS DOUBLE)
                                          * CAST(c AS DOUBLE))), 9)
                           AS DECIMAL(28,9)))
                  OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS DOUBLE) AS hi,
             SUM(CAST(ROUND(sqrt(sqrt(CAST(c AS DOUBLE)
                                      * CAST(c AS DOUBLE)
                                      * CAST(c AS DOUBLE))), 9)
                      AS DECIMAL(28,9)))
                  OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW)
                  - CAST(ROUND(sqrt(sqrt(CAST(c AS DOUBLE)
                                        * CAST(c AS DOUBLE)
                                        * CAST(c AS DOUBLE))), 9)
                         AS DECIMAL(28,9)) AS lo_d
      FROM counts
    ),
    tot AS (SELECT MAX(hi) AS tot FROM cum),
    probes AS (
      SELECT d.doc_id AS id, s.slot,
             (CAST(CAST('0x' || substr(
                    md5('ns:' || CAST(d.doc_id AS VARCHAR) || ':'
                        || CAST(s.slot AS VARCHAR)), 1, 15)
                  AS BIGINT) AS DOUBLE) / power(16.0, 15))
               * (SELECT tot FROM tot) AS ut
      FROM documents d
      CROSS JOIN (SELECT unnest(generate_series(1, 5)) AS slot) s
    ),
    drawn AS (
      SELECT p.id, p.slot, c.t
      FROM probes p JOIN cum c
        ON p.ut >= CAST(c.lo_d AS DOUBLE) AND p.ut < c.hi
    )
    SELECT CAST(d.id AS BIGINT) AS doc_id,
           CAST(d.slot AS BIGINT) AS slot,
           d.t AS neg_token,
           EXISTS (SELECT 1 FROM tok
                   WHERE tok.id = d.id AND tok.t = d.t) AS in_doc
    FROM drawn d
"""


@_q("q_negative_samples", _NEG_SAMPLE_SQL.format(tokens=_sql_tokens()))
def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5 hash-stable word2vec noise draws per document (P ∝ c^0.75 as
    the IEEE-exact sqrt(sqrt(c³))): one vocabulary collapse, the
    cumulative-interval table binned onto a |V|-bin mass axis and
    EQUI-joined to the per-(doc, slot) probes (no vocabulary-sized
    broadcast), one semi-probe for the in-doc collision flag."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        negative_samples,
    )

    return negative_samples(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        k=5,
        seed="ns",
    )


# ---------------------------------------------------------------------------
# Margin-based candidate-pair mining (ratio margin over embeddings)
# ---------------------------------------------------------------------------

_MARGIN_K = 4
_MARGIN_THRESHOLD = 1.45

_MARGIN_SQL = f"""
    WITH {_VEC_CTE},
    q AS (SELECT * FROM n WHERE vec_id % 50 = 0),
    c AS (SELECT * FROM n WHERE vec_id % 50 <> 0),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
                        ELSE list_dot_product(q.e, c.e) / (q.nrm * c.nrm)
                   END, 6) AS cosine
      FROM c, q
    ),
    micro AS (
      SELECT query_id, neighbor_id, cosine,
             CAST(ROUND(cosine * 1000000, 0) AS BIGINT) AS cosm
      FROM pairs
    ),
    fwd AS (
      SELECT query_id, neighbor_id, cosine, cosm,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id ASC)
               AS rn
      FROM micro
    ),
    fstat AS (
      SELECT query_id, SUM(cosm) AS fs, COUNT(*) AS fc
      FROM fwd WHERE rn <= {_MARGIN_K} GROUP BY 1
    ),
    bwd AS (
      SELECT neighbor_id, SUM(cosm) AS bs, COUNT(*) AS bc FROM (
        SELECT neighbor_id, cosm,
               ROW_NUMBER() OVER (PARTITION BY neighbor_id
                                  ORDER BY cosine DESC, query_id ASC)
                 AS rn
        FROM micro
      ) WHERE rn <= {_MARGIN_K} GROUP BY 1
    ),
    scored AS (
      SELECT f.query_id, f.neighbor_id, f.cosine,
             ROUND(CAST(2 * f.cosm * fstat.fc * bwd.bc AS DOUBLE)
                   / CAST(fstat.fs * bwd.bc + bwd.bs * fstat.fc
                          AS DOUBLE), 6) AS margin
      FROM fwd f
      JOIN fstat USING (query_id)
      JOIN bwd USING (neighbor_id)
      WHERE f.rn <= {_MARGIN_K}
        AND fstat.fs * bwd.bc + bwd.bs * fstat.fc > 0
    )
    SELECT query_id, neighbor_id, cosine, margin FROM (
      SELECT scored.*,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY margin DESC, neighbor_id ASC)
               AS mr
      FROM scored
    ) WHERE mr = 1 AND margin >= CAST('{_MARGIN_THRESHOLD!r}' AS DOUBLE)
"""


@_q("q_margin_mining", _MARGIN_SQL)
def q_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-margin candidate-pair mining over the embedding table
    (queries = vec_id %% 50 = 0, the serving shape): each query's
    top-margin neighbor where margin = cos / (mean of both sides'
    top-4 neighborhoods / 2) >= 1.45 — the hubness-suppressing
    criterion contrastive/bitext miners use instead of raw cosine.
    One corpus scan emits forward candidates (local-top-k pre-reduced)
    and exact map-side backward stats; all neighborhood sums are
    integer micro-cosines so the margin is one double division —
    cross-engine exact."""
    from conte_to_fresco_etl_spark.operators.similarity import margin_mining

    emb = _t(spark, sf_dir, "embeddings")
    return margin_mining(
        emb.filter(F.col("vec_id") % 50 != 0),
        emb.filter(F.col("vec_id") % 50 == 0),
        k=_MARGIN_K,
        threshold=_MARGIN_THRESHOLD,
    )


# ---------------------------------------------------------------------------
# Text-analysis additions (r8): discriminative tokens, Simpson
# diversity, MATTR, bigram conditional entropy.
# ---------------------------------------------------------------------------

_TSTAT_SQL = f"""
    WITH d AS (
      SELECT doc_id AS id, lang = 'en' AS y, text
      FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
    ),
    sizes AS (
      SELECT SUM(CASE WHEN y THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN NOT y THEN 1 ELSE 0 END) AS n0
      FROM d
    ),
    tf AS (
      SELECT id, y, tok, COUNT(*) AS tf
      FROM (SELECT id, y, unnest({_sql_tokens('text')}) AS tok FROM d)
      WHERE length(tok) > 0 GROUP BY 1, 2, 3
    ),
    mom AS (
      SELECT tok,
             SUM(CASE WHEN y THEN tf END) AS s1,
             SUM(CASE WHEN y THEN tf * tf END) AS q1,
             SUM(CASE WHEN NOT y THEN tf END) AS s0,
             SUM(CASE WHEN NOT y THEN tf * tf END) AS q0
      FROM tf GROUP BY 1
    ),
    j AS (
      SELECT tok,
             CAST(COALESCE(s1, 0) AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
             CAST(COALESCE(s0, 0) AS DOUBLE) / CAST(n0 AS DOUBLE) AS m0,
             (CAST(COALESCE(q1, 0) AS DOUBLE)
              - CAST(n1 AS DOUBLE)
                * (CAST(COALESCE(s1, 0) AS DOUBLE) / CAST(n1 AS DOUBLE))
                * (CAST(COALESCE(s1, 0) AS DOUBLE) / CAST(n1 AS DOUBLE)))
             / (CAST(n1 AS DOUBLE) - 1.0e0) / CAST(n1 AS DOUBLE)
             + (CAST(COALESCE(q0, 0) AS DOUBLE)
                - CAST(n0 AS DOUBLE)
                  * (CAST(COALESCE(s0, 0) AS DOUBLE) / CAST(n0 AS DOUBLE))
                  * (CAST(COALESCE(s0, 0) AS DOUBLE) / CAST(n0 AS DOUBLE)))
               / (CAST(n0 AS DOUBLE) - 1.0e0) / CAST(n0 AS DOUBLE)
               AS se2
      FROM mom CROSS JOIN sizes
    )
    SELECT tok AS token,
           ROUND((m1 - m0) / sqrt(se2), 6) AS t_stat,
           ROUND(m1, 6) AS mean_pos,
           ROUND(m0, 6) AS mean_neg
    FROM j WHERE se2 > 0
    ORDER BY abs(ROUND((m1 - m0) / sqrt(se2), 6)) DESC, token ASC
    LIMIT 30
"""


@_q("q_tstat_features", _TSTAT_SQL)
def q_tstat_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 tokens separating English from non-English documents by
    Welch t on term frequencies — absent documents enter the moments
    as zeros arithmetically; one tf shuffle + one token collapse +
    TakeOrdered."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        tstat_token_features,
    )

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull()
    )
    return tstat_token_features(
        docs, F.col("lang") == "en", top_k=30
    )


_DOC_SIMPSON_SQL = f"""
    WITH tok AS (
      SELECT doc_id AS id, tok
      FROM (SELECT doc_id, unnest({_sql_tokens('text')}) AS tok
            FROM documents)
      WHERE length(tok) > 0
    ),
    per AS (
      SELECT id, SUM(c) AS n, SUM(c * (c - 1)) AS coll
      FROM (SELECT id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2)
      GROUP BY 1 HAVING SUM(c) >= 2
    )
    SELECT CAST(id AS BIGINT) AS doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           ROUND(CAST(coll AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0e0)), 6)
             AS simpson
    FROM per
"""


@_q("q_doc_simpson", _DOC_SIMPSON_SQL)
def q_doc_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Simpson token concentration — the
    draw-two-tokens collision probability, integer-exact from one
    (doc, token) count shuffle."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        doc_simpson,
    )

    return doc_simpson(_t(spark, sf_dir, "documents"))


_MATTR_SQL = f"""
    WITH tk AS (
      SELECT doc_id, {_sql_tokens('text')} AS toks FROM documents
    ),
    big AS (
      SELECT doc_id, toks, len(toks) AS n FROM tk WHERE len(toks) >= 20
    ),
    sel AS (
      SELECT doc_id,
             CAST(floor((i - 1) / 20.0e0) AS BIGINT) AS chunk,
             toks[i] AS tok
      FROM (SELECT doc_id, toks, n,
                   unnest(generate_series(1, n)) AS i
            FROM big)
      WHERE i - 1 < CAST(floor(n / 20.0e0) AS BIGINT) * 20
    ),
    pc AS (
      SELECT doc_id, chunk, COUNT(DISTINCT tok) AS types
      FROM sel GROUP BY 1, 2
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           ROUND(CAST(SUM(CAST(ROUND(CAST(types AS DOUBLE) / 20.0e0, 9)
                               AS DECIMAL(28,9))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS mattr
    FROM pc GROUP BY 1
"""


@_q("q_mattr", _MATTR_SQL)
def q_mattr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average type-token ratio over complete 20-token
    windows: the length-robust lexical diversity measure; map-side
    positions, doc-keyed collapses only."""
    from conte_to_fresco_etl_spark.operators.text_analysis import mattr

    return mattr(_t(spark, sf_dir, "documents"), window=20)


_COND_ENTROPY_SQL = f"""
    WITH ne AS (
      SELECT toks FROM (
        SELECT {_sql_tokens('text')} AS toks FROM documents
      ) WHERE len(toks) >= 2
    ),
    bg AS (
      SELECT toks[i] AS a, toks[i + 1] AS b
      FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
            FROM ne)
    ),
    bc AS (SELECT a, b, COUNT(*) AS c FROM bg GROUP BY 1, 2),
    tot AS (SELECT SUM(c) AS n FROM bc),
    hj AS (
      SELECT SUM(CAST(ROUND(
               -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 12)
               AS DECIMAL(38,12))) AS hj,
             MAX(n) AS n
      FROM bc CROSS JOIN tot
    ),
    hp AS (
      SELECT SUM(CAST(ROUND(
               -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 12)
               AS DECIMAL(38,12))) AS hp
      FROM (SELECT a, SUM(c) AS c FROM bc GROUP BY 1) CROSS JOIN tot
    )
    SELECT CAST(n AS BIGINT) AS n_bigrams,
           ROUND(CAST(hj AS DOUBLE), 6) AS h_joint,
           ROUND(CAST(hp AS DOUBLE), 6) AS h_prev,
           ROUND(CAST(hj AS DOUBLE) - CAST(hp AS DOUBLE), 6) AS h_cond
    FROM hj CROSS JOIN hp
"""


@_q("q_cond_entropy", _COND_ENTROPY_SQL)
def q_cond_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram conditional entropy H(next | prev) =
    H(prev, next) − H(prev): one bigram-count shuffle, the prev
    marginal derived from the bigram table, ROUND(12) decimal entropy
    terms."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        conditional_entropy,
    )

    return conditional_entropy(_t(spark, sf_dir, "documents"))


#: CTEs tok/cells/corpus/tq/ts_/j: per (source grp, token) the source's
#: token share p and the corpus share q, with the source's token count ns.
_SOURCE_VS_CORPUS_SQL = f"""tok AS (
      SELECT grp, tok FROM (
        SELECT source AS grp, unnest({_sql_tokens('text')}) AS tok
        FROM documents WHERE source IS NOT NULL
      ) WHERE length(tok) > 0
    ),
    cells AS (SELECT grp, tok, COUNT(*) AS cs FROM tok GROUP BY 1, 2),
    corpus AS (SELECT tok, SUM(cs) AS cq FROM cells GROUP BY 1),
    tq AS (SELECT SUM(cq) AS nq FROM corpus),
    ts_ AS (SELECT grp, SUM(cs) AS ns FROM cells GROUP BY 1),
    j AS (
      SELECT c.grp, ns,
             CAST(cs AS DOUBLE) / CAST(ns AS DOUBLE) AS p,
             CAST(cq AS DOUBLE) / CAST(nq AS DOUBLE) AS q
      FROM cells c JOIN corpus USING (tok) JOIN ts_ USING (grp)
      CROSS JOIN tq
    )"""

_JS_SQL = f"""
    WITH {_SOURCE_VS_CORPUS_SQL},
    per AS (
      SELECT grp, MAX(ns) AS n_tokens,
             SUM(CAST(ROUND(p * ln(p / ((p + q) / 2.0e0)), 12)
                      AS DECIMAL(38,12))) AS klp,
             SUM(CAST(ROUND(q * ln(q / ((p + q) / 2.0e0)), 12)
                      AS DECIMAL(38,12))) AS klq_in,
             SUM(CAST(ROUND(q, 12) AS DECIMAL(38,12))) AS q_cov
      FROM j GROUP BY 1
    )
    SELECT grp AS source, CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(0.5e0 * CAST(klp AS DOUBLE)
                 + 0.5e0 * (CAST(klq_in AS DOUBLE)
                            + ln(2.0e0)
                              * (1.0e0 - CAST(q_cov AS DOUBLE))), 6)
             AS js
    FROM per
"""


@_q("q_js_sources", _JS_SQL)
def q_js_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's unigram
    distribution from the corpus — per-source domain drift for
    mixture tuning; the corpus-side KL over tokens the source lacks
    collapses to ln(2)·(1 − coverage), so nothing dense ever
    materializes."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        js_divergence_by_group,
    )

    return js_divergence_by_group(_t(spark, sf_dir, "documents"))


_INFO_GAIN_SQL = f"""
    WITH d AS (
      SELECT doc_id AS id, lang = 'en' AS y, text
      FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
    ),
    sizes AS (
      SELECT SUM(CASE WHEN y THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN NOT y THEN 1 ELSE 0 END) AS n0
      FROM d
    ),
    pres AS (
      SELECT tok,
             SUM(CASE WHEN y THEN 1 ELSE 0 END) AS a,
             SUM(CASE WHEN NOT y THEN 1 ELSE 0 END) AS b
      FROM (
        SELECT DISTINCT id, y, tok
        FROM (SELECT id, y, unnest({_sql_tokens('text')}) AS tok FROM d)
        WHERE length(tok) > 0
      ) GROUP BY 1
    ),
    j AS (
      SELECT tok, a + b AS present_docs,
             (CASE WHEN n1 > 0 THEN
                -(CAST(n1 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE))
                 * ln(CAST(n1 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE))
              ELSE 0.0e0 END
              + CASE WHEN n0 > 0 THEN
                  -(CAST(n0 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE))
                   * ln(CAST(n0 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE))
                ELSE 0.0e0 END)
             - (CAST(a + b AS DOUBLE) / CAST(n1 + n0 AS DOUBLE)
                * (CASE WHEN a > 0 THEN
                     -(CAST(a AS DOUBLE) / CAST(a + b AS DOUBLE))
                      * ln(CAST(a AS DOUBLE) / CAST(a + b AS DOUBLE))
                   ELSE 0.0e0 END
                   + CASE WHEN b > 0 THEN
                       -(CAST(b AS DOUBLE) / CAST(a + b AS DOUBLE))
                        * ln(CAST(b AS DOUBLE) / CAST(a + b AS DOUBLE))
                     ELSE 0.0e0 END)
                + (CAST(n1 + n0 AS DOUBLE) - CAST(a + b AS DOUBLE))
                  / CAST(n1 + n0 AS DOUBLE)
                  * (CASE WHEN n1 - a > 0 THEN
                       -(CAST(n1 - a AS DOUBLE)
                         / (CAST(n1 + n0 AS DOUBLE)
                            - CAST(a + b AS DOUBLE)))
                        * ln(CAST(n1 - a AS DOUBLE)
                             / (CAST(n1 + n0 AS DOUBLE)
                                - CAST(a + b AS DOUBLE)))
                     ELSE 0.0e0 END
                     + CASE WHEN n0 - b > 0 THEN
                         -(CAST(n0 - b AS DOUBLE)
                           / (CAST(n1 + n0 AS DOUBLE)
                              - CAST(a + b AS DOUBLE)))
                          * ln(CAST(n0 - b AS DOUBLE)
                               / (CAST(n1 + n0 AS DOUBLE)
                                  - CAST(a + b AS DOUBLE)))
                       ELSE 0.0e0 END))
               AS ig_raw
      FROM pres CROSS JOIN sizes
    )
    SELECT tok AS token, CAST(present_docs AS BIGINT) AS present_docs,
           ROUND(ROUND(ig_raw, 12), 6) AS ig
    FROM j
    ORDER BY ROUND(ig_raw, 12) DESC, token ASC
    LIMIT 30
"""


@_q("q_info_gain", _INFO_GAIN_SQL)
def q_info_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 tokens by information gain of presence against the
    English label — the categorical decision-stump sibling of
    q_tstat_features; absent-side counts by complement, one DISTINCT
    presence shuffle."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        info_gain_features,
    )

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull()
    )
    return info_gain_features(docs, F.col("lang") == "en", top_k=30)


_SPAN_CORRUPTION_SQL = f"""
    WITH base AS (
      SELECT doc_id AS id, len({_sql_tokens('text')}) AS n
      FROM documents
    ),
    ne AS (SELECT id, n FROM base WHERE n >= 1),
    pos AS (
      SELECT id, n, unnest(generate_series(0, n - 1)) AS i FROM ne
    ),
    starts AS (
      SELECT id, n, i,
             1 + {_sql_md5_long(
                 "'scL:' || CAST(id AS VARCHAR) || ':' "
                 "|| CAST(i AS VARCHAR)")} % 5 AS len
      FROM pos
      WHERE {_sql_md5_long(
                "'sc:' || CAST(id AS VARCHAR) || ':' "
                "|| CAST(i AS VARCHAR)")} % 1000000 < 50000
    ),
    covered AS (
      SELECT DISTINCT id, p FROM (
        SELECT id, unnest(generate_series(i, LEAST(i + len - 1, n - 1)))
                 AS p
        FROM starts
      )
    ),
    runs AS (
      SELECT id, COUNT(*) AS n_masked,
             SUM(CASE WHEN prev IS NULL OR prev < p - 1
                 THEN 1 ELSE 0 END) AS n_spans
      FROM (SELECT id, p,
                   LAG(p) OVER (PARTITION BY id ORDER BY p) AS prev
            FROM covered)
      GROUP BY 1
    )
    SELECT CAST(ne.id AS BIGINT) AS doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(COALESCE(n_masked, 0) AS BIGINT) AS n_masked,
           CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
           ROUND(CAST(COALESCE(n_masked, 0) AS DOUBLE)
                 / CAST(n AS DOUBLE), 6) AS frac_masked
    FROM ne LEFT JOIN runs ON ne.id = runs.id
"""


@_q("q_span_corruption", _SPAN_CORRUPTION_SQL)
def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption masking plan per document: hash-stable
    span starts and lengths (15% target mask rate, mean span 3),
    overlap-merged; positions explode map-side and everything stays
    keyed by the doc."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        span_corruption_plan,
    )

    return span_corruption_plan(_t(spark, sf_dir, "documents"))


_LOG_ODDS_SQL = f"""
    WITH d AS (
      SELECT lang = 'en' AS y, text
      FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
    ),
    counts AS (
      SELECT tok,
             SUM(CASE WHEN y THEN 1 ELSE 0 END) AS y1,
             SUM(CASE WHEN NOT y THEN 1 ELSE 0 END) AS y0
      FROM (SELECT y, unnest({_sql_tokens('text')}) AS tok FROM d)
      WHERE length(tok) > 0 GROUP BY 1
    ),
    tot AS (SELECT SUM(y1) AS n1, SUM(y0) AS n0 FROM counts),
    j AS (
      SELECT tok,
             CAST(y1 AS DOUBLE) AS y1d, CAST(y0 AS DOUBLE) AS y0d,
             CAST(n1 AS DOUBLE) AS n1d, CAST(n0 AS DOUBLE) AS n0d,
             100.0e0 * (CAST(y1 + y0 AS DOUBLE)
                        / CAST(n1 + n0 AS DOUBLE)) AS at
      FROM counts CROSS JOIN tot
    ),
    z AS (
      SELECT tok,
             ln((y1d + at) / (n1d + 100.0e0 - y1d - at))
             - ln((y0d + at) / (n0d + 100.0e0 - y0d - at)) AS delta,
             ROUND((ln((y1d + at) / (n1d + 100.0e0 - y1d - at))
                    - ln((y0d + at) / (n0d + 100.0e0 - y0d - at)))
                   / sqrt(1.0e0 / (y1d + at) + 1.0e0 / (y0d + at)), 9)
               AS z9
      FROM j
    )
    SELECT tok AS token, ROUND(z9, 6) AS z_score,
           ROUND(delta, 6) AS delta
    FROM z
    ORDER BY abs(z9) DESC, token ASC
    LIMIT 30
"""


@_q("q_log_odds", _LOG_ODDS_SQL)
def q_log_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monroe "fightin' words": top-30 tokens by z-scored Dirichlet-
    prior log-odds between English and non-English documents — the
    corpus-comparison ranking that neither overweights rare tokens
    (the prior) nor hubs (the variance term); one token-class count
    shuffle + a 1-row totals broadcast."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        log_odds_tokens,
    )

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull()
    )
    return log_odds_tokens(docs, F.col("lang") == "en", top_k=30)


_HELLINGER_SQL = f"""
    WITH {_SOURCE_VS_CORPUS_SQL},
    per AS (
      SELECT grp, MAX(ns) AS n_tokens,
             SUM(CAST(ROUND(sqrt(p * q), 12) AS DECIMAL(38,12))) AS bc,
             SUM(CAST(ROUND(abs(p - q), 12) AS DECIMAL(38,12)))
               AS adiff_in,
             SUM(CAST(ROUND(q, 12) AS DECIMAL(38,12))) AS q_cov
      FROM j GROUP BY 1
    )
    SELECT grp AS source, CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(sqrt(GREATEST(0.0e0,
                               1.0e0 - CAST(bc AS DOUBLE))), 6)
             AS hellinger,
           ROUND(0.5e0 * (CAST(adiff_in AS DOUBLE)
                          + (1.0e0 - CAST(q_cov AS DOUBLE))), 6) AS tvd
    FROM per
"""


@_q("q_hellinger_drift", _HELLINGER_SQL)
def q_hellinger_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hellinger + total-variation distance of each source's unigram
    distribution from the corpus — the f-divergence drift pair next
    to q_js_sources, with the absent-token mass in closed form (no
    dense source x vocabulary grid)."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        hellinger_tvd_by_group,
    )

    return hellinger_tvd_by_group(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Lexical richness / readability / diversity / ROUGE (r9)
# ---------------------------------------------------------------------------

#: CTEs tok/cells: the count c of each non-empty token t per language g.
_LANG_TOKEN_CELLS_SQL = f"""tok AS (
      SELECT g, t FROM (
        SELECT lang AS g, unnest({_sql_tokens('text')}) AS t
        FROM documents WHERE lang IS NOT NULL
      ) WHERE length(t) > 0
    ),
    cells AS (SELECT g, t, COUNT(*) AS c FROM tok GROUP BY 1, 2)"""

_YULE_SQL = f"""
    WITH {_LANG_TOKEN_CELLS_SQL},
    per AS (
      SELECT g, SUM(c) AS n, COUNT(*) AS v,
             SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS v1,
             SUM(CAST(c AS DECIMAL(38,0)) * c) AS c2
      FROM cells GROUP BY 1
    )
    SELECT g AS lang, CAST(n AS BIGINT) AS n_tokens,
           CAST(v AS BIGINT) AS vocab,
           ROUND(CAST(v1 AS DOUBLE) / CAST(v AS DOUBLE), 6)
             AS hapax_ratio,
           ROUND(CAST(v AS DOUBLE) / sqrt(CAST(n AS DOUBLE)), 6)
             AS guiraud_r,
           ROUND(10000.0 * (CAST(c2 AS DOUBLE) - CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS yule_k
    FROM per
"""

@_q("q_yule_k", _YULE_SQL)
def q_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-richness panel per language: vocabulary, hapax ratio,
    Guiraud R, Yule's K — the length-invariant repetitiveness gauges,
    one (lang, token) count shuffle."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        lexical_richness_by_group,
    )

    return lexical_richness_by_group(_t(spark, sf_dir, "documents"))


_READABILITY_SQL = f"""
    WITH base AS (
      SELECT lang AS g,
             len({_sql_tokens('text')}) AS w,
             GREATEST(1, len(regexp_extract_all(text, '[.!?]+'))) AS s,
             list_sum(list_transform({_sql_tokens('text')},
                 x -> GREATEST(1, len(regexp_extract_all(x,
                                                         '[aeiouy]+')))))
               AS y
      FROM documents
      WHERE lang IS NOT NULL AND text IS NOT NULL
    ),
    per AS (
      SELECT g, COUNT(*) AS n_docs, SUM(w) AS ws, SUM(s) AS ss,
             SUM(y) AS ys
      FROM base WHERE w > 0 GROUP BY 1
    )
    SELECT g AS lang, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(ws AS BIGINT) AS words, CAST(ss AS BIGINT) AS sentences,
           CAST(ys AS BIGINT) AS syllables,
           ROUND(206.835 - 1.015 * (CAST(ws AS DOUBLE) / ss)
                 - 84.6 * (CAST(ys AS DOUBLE) / ws), 6) AS flesch,
           ROUND(0.39 * (CAST(ws AS DOUBLE) / ss)
                 + 11.8 * (CAST(ys AS DOUBLE) / ws) - 15.59, 6)
             AS fk_grade
    FROM per
"""

@_q("q_readability", _READABILITY_SQL)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease + Flesch-Kincaid grade per language from
    the deterministic vowel-group syllable counter — map-side array
    expressions, one group collapse, identical closed form in both
    engines."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        readability_by_group,
    )

    return readability_by_group(_t(spark, sf_dir, "documents"))


def _sql_grams(n: int) -> str:
    toks = _sql_tokens("text")
    if n == 1:
        return f"unnest({toks})"
    joined = " || ' ' || ".join(f"toks[i+{j}]" if j else "toks[i]"
                                for j in range(n))
    return (
        f"unnest(CASE WHEN len(toks) < {n} THEN CAST([] AS VARCHAR[]) "
        f"ELSE list_transform(generate_series(1, len(toks) - {n - 1}), "
        f"i -> {joined}) END)"
    )


_DISTINCT_NGRAMS_SQL = f"""
    WITH t AS (
      SELECT source AS g, {_sql_tokens('text')} AS toks
      FROM documents WHERE source IS NOT NULL
    ),
    g1 AS (
      SELECT g, SUM(c) AS total_1, COUNT(*) AS distinct_1 FROM (
        SELECT g, gram, COUNT(*) AS c FROM (
          SELECT g, unnest(toks) AS gram FROM t
        ) WHERE length(gram) > 0 GROUP BY 1, 2
      ) GROUP BY 1
    ),
    g2 AS (
      SELECT g, SUM(c) AS total_2, COUNT(*) AS distinct_2 FROM (
        SELECT g, gram, COUNT(*) AS c FROM (
          SELECT g, {_sql_grams(2).replace("unnest(CASE", "unnest(CASE").replace(_sql_tokens('text'), 'toks')} AS gram FROM t
        ) WHERE length(gram) > 0 GROUP BY 1, 2
      ) GROUP BY 1
    ),
    g3 AS (
      SELECT g, SUM(c) AS total_3, COUNT(*) AS distinct_3 FROM (
        SELECT g, gram, COUNT(*) AS c FROM (
          SELECT g, {_sql_grams(3).replace(_sql_tokens('text'), 'toks')} AS gram FROM t
        ) WHERE length(gram) > 0 GROUP BY 1, 2
      ) GROUP BY 1
    )
    SELECT g1.g AS source,
           CAST(COALESCE(total_1, 0) AS BIGINT) AS total_1,
           CAST(COALESCE(distinct_1, 0) AS BIGINT) AS distinct_1,
           CASE WHEN total_1 > 0 THEN ROUND(
             CAST(distinct_1 AS DOUBLE) / total_1, 6) END AS ratio_1,
           CAST(COALESCE(total_2, 0) AS BIGINT) AS total_2,
           CAST(COALESCE(distinct_2, 0) AS BIGINT) AS distinct_2,
           CASE WHEN total_2 > 0 THEN ROUND(
             CAST(distinct_2 AS DOUBLE) / total_2, 6) END AS ratio_2,
           CAST(COALESCE(total_3, 0) AS BIGINT) AS total_3,
           CAST(COALESCE(distinct_3, 0) AS BIGINT) AS distinct_3,
           CASE WHEN total_3 > 0 THEN ROUND(
             CAST(distinct_3 AS DOUBLE) / total_3, 6) END AS ratio_3
    FROM g1 LEFT JOIN g2 USING (g) LEFT JOIN g3 USING (g)
"""

@_q("q_distinct_ngrams", _DISTINCT_NGRAMS_SQL)
def q_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-1/2/3 diversity ratios per source — the generation-
    diversity audit (templated sources collapse the ratio before
    exact dedup fires); map-side gram emission, integer aggregates."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        distinct_ngram_ratios,
    )

    return distinct_ngram_ratios(_t(spark, sf_dir, "documents"))


#: CTEs base/ids/spine/gc1/gc2: documents with id < 60, each paired with
#: its predecessor id (spine), and their unigram/bigram counts.
_ADJACENT_NGRAMS_SQL = f"""base AS (
      SELECT doc_id AS d, {_sql_tokens('text')} AS toks
      FROM documents WHERE doc_id IS NOT NULL AND doc_id < 60
    ),
    ids AS (SELECT DISTINCT d FROM base),
    spine AS (
      SELECT a.d AS cand_id, a.d - 1 AS ref_id
      FROM ids a JOIN ids b ON a.d = b.d + 1
    ),
    gc1 AS (
      SELECT d, gram, COUNT(*) AS c FROM (
        SELECT d, unnest(toks) AS gram FROM base
      ) WHERE length(gram) > 0 GROUP BY 1, 2
    ),
    gc2 AS (
      SELECT d, gram, COUNT(*) AS c FROM (
        SELECT d, unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
                         ELSE list_transform(generate_series(1, len(toks) - 1),
                                             i -> toks[i] || ' ' || toks[i+1])
                         END) AS gram
        FROM base
      ) WHERE length(gram) > 0 GROUP BY 1, 2
    )"""


def _clipped_overlap_sql(k: int) -> str:
    """CTE ov{k}: clipped k-gram overlap of each document with its predecessor."""
    return f"""ov{k} AS (
      SELECT c{k}.d AS cand_id, SUM(LEAST(c{k}.c, r{k}.c)) AS ov
      FROM gc{k} c{k} JOIN gc{k} r{k} ON c{k}.gram = r{k}.gram AND c{k}.d = r{k}.d + 1
      GROUP BY 1
    )"""


_ROUGE_SQL = f"""
    WITH {_ADJACENT_NGRAMS_SQL},
    {_clipped_overlap_sql(1)},
    rt1 AS (SELECT d + 1 AS cand_id, SUM(c) AS rt FROM gc1 GROUP BY 1),
    {_clipped_overlap_sql(2)},
    rt2 AS (SELECT d + 1 AS cand_id, SUM(c) AS rt FROM gc2 GROUP BY 1)
    SELECT s.cand_id, s.ref_id,
           CASE WHEN rt1.rt > 0 THEN ROUND(
             CAST(COALESCE(ov1.ov, 0) AS DOUBLE) / rt1.rt, 6) END
             AS rouge1_recall,
           CASE WHEN rt2.rt > 0 THEN ROUND(
             CAST(COALESCE(ov2.ov, 0) AS DOUBLE) / rt2.rt, 6) END
             AS rouge2_recall
    FROM spine s
    LEFT JOIN ov1 ON s.cand_id = ov1.cand_id
    LEFT JOIN rt1 ON s.cand_id = rt1.cand_id
    LEFT JOIN ov2 ON s.cand_id = ov2.cand_id
    LEFT JOIN rt2 ON s.cand_id = rt2.cand_id
"""

@_q("q_rouge_pairs", _ROUGE_SQL)
def q_rouge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1/2 recall of each document against its predecessor over
    a bounded id range — clipped n-gram counts, adjacent-id equi-join
    pair spine (never a cross)."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        rouge_recall_pairs,
    )

    return rouge_recall_pairs(_t(spark, sf_dir, "documents"), max_id=60)


_CHAO1_SQL = f"""
    WITH {_LANG_TOKEN_CELLS_SQL},
    per AS (
      SELECT g, SUM(c) AS n, COUNT(*) AS v,
             SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS v1,
             SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS v2
      FROM cells GROUP BY 1
    )
    SELECT g AS lang, CAST(n AS BIGINT) AS n_tokens,
           CAST(v AS BIGINT) AS vocab,
           CAST(v1 AS BIGINT) AS v1, CAST(v2 AS BIGINT) AS v2,
           ROUND(CAST(v AS DOUBLE)
                 + CAST(v1 AS DOUBLE) * (v1 - 1)
                   / (2.0 * (CAST(v2 AS DOUBLE) + 1)), 6) AS chao1,
           ROUND(CAST(v1 AS DOUBLE) / n, 6) AS unseen_mass,
           ROUND(1.0e0 - CAST(v1 AS DOUBLE) / n, 6) AS coverage
    FROM per
"""


@_q("q_vocab_coverage", _CHAO1_SQL)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 richness + Good-Turing unseen mass per language — the
    "is more crawling worth it" estimators from one (lang, token)
    count shuffle."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        vocabulary_coverage_by_group,
    )

    return vocabulary_coverage_by_group(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Naive Bayes lexical classifier (r9 batch 6): train/test split, Laplace
# smoothing, per-class scoring, confusion matrix — training IS aggregation.
# ---------------------------------------------------------------------------

_NB_SQL = f"""
    WITH base AS (
      SELECT doc_id AS id, lang AS y, {_sql_tokens('text')} AS toks
      FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
    ),
    train_tok AS (
      SELECT y, t.tok FROM base, UNNEST(toks) AS t(tok) WHERE id % 5 <> 0
    ),
    cnt AS (
      SELECT y AS m_y, tok AS m_tok, COUNT(*) AS c
      FROM train_tok GROUP BY 1, 2
    ),
    cls AS (SELECT y, COUNT(*) AS tot FROM train_tok GROUP BY 1),
    docs_cls AS (
      SELECT y, COUNT(*) AS docs FROM base WHERE id % 5 <> 0 GROUP BY 1
    ),
    scal AS (
      SELECT (SELECT COUNT(DISTINCT tok) FROM train_tok) AS vocab,
             (SELECT COUNT(*) FROM base WHERE id % 5 <> 0) AS ndocs
    ),
    classes AS (
      SELECT cls.y AS c_y, tot, vocab,
             ROUND(ln(CAST(docs AS DOUBLE) / CAST(ndocs AS DOUBLE)),
                   12) AS prior
      FROM cls JOIN docs_cls ON cls.y = docs_cls.y, scal
    ),
    test_tf AS (
      SELECT id, y, t.tok, COUNT(*) AS tf
      FROM base, UNNEST(toks) AS t(tok) WHERE id % 5 = 0 GROUP BY 1, 2, 3
    ),
    fanned AS (
      SELECT test_tf.id, test_tf.y AS true_y, c_y, prior, tf, tot,
             vocab, c
      FROM test_tf CROSS JOIN classes
      LEFT JOIN cnt ON c_y = m_y AND test_tf.tok = m_tok
    ),
    scores AS (
      SELECT id, true_y, c_y, prior,
             SUM(CAST(ROUND(CAST(tf AS DOUBLE)
                   * ROUND(ln(CAST(COALESCE(c, 0) + 1 AS DOUBLE)
                              / CAST(tot + vocab AS DOUBLE)), 12), 12)
                 AS DECIMAL(38,12))) AS s
      FROM fanned GROUP BY 1, 2, 3, 4
    ),
    ranked AS (
      SELECT id, true_y, c_y,
             ROUND(prior + CAST(s AS DOUBLE), 6) AS score
      FROM scores
    ),
    pred AS (
      SELECT id, true_y, c_y,
             ROW_NUMBER() OVER (
               PARTITION BY id ORDER BY score DESC, c_y ASC) AS rn
      FROM ranked
    )
    SELECT true_y AS true_label, c_y AS pred_label,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred WHERE rn = 1 GROUP BY 1, 2
"""


@_q("q_naive_bayes", _NB_SQL)
def q_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained on the 80%
    hash split and evaluated on the rest: (class, token) counts and
    class totals are map-combinable collapses, scoring is a
    vocabulary-sized token join with a k-class broadcast fan-out, and
    the argmax is a per-doc window over k rows."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        naive_bayes_classify,
    )

    return naive_bayes_classify(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id", text_col="text", label_col="lang", test_mod=5,
    )


# ---------------------------------------------------------------------------
# Clustering-evaluation indices (r9, deferred to the r10 gate window):
# variance-ratio, worst-neighbor, and member-level scores over the label
# clustering of the embedding corpus — all centroid-based (nothing pairwise).
# ---------------------------------------------------------------------------

_CLUSTER_X_CENT = """
    x AS (
      SELECT label AS g, vec_id AS rid, i AS dim,
             ROUND(CAST(embedding[i] AS DOUBLE), 9) AS v
      FROM embeddings, generate_series(1, 64) AS gs(i)
      WHERE embedding IS NOT NULL AND label IS NOT NULL
        AND i <= len(embedding)
    ),
    cent AS (
      SELECT g, dim, COUNT(*) AS ng,
             ROUND(CAST(SUM(CAST(v AS DECIMAL(18,9))) AS DOUBLE)
                   / COUNT(*), 6) AS c
      FROM x GROUP BY 1, 2
    )
"""

_CH_SQL = f"""
    WITH {_CLUSTER_X_CENT},
    gcent AS (
      SELECT dim,
             CAST(SUM(CAST(ROUND(CAST(ng AS DOUBLE) * c, 6)
                           AS DECIMAL(38,6))) AS DOUBLE)
               / SUM(ng) AS gc
      FROM cent GROUP BY 1
    ),
    b AS (
      SELECT SUM(CAST(ROUND(CAST(ng AS DOUBLE) * (c - gc) * (c - gc), 12)
                      AS DECIMAL(38,12))) AS bsum
      FROM cent JOIN gcent USING (dim)
    ),
    w AS (
      SELECT SUM(CAST(ROUND((v - c) * (v - c), 12)
                      AS DECIMAL(38,12))) AS wsum
      FROM x JOIN cent ON x.g = cent.g AND x.dim = cent.dim
    ),
    sz AS (
      SELECT COUNT(*) AS n, COUNT(DISTINCT label) AS k FROM embeddings
      WHERE embedding IS NOT NULL AND label IS NOT NULL
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
           ROUND(CAST(bsum AS DOUBLE), 6) AS b_disp,
           ROUND(CAST(wsum AS DOUBLE), 6) AS w_disp,
           CASE WHEN k >= 2 AND n > k AND CAST(wsum AS DOUBLE) > 0
           THEN ROUND(
             (CAST(bsum AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0))
             / (CAST(wsum AS DOUBLE)
                / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6)
           END AS ch_stat
    FROM b, w, sz
"""


@_q("q_calinski_harabasz", _CH_SQL)
def q_calinski_harabasz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calinski-Harabasz variance-ratio of the label clustering: B from
    the k·d centroid table, W from one (vector, dim) pass against the
    broadcast centroids — no pairwise distances anywhere."""
    from conte_to_fresco_etl_spark.operators.similarity import (
        calinski_harabasz,
    )

    return calinski_harabasz(_t(spark, sf_dir, "embeddings"))


_DB_SQL = f"""
    WITH {_CLUSTER_X_CENT},
    d2 AS (
      SELECT x.g, x.rid,
             SUM(CAST(ROUND((v - c) * (v - c), 12)
                      AS DECIMAL(38,12))) AS dd2
      FROM x JOIN cent ON x.g = cent.g AND x.dim = cent.dim
      GROUP BY 1, 2
    ),
    s AS (
      SELECT g, CAST(SUM(CAST(ROUND(sqrt(CAST(dd2 AS DOUBLE)), 9)
                              AS DECIMAL(38,9))) AS DOUBLE)
                / COUNT(*) AS sg
      FROM d2 GROUP BY 1
    ),
    sep AS (
      SELECT a.g AS ga, b2.g AS gb,
             SUM(CAST(ROUND((a.c - b2.c) * (a.c - b2.c), 12)
                      AS DECIMAL(38,12))) AS dd
      FROM cent a JOIN cent b2 ON a.dim = b2.dim AND a.g <> b2.g
      GROUP BY 1, 2
    ),
    ratios AS (
      SELECT ga, ROUND((sa.sg + sb.sg) / sqrt(CAST(dd AS DOUBLE)), 9) AS r
      FROM sep JOIN s sa ON sep.ga = sa.g JOIN s sb ON sep.gb = sb.g
    ),
    worst AS (SELECT ga, MAX(r) AS w FROM ratios GROUP BY 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           ROUND(CAST(SUM(CAST(w AS DECIMAL(38,9))) AS DOUBLE)
                 / COUNT(*), 6) AS db_index
    FROM worst
"""


@_q("q_davies_bouldin", _DB_SQL)
def q_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies-Bouldin worst-neighbor index: member distances from one
    (vector, dim) pass, centroid separations from the k²·d
    dimension-sized self-join."""
    from conte_to_fresco_etl_spark.operators.similarity import (
        davies_bouldin,
    )

    return davies_bouldin(_t(spark, sf_dir, "embeddings"))


_SIL_SQL = f"""
    WITH {_CLUSTER_X_CENT},
    d2 AS (
      SELECT x.g, x.rid, cent.g AS cg,
             SUM(CAST(ROUND((v - c) * (v - c), 12)
                      AS DECIMAL(38,12))) AS dd2
      FROM x JOIN cent ON x.dim = cent.dim
      GROUP BY 1, 2, 3
    ),
    pv AS (
      SELECT g, rid,
             MIN(CASE WHEN cg = g THEN dd2 END) AS a2,
             MIN(CASE WHEN cg <> g THEN dd2 END) AS b2
      FROM d2 GROUP BY 1, 2
    ),
    sil AS (
      SELECT g,
             CASE WHEN GREATEST(sqrt(CAST(a2 AS DOUBLE)),
                                sqrt(CAST(b2 AS DOUBLE))) > 0
             THEN ROUND((sqrt(CAST(b2 AS DOUBLE))
                         - sqrt(CAST(a2 AS DOUBLE)))
                        / GREATEST(sqrt(CAST(a2 AS DOUBLE)),
                                   sqrt(CAST(b2 AS DOUBLE))), 9)
             ELSE 0.0 END AS sv
      FROM pv
    )
    SELECT CAST(g AS BIGINT) AS label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(CAST(SUM(CAST(sv AS DECIMAL(38,9))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_silhouette
    FROM sil GROUP BY 1
"""


@_q("q_silhouette", _SIL_SQL)
def q_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid) silhouette per label: the k-way centroid
    fan-out per vector (naive-bayes scoring shape), n·k rows collapse
    to per-vector a/b then to k label means."""
    from conte_to_fresco_etl_spark.operators.similarity import (
        simplified_silhouette,
    )

    return simplified_silhouette(_t(spark, sf_dir, "embeddings"))


_BLEU_SQL = f"""
    WITH {_ADJACENT_NGRAMS_SQL},
    {_clipped_overlap_sql(1)},
    ct1 AS (SELECT d AS cand_id, SUM(c) AS ct FROM gc1 GROUP BY 1),
    {_clipped_overlap_sql(2)},
    ct2 AS (SELECT d AS cand_id, SUM(c) AS ct FROM gc2 GROUP BY 1),
    p1t AS (
      SELECT ct1.cand_id,
             CASE WHEN ct > 0 THEN ROUND(
               CAST(COALESCE(ov, 0) AS DOUBLE) / ct, 9) END AS p1
      FROM ct1 LEFT JOIN ov1 ON ct1.cand_id = ov1.cand_id
    ),
    p2t AS (
      SELECT ct2.cand_id,
             CASE WHEN ct > 0 THEN ROUND(
               CAST(COALESCE(ov, 0) AS DOUBLE) / ct, 9) END AS p2
      FROM ct2 LEFT JOIN ov2 ON ct2.cand_id = ov2.cand_id
    ),
    lens AS (SELECT d, SUM(c) AS l FROM gc1 GROUP BY 1)
    SELECT s.cand_id, s.ref_id,
           ROUND(p1, 6) AS p1, ROUND(p2, 6) AS p2,
           CASE WHEN p1 > 0 AND p2 > 0 THEN ROUND(
             LEAST(1.0, exp(1.0 - CAST(rl.l AS DOUBLE)
                                  / CAST(cl.l AS DOUBLE)))
             * exp((ln(p1) + ln(p2)) / 2.0), 6)
           WHEN p1 IS NOT NULL AND p2 IS NOT NULL THEN 0.0
           END AS bleu2
    FROM spine s
    LEFT JOIN p1t ON s.cand_id = p1t.cand_id
    LEFT JOIN p2t ON s.cand_id = p2t.cand_id
    LEFT JOIN lens cl ON s.cand_id = cl.d
    LEFT JOIN lens rl ON s.ref_id = rl.d
"""


@_q("q_bleu_pairs", _BLEU_SQL)
def q_bleu_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU-2 of each document against its predecessor over a bounded
    id range: clipped modified precisions + brevity penalty on the
    adjacent-id pair spine — ROUGE's precision-side companion."""
    from conte_to_fresco_etl_spark.operators.text_analysis import bleu_pairs

    return bleu_pairs(_t(spark, sf_dir, "documents"), max_id=60)


# ---------------------------------------------------------------------------
# IVF/VP8 video container triage (round 10: the inter-frame codec's
# file surface, tag-level — no decode)
# ---------------------------------------------------------------------------


def _ivf_stats_sql() -> str:
    # frame j exists when j < n_frames = 1 + d0 % 4; frame 0 is always
    # a key frame, later frames are keys when d(3+j) % 4 = 0; frame 0
    # is always shown, later frames when d(7+j) % 2 = 1.  Key frames
    # carry 10 + d12 bytes (tag + start code + dims + part1 filler),
    # inter frames 3 + d13.
    def key_j(j: int) -> str:
        return "TRUE" if j == 0 else f"({_sql_hexd(3 + j)} % 4 = 0)"

    def show_j(j: int) -> str:
        return "1" if j == 0 else f"({_sql_hexd(7 + j)} % 2)"

    def len_j(j: int) -> str:
        return (
            f"(CASE WHEN {key_j(j)} THEN 10 + {_sql_hexd(12)} "
            f"ELSE 3 + {_sql_hexd(13)} END)"
        )

    n_key = " + ".join(
        f"(CASE WHEN {j} < n_frames AND {key_j(j)} THEN 1 ELSE 0 END)"
        for j in range(4)
    )
    n_shown = " + ".join(
        f"(CASE WHEN {j} < n_frames THEN {show_j(j)} ELSE 0 END)"
        for j in range(4)
    )
    total = " + ".join(
        f"(CASE WHEN {j} < n_frames THEN {len_j(j)} ELSE 0 END)"
        for j in range(4)
    )
    mx = ", ".join(
        f"(CASE WHEN {j} < n_frames THEN {len_j(j)} ELSE 0 END)"
        for j in range(4)
    )
    return f"""
    WITH h AS (
      SELECT doc_id AS media_id, md5(text) AS hx
      FROM documents WHERE text IS NOT NULL
    ),
    p AS (
      SELECT media_id, hx, 1 + {_sql_hexd(0)} % 4 AS n_frames
      FROM h
    )
    SELECT media_id,
           CAST(n_frames AS BIGINT) AS n_frames,
           CAST({n_key} AS BIGINT) AS n_keyframes,
           CAST({n_shown} AS BIGINT) AS n_shown,
           CAST(16 * (1 + {_sql_hexd(1)} % 4) AS BIGINT) AS width,
           CAST(16 * (1 + {_sql_hexd(2)} % 4) AS BIGINT) AS height,
           CAST({total} AS BIGINT) AS total_frame_bytes,
           CAST(GREATEST({mx}) AS BIGINT) AS max_frame_bytes
    FROM p
"""


@_q("q_ivf_stats", _ivf_stats_sql())
def q_ivf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VP8 video inventory over an IVF corpus, REAL walker end-to-end:
    each document becomes a spec-valid IVF file built from its md5 hex
    digits (DKIF header, per-frame 12-byte headers, VP8 frame tags
    with key/show/version bits, key frames carrying the start code +
    dimension words) and ``media_vp8_inter.ivf_frame_stats`` walks it
    — frame counts, key/shown splits, dimensions, byte totals — with
    the oracle recomputing every output from the same digits.  The
    tag-level triage is what a crawl pipeline runs BEFORE committing
    to a full ``decode_vp8_stream`` of petabytes of video."""
    import struct as _struct

    def build_and_walk(it):
        import hashlib

        import pandas as pd

        from conte_to_fresco_etl_spark.operators.media_vp8_inter import (
            build_ivf,
            ivf_frame_stats,
        )

        def payload(h: str) -> bytes:
            d = [int(c, 16) for c in h]
            n_frames = 1 + d[0] % 4
            w, hgt = 16 * (1 + d[1] % 4), 16 * (1 + d[2] % 4)
            version = d[11] % 4
            frames = []
            for j in range(n_frames):
                key = j == 0 or d[3 + j] % 4 == 0
                show = 1 if j == 0 else d[7 + j] % 2
                part1 = d[12] if key else d[13]
                tag = (part1 << 5) | (show << 4) | (version << 1) | (
                    0 if key else 1
                )
                head = bytes([tag & 0xFF, (tag >> 8) & 0xFF,
                              (tag >> 16) & 0xFF])
                if key:
                    head += b"\x9d\x01\x2a" + _struct.pack("<HH", w, hgt)
                frames.append(head + b"\x00" * part1)
            return build_ivf(frames, w, hgt)

        cols = ("n_frames", "n_keyframes", "n_shown", "width",
                "height", "total_frame_bytes", "max_frame_bytes")
        for pdf in it:
            out = {"media_id": []}
            out.update({c: [] for c in cols})
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                h = hashlib.md5(text.encode("utf-8")).hexdigest()
                st = ivf_frame_stats(payload(h))
                out["media_id"].append(did)
                for c in cols:
                    out[c].append(st[c])
            yield pd.DataFrame(out)

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    ).select("doc_id", "text")
    return docs.mapInPandas(
        build_and_walk,
        schema="media_id long, n_frames long, n_keyframes long, "
        "n_shown long, width long, height long, "
        "total_frame_bytes long, max_frame_bytes long",
    )


# ---------------------------------------------------------------------------
# OGG-Opus speech-activity triage (round 10: SILK LP-layer header bits
# through the real range decoder — no DSP)
# ---------------------------------------------------------------------------


def _opus_activity_sql() -> str:
    # packet j (j < n_pkt = 1 + d0 % 3) uses SILK-WB config 8 + d(1+j)%4
    # (10/20/40/60 ms); its SILK-frame count is 1/1/2/3 and VAD bit i
    # is d(4 + 3j + i) % 2 for i < n_silk.
    def spf(j: int) -> str:
        return (
            f"(CASE {_sql_hexd(1 + j)} % 4 WHEN 0 THEN 480 WHEN 1 THEN 960 "
            f"WHEN 2 THEN 1920 ELSE 2880 END)"
        )

    def n_silk(j: int) -> str:
        return (
            f"(CASE {_sql_hexd(1 + j)} % 4 WHEN 2 THEN 2 WHEN 3 THEN 3 "
            f"ELSE 1 END)"
        )

    def vad(j: int) -> str:
        return " + ".join(
            f"(CASE WHEN {i} < {n_silk(j)} THEN "
            f"{_sql_hexd(4 + 3 * j + i)} % 2 ELSE 0 END)"
            for i in range(3)
        )

    dur = " + ".join(
        f"(CASE WHEN {j} < n_pkt THEN {spf(j)} ELSE 0 END)"
        for j in range(3)
    )
    silk = " + ".join(
        f"(CASE WHEN {j} < n_pkt THEN {n_silk(j)} ELSE 0 END)"
        for j in range(3)
    )
    vads = " + ".join(
        f"(CASE WHEN {j} < n_pkt THEN {vad(j)} ELSE 0 END)"
        for j in range(3)
    )
    return f"""
    WITH h AS (
      SELECT doc_id AS media_id, md5(text) AS hx
      FROM documents WHERE text IS NOT NULL
    ),
    p AS (
      SELECT media_id, hx, 1 + {_sql_hexd(0)} % 3 AS n_pkt
      FROM h
    )
    SELECT media_id,
           CAST(n_pkt AS BIGINT) AS n_audio_packets,
           ROUND(CAST({dur} AS DOUBLE) / 48.0, 6) AS duration_ms,
           CAST({silk} AS BIGINT) AS n_silk_frames,
           CAST({vads} AS BIGINT) AS vad_frames,
           FALSE AS any_lbrr
    FROM p
"""


@_q("q_opus_activity", _opus_activity_sql())
def q_opus_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Speech-activity inventory over an OGG-Opus corpus with REAL
    entropy coding end-to-end: each document becomes a spec-valid
    OGG-Opus stream whose SILK LP-layer header bits (per-frame VAD
    flags, the LBRR flag, the Table 11 frame-type symbol) are authored
    with the RFC 6716 range ENCODER from its md5 digits, and
    ``ogg_stream_info`` walks pages -> packets -> TOC -> range-decoded
    header bits to recover them.  The oracle recomputes duration,
    SILK-frame counts, and VAD totals from the same digits, so the
    range coder round trip itself sits inside the driver's gate."""

    def build_and_walk(it):
        import hashlib
        import struct as _struct

        import pandas as pd

        from conte_to_fresco_etl_spark.operators.media_ogg import (
            _OPUS_CONFIGS,
            build_ogg_page,
            ogg_stream_info,
        )
        from conte_to_fresco_etl_spark.operators.media_opus import (
            RangeEncoder,
            SILK_TYPE_NO_VAD_ICDF,
            SILK_TYPE_VAD_ICDF,
        )

        def payload(h: str) -> bytes:
            d = [int(c, 16) for c in h]
            n_pkt = 1 + d[0] % 3
            head = (
                b"OpusHead" + bytes([1, 1])
                + _struct.pack("<H", d[2] * 8)
                + _struct.pack("<I", 48000)
                + _struct.pack("<h", 0) + bytes([0])
            )
            tags = (
                b"OpusTags" + _struct.pack("<I", 2) + b"oa"
                + _struct.pack("<I", 0)
            )
            serial = d[0] * 16 + d[1]
            pages = [
                build_ogg_page(serial, 0, 0, [head], header_type=0x02),
                build_ogg_page(serial, 1, 0, [tags]),
            ]
            granule = d[2] * 8
            st, qo = 1 + d[13] % 2, d[14] % 2
            for j in range(n_pkt):
                config = 8 + d[1 + j] % 4
                spf = _OPUS_CONFIGS[config][2]
                n_silk = {480: 1, 960: 1, 1920: 2, 2880: 3}[spf]
                vad = [d[4 + 3 * j + i] % 2 for i in range(n_silk)]
                enc = RangeEncoder()
                for v in vad:
                    enc.encode_bit_logp(v, 1)
                enc.encode_bit_logp(0, 1)  # no LBRR
                if vad[0]:
                    enc.encode_icdf((st - 1) * 2 + qo, SILK_TYPE_VAD_ICDF)
                else:
                    enc.encode_icdf(qo, SILK_TYPE_NO_VAD_ICDF)
                pkt = bytes([config << 3]) + enc.finish()
                granule += spf
                flags = 0x04 if j == n_pkt - 1 else 0
                pages.append(
                    build_ogg_page(
                        serial, 2 + j, granule, [pkt], header_type=flags
                    )
                )
            return b"".join(pages)

        for pdf in it:
            out = {
                "media_id": [], "n_audio_packets": [], "duration_ms": [],
                "n_silk_frames": [], "vad_frames": [], "any_lbrr": [],
            }
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                h = hashlib.md5(text.encode("utf-8")).hexdigest()
                info = ogg_stream_info(payload(h))
                out["media_id"].append(did)
                out["n_audio_packets"].append(
                    info["n_packets"] - 2  # minus OpusHead/OpusTags
                )
                out["duration_ms"].append(round(info["duration_ms"], 6))
                out["n_silk_frames"].append(info["n_silk_frames"])
                out["vad_frames"].append(info["vad_frames"])
                out["any_lbrr"].append(info["any_lbrr"])
            yield pd.DataFrame(out)

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    ).select("doc_id", "text")
    return docs.mapInPandas(
        build_and_walk,
        schema="media_id long, n_audio_packets long, duration_ms double, "
        "n_silk_frames long, vad_frames long, any_lbrr boolean",
    )
