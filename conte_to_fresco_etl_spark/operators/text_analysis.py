"""Document profiling: language ID, quality scoring, token counting,
fingerprinting — one map-side pass over a documents table.

Two implementations computing the SAME values (verified by the shared
DuckDB oracle):

  * ``arrow`` (default): one ``mapInPandas`` pass — md5/bit-votes as
    NumPy integer math, ratios as raw float64 with the identical IEEE
    expression order; ROUNDING STAYS JVM-SIDE (``F.round`` on the Arrow
    output) so the half-up tie behavior is bit-identical to the
    expression form on every input, including dyadic ratios like 1/128
    where NumPy's half-even ``np.round`` would differ.
  * ``expr``: pure expressions from functions.text — the form the SQL
    oracle mirrors, and the zero-Python plan for clusters where a
    whole-stage-codegen projection is preferred over Arrow workers.

At 100 TB both are a single map-side pass over the parquet scan with
full column pruning (no shuffle, no driver data).
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from conte_to_fresco_etl_spark.session import free_blocks
from conte_to_fresco_etl_spark.functions.text import (
    LANG_STOPWORDS,
    EN_STOPWORDS,
    approx_bpe_count,
    doc_fingerprint,
    explode_nonempty,
    lang_id,
    posexplode_nonempty,
    punct_ratio,
    quality_score,
    simhash32,
    stopword_ratio,
    token_count,
    tokens,
)

#: ASCII \s, matching Java regex semantics in the expression twin.
_WS_RUN = re.compile(r"\s+", re.ASCII)
_NON_ALNUM = re.compile(r"[^a-zA-Z0-9\s]", re.ASCII)


def _expr_tokens_twin(text: str) -> list[str]:
    """EXACT Python twin of ``functions.text.tokens``: lower →
    trim(spaces only, like F.trim) → split on ASCII ``\\s+`` with
    Spark ``split``'s limit=-1 edge semantics — BOTH leading and
    trailing empty tokens are kept when the trimmed string starts/ends
    with non-space whitespace (unlike Java ``String.split``, which
    drops trailing empties).  Python ``re.split`` matches exactly."""
    t = text.lower().strip(" ")
    if not t:
        return []
    return _WS_RUN.split(t)


def profile_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    impl: str = "arrow",
) -> DataFrame:
    """Per-document profile: counts, ratios, quality, language,
    fingerprints.  Ratios/scores rounded to 6 decimals for reproducible
    cross-engine comparison."""
    from conte_to_fresco_etl_spark.parallelism import (
        DENSE_BYTES_PER_TASK,
        ensure_min_parallelism,
    )

    # per-row work (md5 per token, 32-bit votes) is compute-dense; a
    # single-row-group scan must not serialize it onto one core
    df = ensure_min_parallelism(df, DENSE_BYTES_PER_TASK)

    if impl == "arrow":
        lang_codes = sorted(LANG_STOPWORDS)
        lang_sets = {c: frozenset(LANG_STOPWORDS[c]) for c in lang_codes}
        en_set = frozenset(EN_STOPWORDS)
        bit_idx = np.arange(32, dtype=np.int64)

        def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            md5 = hashlib.md5
            for pdf in it:
                out: dict[str, list] = {
                    k: []
                    for k in (
                        id_col, "n_chars", "n_tokens", "n_bpe_tokens",
                        "praw", "sraw", "qraw", "lang_pred", "fingerprint",
                        "simhash",
                    )
                }
                for i, text in zip(pdf[id_col], pdf[text_col]):
                    if text is None:
                        # documents contract: text is non-null; a null row
                        # is dropped here (the expr twin would emit a
                        # null-profile row — no such rows exist in any
                        # gated input)
                        continue
                    toks = _expr_tokens_twin(text)
                    nt = len(toks)
                    nc = len(text)
                    # ratios: same operand order as the expression twin
                    praw = (
                        0.0
                        if nc == 0
                        else float(nc - len(_NON_ALNUM.sub("", text))) / nc
                    )
                    sraw = (
                        0.0
                        if nt == 0
                        else float(sum(t in en_set for t in toks)) / nt
                    )
                    qraw = (
                        0.4 * min(1.0, float(nt) / 100.0)
                        + 0.3 * (1.0 - praw)
                        + 0.3 * min(1.0, 4.0 * sraw)
                    )
                    best, best_s = "und", 0
                    for code in lang_codes:
                        s_ = sum(t in lang_sets[code] for t in toks)
                        if s_ > best_s:
                            best, best_s = code, s_
                    norm = _WS_RUN.sub(" ", text.lower().strip(" "))
                    fp = int(md5(norm.encode()).hexdigest()[:15], 16)
                    if toks:
                        hs = np.array(
                            [
                                int(md5(t.encode()).hexdigest()[:8], 16)
                                for t in toks
                            ],
                            dtype=np.int64,
                        )
                        votes = (
                            ((hs[:, None] >> bit_idx) & 1) * 2 - 1
                        ).sum(axis=0)
                        sim = int(((votes > 0).astype(np.int64) << bit_idx).sum())
                    else:
                        sim = 0
                    for k, v in (
                        (id_col, i), ("n_chars", nc), ("n_tokens", nt),
                        ("n_bpe_tokens", -(-nc // 4)), ("praw", praw),
                        ("sraw", sraw), ("qraw", qraw), ("lang_pred", best),
                        ("fingerprint", fp), ("simhash", sim),
                    ):
                        out[k].append(v)
                yield pd.DataFrame(out)

        raw = df.select(id_col, text_col).mapInPandas(
            batches,
            schema=f"{id_col} long, n_chars long, n_tokens long, "
            "n_bpe_tokens long, praw double, sraw double, qraw double, "
            "lang_pred string, fingerprint long, simhash long",
        )
        # JVM-side rounding: identical HALF_UP ties to the expr twin
        return raw.select(
            F.col(id_col), "n_chars", "n_tokens", "n_bpe_tokens",
            F.round("praw", 6).alias("punct_ratio"),
            F.round("sraw", 6).alias("stopword_ratio"),
            F.round("qraw", 6).alias("quality"),
            "lang_pred", "fingerprint", "simhash",
        )

    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.length(t).cast("long").alias("n_chars"),
        token_count(t).alias("n_tokens"),
        approx_bpe_count(t).alias("n_bpe_tokens"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        F.round(stopword_ratio(t), 6).alias("stopword_ratio"),
        F.round(quality_score(t), 6).alias("quality"),
        lang_id(t).alias("lang_pred"),
        doc_fingerprint(t).alias("fingerprint"),
        simhash32(t).alias("simhash"),
    )


# ---------------------------------------------------------------------------
# Heuristic corpus filters (Gopher/C4-style repetition + shape rules)
# ---------------------------------------------------------------------------

#: Filter thresholds (Gopher-inspired defaults).  Shared with the SQL
#: oracle builder so both engines apply literally the same cut.
FILTER_THRESHOLDS: dict[str, float] = {
    "max_dup_line_fraction": 0.3,
    "max_dup_2gram_fraction": 0.2,
    "min_mean_word_length": 3.0,
    "max_mean_word_length": 10.0,
    "max_symbol_word_ratio": 0.1,
    "max_bullet_line_fraction": 0.9,
    "max_ellipsis_line_fraction": 0.3,
    "min_alpha_word_fraction": 0.8,
}


def quality_filters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    impl: str = "arrow",
    raw_metrics: DataFrame | None = None,
) -> DataFrame:
    """Per-document repetition/shape metrics plus the keep/drop verdict
    a Gopher-style curation pass would apply.

    Two implementations computing the SAME values (same twin discipline
    as ``profile_documents``):

      * ``arrow`` (default): one ``mapInPandas`` pass — the array-lambda
        metrics (distinct-line/-2gram fractions, per-token filters) are
        plain Python over each batch.  Catalyst interprets higher-order
        lambdas per element, measured ~25x slower than this path on the
        documents table (16.3s -> 0.6s at sf0.1); raw float64 ratios are
        computed with the identical IEEE expression order and ROUNDING
        STAYS JVM-SIDE so half-up ties match the expression form.
      * ``expr``: the pure-expression form the SQL oracle mirrors.

    Ratios are rounded to 6 decimals BEFORE thresholding so the verdict
    is bit-identical cross-engine.

    ``raw_metrics``: optional pre-computed RAW (un-rounded) metric
    frame ``(id_col, *_QUALITY_METRIC_COLS)`` — the composition hook
    for callers that fuse metric computation into a wider Arrow pass
    (r14 curation fuse).  The values must come from
    :func:`_quality_metric_lists` so they are bit-identical to the
    in-operator pass; rounding and thresholding stay here either way."""
    if raw_metrics is not None:
        m = raw_metrics.select(
            F.col(id_col),
            *[
                F.round(F.col(c), 6).alias(c)
                for c in _QUALITY_METRIC_COLS
            ],
        )
    elif impl == "arrow":
        m = _quality_metrics_arrow(df, id_col, text_col)
    else:
        m = _quality_metrics_expr(df, id_col, text_col)
    th = FILTER_THRESHOLDS
    keep = (
        (F.col("dup_line_frac") <= th["max_dup_line_fraction"])
        & (F.col("dup_2gram_frac") <= th["max_dup_2gram_fraction"])
        & (F.col("mean_word_len") >= th["min_mean_word_length"])
        & (F.col("mean_word_len") <= th["max_mean_word_length"])
        & (F.col("symbol_word_ratio") <= th["max_symbol_word_ratio"])
        & (F.col("bullet_line_frac") <= th["max_bullet_line_fraction"])
        & (F.col("ellipsis_line_frac") <= th["max_ellipsis_line_fraction"])
        & (F.col("alpha_word_frac") >= th["min_alpha_word_fraction"])
    )
    return m.withColumn("keep", keep)


def _quality_metrics_expr(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Expression form of the quality metrics — the SQL oracle's twin."""
    from conte_to_fresco_etl_spark.functions.text import (
        alpha_word_fraction,
        bullet_line_fraction,
        dup_line_fraction,
        dup_ngram_fraction,
        ellipsis_line_fraction,
        mean_word_length,
        symbol_word_ratio,
    )

    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.round(dup_line_fraction(t), 6).alias("dup_line_frac"),
        F.round(dup_ngram_fraction(t, 2), 6).alias("dup_2gram_frac"),
        F.round(mean_word_length(t), 6).alias("mean_word_len"),
        F.round(symbol_word_ratio(t), 6).alias("symbol_word_ratio"),
        F.round(bullet_line_fraction(t), 6).alias("bullet_line_frac"),
        F.round(ellipsis_line_fraction(t), 6).alias("ellipsis_line_frac"),
        F.round(alpha_word_fraction(t), 6).alias("alpha_word_frac"),
    )


#: token-contains-a-letter probe, twin of ``alpha_word_fraction``'s rlike
_ALPHA_RE = re.compile(r"[a-zA-Z]")

#: the 7 Gopher-style metric columns, in output order
_QUALITY_METRIC_COLS = [
    "dup_line_frac",
    "dup_2gram_frac",
    "mean_word_len",
    "symbol_word_ratio",
    "bullet_line_frac",
    "ellipsis_line_frac",
    "alpha_word_frac",
]


def _quality_metric_lists(texts) -> dict[str, list]:
    """RAW per-text quality metrics for one batch — the ONE definition
    of the Arrow-path math (used by ``_quality_metrics_arrow`` and by
    composition-layer fused passes, so fused values are bit-identical
    by construction).  Exactness notes: raw ratios use the identical
    float64 expression order (``1.0 - d/n``, ``total/n``); trim matches
    ``F.trim`` (spaces only); rounding happens JVM-side on the raw
    outputs."""
    from conte_to_fresco_etl_spark.operators.dedup import _py_tokens

    out: dict[str, list] = {c: [] for c in _QUALITY_METRIC_COLS}
    for t in texts:
        t = t if t is not None else ""
        ls = [x for x in (l.strip(" ") for l in t.split("\n")) if x]
        toks = _py_tokens(t)
        g2 = (
            [toks[i] + " " + toks[i + 1] for i in range(len(toks) - 1)]
            if len(toks) >= 2
            else []
        )
        nl, nt, ng = len(ls), len(toks), len(g2)
        out["dup_line_frac"].append(
            1.0 - len(set(ls)) / nl if nl else 0.0
        )
        out["dup_2gram_frac"].append(
            1.0 - len(set(g2)) / ng if ng else 0.0
        )
        out["mean_word_len"].append(
            sum(len(w) for w in toks) / nt if nt else 0.0
        )
        # expr form: n_hash + (3*n_ell)/3 — both terms exact
        # integers in double, so plain counts match bit-for-bit
        out["symbol_word_ratio"].append(
            (t.count("#") + t.count("...")) / nt if nt else 0.0
        )
        out["bullet_line_frac"].append(
            sum(1 for l in ls if l[0] in "-*•") / nl if nl else 0.0
        )
        out["ellipsis_line_frac"].append(
            sum(1 for l in ls if l.endswith("...")) / nl if nl else 0.0
        )
        out["alpha_word_frac"].append(
            sum(1 for w in toks if _ALPHA_RE.search(w)) / nt
            if nt
            else 0.0
        )
    return out


def _quality_metrics_arrow(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Arrow twin of ``_quality_metrics_expr``: same values, NumPy/Python
    batch math instead of interpreted Catalyst lambdas.  Exactness notes:
    raw ratios use the identical float64 expression order (``1.0 - d/n``,
    ``total/n``); trim matches ``F.trim`` (spaces only); rounding happens
    JVM-side on the raw outputs."""
    from conte_to_fresco_etl_spark.operators.dedup import _py_tokens
    from conte_to_fresco_etl_spark.parallelism import (
        DENSE_BYTES_PER_TASK,
        ensure_min_parallelism,
    )

    cols = _QUALITY_METRIC_COLS

    def metric_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {id_col: list(pdf[id_col])}
            out.update(_quality_metric_lists(pdf[text_col]))
            yield pd.DataFrame(out)

    id_type = dict(df.dtypes)[id_col]
    raw = ensure_min_parallelism(
        df.select(id_col, text_col), DENSE_BYTES_PER_TASK
    ).mapInPandas(
        metric_batches,
        schema=f"{id_col} {id_type}, "
        + ", ".join(f"{c} double" for c in cols),
    )
    return raw.select(
        F.col(id_col), *[F.round(F.col(c), 6).alias(c) for c in cols]
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms (corpus-wide statistic + per-doc ranking)
# ---------------------------------------------------------------------------

def top_tfidf_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_df: int = 2,
) -> DataFrame:
    """Per-document top-``k`` terms by TF-IDF: ``(cnt/doc_len) *
    ln(n_docs/df_count)``, rounded to 6 decimals before ranking; ties
    break by term ascending.  Terms in fewer than ``min_df`` docs are
    dropped (hapaxes carry no signal and dominate the vocabulary).

    Plan shape: map-side tokenize+explode → groupBy(doc, term) with
    map-side partial counts → window doc_len on the doc key → broadcast
    join against the pruned document-frequency table → one rank window.
    Corpus size enters as a literal (one count job at plan build).  At
    web scale the post-prune vocabulary can outgrow a broadcast — swap
    the DF join to a bucketed sort-merge on term; everything else holds.
    """
    from conte_to_fresco_etl_spark.functions.text import tokens

    toks = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    # docs-with-tokens count folded into the aggregate (no Filter node:
    # a size() filter above the tokenizing projection would be pushed
    # below it and run the tokenizer twice per row — r13); the tf
    # branch needs no filter at all, explode drops empty arrays
    n_docs = toks.agg(
        F.sum((F.size("__toks") > 0).cast("long")).alias("n")
    ).collect()[0]["n"] or 0
    tf = (
        toks.select(F.col(id_col), explode_nonempty("__toks").alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("__cnt"))
    )
    doc_w = Window.partitionBy(id_col)
    tf = tf.withColumn("__doc_len", F.sum("__cnt").over(doc_w))
    dfc = (
        tf.groupBy("term")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") >= min_df)
    )
    scored = tf.join(F.broadcast(dfc), "term").select(
        F.col(id_col),
        "term",
        F.round(
            (F.col("__cnt").cast("double") / F.col("__doc_len"))
            * F.log(F.lit(float(n_docs)) / F.col("__df")),
            6,
        ).alias("tfidf"),
    )
    rank_w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(rank_w).cast("long"))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# Unigram LM scoring (perplexity-proxy quality filter)
# ---------------------------------------------------------------------------

def unigram_nll(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document mean negative log-probability under the corpus's
    own unigram LM — the cheap stand-in for the perplexity filters
    (CCNet-style) that real pipelines run with a KenLM model.  High
    ``nll`` = tokens rare in the corpus = likely noise; low = boilerplate.

    Returns (id, n_tokens, nll), nll rounded to 6.

    Cross-engine exactness: a sum of doubles is order-dependent, so the
    per-term contribution ``-ln(count/total)`` is rounded to 9 decimals
    and cast to DECIMAL before the per-doc sum — decimal addition is
    exact integer math, independent of aggregation order in any engine.

    Plan shape: one (doc, term) count shuffle feeding both the
    vocabulary agg and the final join via ReusedExchange — Catalyst
    dedupes the identical shuffle subplan, so tf materializes once
    WITHOUT a persist (an explicit persist() here measured ~0.8s of
    pure cache-write overhead on top of the reused exchange at sf0.1:
    the cache only re-buys what exchange reuse already provides), a
    term-keyed vocabulary agg, a broadcast vocab join, one final
    groupBy(doc).  The corpus total enters as a 1-row broadcast.  At
    web scale swap the vocab broadcast for a bucketed join on term;
    everything else holds.
    """
    from conte_to_fresco_etl_spark.functions.text import tokens
    from conte_to_fresco_etl_spark.parallelism import (
        DENSE_BYTES_PER_TASK,
        ensure_min_parallelism,
    )

    # NO size()>0 pre-filter: explode drops empty arrays already, and a
    # Filter above the tokenizing projection gets pushed BELOW it,
    # inlining tokens() into a per-row scan predicate — the whole
    # tokenization then runs TWICE per row (Filter and Project are
    # separate codegen operators; subexpression elimination does not
    # cross them).  Same r13 finding as classification_metrics.
    toks = ensure_min_parallelism(
        df.select(F.col(id_col), F.col(text_col)), DENSE_BYTES_PER_TASK
    ).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    tf = (
        toks.select(F.col(id_col), explode_nonempty("__toks").alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("__cnt"))
    )
    vocab = tf.groupBy("term").agg(F.sum("__cnt").alias("__vc"))
    # corpus total as a 1-row broadcast cross join, NOT a collect: the
    # scalar stays inside the plan, so nothing touches the driver and
    # the persisted tf is read once per consuming branch only
    n_total = vocab.agg(F.sum("__vc").alias("__n_total"))
    term_nll = vocab.crossJoin(F.broadcast(n_total)).select(
        "term",
        F.round(
            -F.log(
                F.col("__vc").cast("double")
                / F.col("__n_total").cast("double")
            ),
            9,
        )
        .cast("decimal(18,9)")
        .alias("__nlp"),
    )
    return (
        tf.join(F.broadcast(term_nll), "term")
        .groupBy(id_col)
        .agg(
            F.sum("__cnt").cast("long").alias("n_tokens"),
            F.round(
                F.sum(
                    F.col("__cnt").cast("decimal(10,0)") * F.col("__nlp")
                ).cast("double")
                / F.sum("__cnt").cast("double"),
                6,
            ).alias("nll"),
        )
    )


# ---------------------------------------------------------------------------
# Token-length distribution stats (data-mixture reporting)
# ---------------------------------------------------------------------------

def token_length_stats(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    percentiles: tuple[float, ...] = (0.5, 0.9, 0.99),
    exact: bool = True,
) -> DataFrame:
    """Per-group distribution of document token counts — the mixture
    report (docs, tokens, min/mean/max, p50/p90/p99) that drives
    sampling-weight decisions.

    ``exact=True`` uses ``percentile`` (true linear-interpolated
    quantiles — the oracle-checkable form).  Spark computes exact
    percentiles by buffering each group's values (ObjectHashAggregate),
    which is fine for dimension-sized groups like language but NOT for
    a 100 TB ungrouped call — pass ``exact=False`` there to use
    ``approx_percentile`` (t-digest, bounded memory, documented ±
    accuracy=10000 rank error) with identical output shape.
    """
    from conte_to_fresco_etl_spark.functions.text import tokens

    n = F.size(tokens(F.col(text_col))).cast("long")
    base = df.select(F.col(group_col), n.alias("__n"))
    fn = F.percentile if exact else (
        lambda c, p: F.approx_percentile(c, p, 10000)
    )
    pct = [
        F.round(fn(F.col("__n"), F.lit(p)).cast("double"), 6).alias(
            f"p{int(p * 100)}"
        )
        for p in percentiles
    ]
    return base.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.sum("__n").cast("long").alias("n_tokens"),
        F.min("__n").alias("min_tokens"),
        F.round(
            F.sum("__n").cast("double") / F.count("*").cast("double"), 6
        ).alias("mean_tokens"),
        F.max("__n").alias("max_tokens"),
        *pct,
    )


# ---------------------------------------------------------------------------
# Sequence packing (training-batch assembly)
# ---------------------------------------------------------------------------

def pack_sequences(
    df: DataFrame,
    budget: int,
    n_shards: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy sequence packing: assign documents to hash shards
    (``id % n_shards``), then within each shard — in id order — pack
    docs into training sequences of at most ``budget`` tokens.  A doc
    that would overflow the open sequence starts the next one; an
    oversize doc (> budget tokens) gets a sequence to itself.  This is
    the batch-assembly step before writing packed training shards.

    Returns (id, shard, seq_id, n_tokens, tok_offset): seq_id numbers
    sequences within the shard from 0, tok_offset is the doc's start
    position inside its sequence.

    Packing is inherently sequential IN A SHARD (each placement depends
    on the running fill), so the shard is the parallel unit: one
    shuffle keys docs by shard, and each shard packs independently in
    one ``applyInPandas`` group — the standard layout at scale, where
    ``n_shards`` is sized to executor memory and output-file count.
    Determinism: shard hash + id order make the layout a pure function
    of the table, partitioning-invariant.
    """
    from conte_to_fresco_etl_spark.functions.text import tokens

    base = df.select(
        F.col(id_col),
        F.pmod(F.col(id_col), F.lit(n_shards)).cast("long").alias("shard"),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        seq_ids, offsets = [], []
        seq, fill = 0, 0
        for i, t in enumerate(pdf["n_tokens"]):
            if i > 0 and fill + t > budget:
                seq += 1
                fill = 0
            seq_ids.append(seq)
            offsets.append(fill)
            fill += t
        pdf["seq_id"] = pd.Series(seq_ids, dtype="int64")
        pdf["tok_offset"] = pd.Series(offsets, dtype="int64")
        return pdf

    return base.groupBy("shard").applyInPandas(
        pack,
        schema=(
            f"{id_col} long, shard long, n_tokens long, "
            "seq_id long, tok_offset long"
        ),
    ).select(id_col, "shard", "seq_id", "n_tokens", "tok_offset")


# ---------------------------------------------------------------------------
# Bigram merge statistics (BPE step-0)
# ---------------------------------------------------------------------------

def top_bigrams(
    df: DataFrame, text_col: str = "text", k: int = 20
) -> DataFrame:
    """Top-``k`` adjacent token pairs by corpus occurrence count (ties:
    bigram ascending) — the merge-candidate table a BPE trainer ranks
    each round.  Returns (bigram, n, rank).

    Plan shape: map-side bigram emission (Arrow batches — a
    ``transform``/``sequence`` expression computes the same array but
    Catalyst interprets higher-order lambdas per element, measured ~10x
    slower; the Python twin tokenizes with the exact ``tokens()`` edge
    semantics), one partial-agg count shuffle, and a distributed
    ``orderBy + limit`` top-k (TakeOrdered — only ``k`` rows reach the
    driver-side stage); the rank window runs on those k rows only."""

    def bigram_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from conte_to_fresco_etl_spark.operators.dedup import _py_tokens

        for pdf in it:
            out: list[str] = []
            for t in pdf[text_col]:
                toks = _py_tokens(t)
                out.extend(
                    toks[i] + " " + toks[i + 1]
                    for i in range(len(toks) - 1)
                )
            yield pd.DataFrame({"bigram": out})

    counts = (
        df.select(text_col)
        .mapInPandas(bigram_batches, schema="bigram string")
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("n").desc(), F.col("bigram").asc())
    return counts.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).select("bigram", F.col("n").cast("long").alias("n"), "rank")


def _java_quote(tok: str) -> str:
    """Java ``Pattern.quote``: wrap in \\Q...\\E with embedded \\E split
    out.  ONE definition — the trainer (induce_bpe_merges), the applier
    (apply_bpe_merges), and their gates all depend on identical quoting."""
    return "\\Q" + tok.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def _fuse_pattern(pa: str, pb: str) -> str:
    """Anchored pattern whose resume-after-match scan implements greedy
    left-to-right non-overlapping pair fusion on a space-joined token
    string (property-tested against the Python fold twin)."""
    return "(?<=^|\\s)" + _java_quote(pa) + " " + _java_quote(pb) + "(?=\\s|$)"


def _fuse_replacement(pa: str, pb: str, joiner: str) -> str:
    """Replacement text for the fuse (escapes Java's replacement
    metacharacters)."""
    return (pa + joiner + pb).replace("\\", "\\\\").replace("$", "\\$")


def induce_bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    joiner: str = "_",
) -> DataFrame:
    """Iterative BPE-style merge induction at the word-token level: the
    loop ``top_bigrams`` is step 0 of.  Each round counts adjacent
    token pairs across the corpus, takes the most frequent (ties:
    bigram ascending), fuses every left-to-right non-overlapping
    occurrence into a single ``pa<joiner>pb`` token, and re-counts on
    the re-tokenized corpus — so round N's counts see round N-1's
    merges, which a one-shot bigram table cannot.

    Returns (merge_round, bigram, n): the ordered merge table a
    tokenizer trainer ships.  Stops early if no pair remains.

    Plan shape per round, driver loop like ``connected_components``:
    one zip_with(slice, slice) pair emission + count shuffle, a
    distributed ``orderBy + limit(1)`` (TakeOrdered — ONE row reaches
    the driver, the round's merge decision, same bounded-scalar pattern
    as CC's convergence check), then the fuse applied wholly in the JVM
    as join-tokens → lookaround-anchored ``regexp_replace`` → re-split
    (the regex engine's resume-after-match scan IS greedy left-to-right
    non-overlapping pairing — property-tested against the Python fold
    twin; measured ~2.3x over a higher-order ``aggregate`` fold, whose
    lambda Catalyst interprets per token).  Round state is
    ``localCheckpoint``ed: it re-materializes the tokenized corpus,
    which both truncates per-round plan nesting and makes round N scan
    tokens, not re-derive N-1 merges from raw text.  At 100 TB the same
    loop holds with round state staged to parquet instead of executor
    blocks; the classic trainer optimization (count once, incrementally
    patch pair counts around merge sites) is a documented upgrade, not
    needed for the merge-table sizes LMs use."""
    spark = df.sparkSession
    # fan out ONCE before the loop: a single-file scan materializes the
    # checkpointed state on one partition, and every subsequent round
    # would run on one core (measured 21s -> 5s at sf0.1 on local[32]);
    # the narrow per-round selects preserve this partitioning so no
    # round reshuffles
    state = (
        df.select(tokens(F.col(text_col)).alias("toks"))
        .filter(F.size("toks") >= 2)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
    )
    bigrams = F.zip_with(
        F.slice("toks", 1, F.size("toks") - 1),
        F.slice("toks", 2, F.size("toks") - 1),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    merges: list[tuple[int, str, int]] = []
    # r13: round state checkpoints LAZILY — round N's fuse pipelines
    # into round N+1's count job (one corpus pass per round instead of
    # a separate eager-materialization pass + a count pass), and the
    # LAST round skips its fuse entirely (the old eager final state was
    # materialized and immediately freed — a dead corpus pass).  Counts
    # and the fuse regex are unchanged, so the merge table is
    # bit-identical.  free_blocks only ever runs on MATERIALIZED
    # checkpoints: state[N-1] is freed after the round-N count job
    # (which computed and stored state[N] FROM it) has finished.
    to_free = None
    for rnd in range(n_merges):
        top = (
            state.select(F.explode(bigrams).alias("bigram"))
            .groupBy("bigram")
            .agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), F.col("bigram").asc())
            .limit(1)
            .collect()
        )
        # the collect above materialized `state`; the corpus block it
        # was derived from (two rounds back) is now fully consumed
        if to_free is not None:
            free_blocks(to_free)
            to_free = None
        if not top:
            break
        pair, n = top[0][0], top[0][1]
        pa, pb = pair.split(" ", 1)
        merges.append((rnd, pair, int(n)))
        if rnd == n_merges - 1:
            break  # nothing re-counts: don't build a dead final state
        fused = F.split(
            F.regexp_replace(
                F.array_join("toks", " "),
                _fuse_pattern(pa, pb),
                _fuse_replacement(pa, pb, joiner),
            ),
            " ",
        )
        # re-filter: a fuse can shrink a doc below 2 tokens, which the
        # pair builder (slice of size-1) must never see
        to_free = state
        state = (
            state.select(fused.alias("toks"))
            .filter(F.size("toks") >= 2)
            .localCheckpoint(eager=False)
        )
    # the merge table is driver-local; the last counted state is dead
    # (materialized by its count job above, so free_blocks is safe)
    free_blocks(state)
    return spark.createDataFrame(
        # 1 slice: one Python-worker eval instead of 32 (r13)
        spark.sparkContext.parallelize(merges, 1),
        schema="merge_round long, bigram string, n long",
    )


def apply_bpe_merges(
    df: DataFrame,
    merges: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    joiner: str = "_",
) -> DataFrame:
    """Apply a trained merge table (ordered ``"pa pb"`` strings from
    ``induce_bpe_merges``) to a corpus — the tokenizer-application half
    of the BPE loop.  Each merge is the same greedy left-to-right fuse
    the trainer used (join tokens → anchored regexp_replace → re-split),
    composed in merge order into ONE map-side projection: n merges = n
    nested string rewrites inside a single codegen stage, zero shuffles
    at any corpus size.

    Returns (id, n_tokens_before, n_tokens_after, tokens) where
    ``tokens`` is the post-merge token array."""

    # NULL text must behave as an empty document (0 tokens), not leak
    # size(NULL) = -1/NULL rows into downstream count aggregates
    toks = F.coalesce(
        tokens(F.col(text_col)), F.array().cast("array<string>")
    )
    joined = F.array_join(toks, " ")
    for pair in merges:
        pa, pb = pair.split(" ", 1)
        joined = F.regexp_replace(
            joined, _fuse_pattern(pa, pb), _fuse_replacement(pa, pb, joiner)
        )
    out_toks = F.when(
        F.length(joined) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(joined, " "))
    return df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens_before"),
        F.size(out_toks).cast("long").alias("n_tokens_after"),
        out_toks.alias("tokens"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split each document into overlapping token windows — the
    context-window chunking step a training/RAG pipeline runs before
    embedding or packing: windows of ``max_tokens`` starting every
    ``max_tokens - overlap`` tokens, last window clamped to the end.
    Empty documents emit no chunks; every non-empty document emits at
    least one.

    Output: (id, chunk_id, chunk_text, chunk_n_tokens), chunk_id
    0-based in document order.

    Scale: map-side only — tokenize, compute the chunk count
    arithmetically, explode a 0..n_chunks-1 sequence, slice.  Fan-out
    per row is len/step, bounded by the document length that already
    bounds the scan; no shuffle at any size.
    """
    if overlap >= max_tokens:
        raise ValueError("overlap must be < max_tokens")
    step = max_tokens - overlap
    base = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.size("__toks") - F.lit(overlap)) / F.lit(step)),
    )
    chunk = F.slice(
        F.col("__toks"), F.col("chunk_id") * step + 1, max_tokens
    )
    return (
        base.select(
            F.col(id_col),
            F.col("__toks"),
            # zero-token docs emit NULL (not a 1-chunk sequence), which
            # explode drops — the former size()>0 Filter above the
            # tokenizing projection was pushed below it and ran the
            # tokenizer twice per row (r13)
            F.explode(
                F.when(
                    F.size("__toks") > 0,
                    F.sequence(F.lit(0), n_chunks - 1),
                )
            ).alias("chunk_id"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).cast("long").alias("chunk_n_tokens"),
        )
    )


def boilerplate_ngram_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_n: int = 3,
    min_doc_count: int | None = None,
    min_doc_frac: float = 0.04,
) -> DataFrame:
    """Corpus-boilerplate contamination per document: the fraction of a
    doc's distinct word-``ngram_n``-grams that are *corpus-frequent*
    (appear in ≥ ``min_doc_count`` docs, default ``min_doc_frac`` of the
    corpus) — the signal behind C4/RefinedWeb-style boilerplate pruning,
    where navigation chrome, cookie banners and license footers repeat
    across a large share of pages.

    Output: (id, n_grams, n_boiler, boiler_frac); docs shorter than
    ``ngram_n`` tokens carry zero grams and a 0.0 fraction.

    Scale shape: one posting explode (distinct grams per doc — Arrow
    batch, shared with decontaminate), ONE shuffle on the gram to count
    document frequency, then the frequent-gram set — tiny by
    construction (only grams crossing the corpus-share cutoff survive)
    — BROADCASTS back against the postings, and one groupBy(id) counts
    total and boilerplate grams in a single aggregation.  The corpus
    never reshuffles on anything wider than (id, gram)."""
    from conte_to_fresco_etl_spark.operators.dedup import (
        _gram_posting_batches,
    )
    from conte_to_fresco_etl_spark.parallelism import (
        DENSE_BYTES_PER_TASK,
        ensure_min_parallelism,
    )

    fn = _gram_posting_batches([id_col], text_col, ngram_n)
    schema = f"{id_col} long, __g string"
    # persist: the Arrow posting pass feeds both the doc-frequency
    # aggregate and the counted join — without the cache it runs twice
    # (the decontaminate_bloom two-branch shape).
    postings = (
        ensure_min_parallelism(
            df.select(id_col, text_col), DENSE_BYTES_PER_TASK
        )
        .mapInPandas(fn, schema=schema)
        .persist()
    )
    if min_doc_count is None:
        # Scalar corpus size: a count job, same posture as
        # temperature_sample's dimension-sized collect.
        min_doc_count = max(2, int(df.count() * min_doc_frac))
    frequent = (
        postings.groupBy("__g")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") >= min_doc_count)
        .select("__g")
        .withColumn("__boiler", F.lit(1))
    )
    counted = (
        postings.join(F.broadcast(frequent), "__g", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.count("__boiler").alias("n_boiler"),
        )
    )
    return (
        df.select(id_col)
        .join(counted, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_boiler", F.lit(0)).cast("long").alias("n_boiler"),
        )
        .withColumn(
            "boiler_frac",
            F.when(F.col("n_grams") == 0, F.lit(0.0)).otherwise(
                F.col("n_boiler") / F.col("n_grams")
            ),
        )
    )


def bigram_nll(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-document mean negative log-probability under the corpus's
    own add-α-smoothed bigram LM: ``-mean log (c(prev,w) + α) /
    (c(prev·) + α·V)`` — the next step up from ``unigram_nll`` toward
    the KenLM-style perplexity filters real pipelines run.  High nll =
    improbable token transitions = likely noise/garble even when every
    individual token is common.

    Returns (id, n_bigrams, nll), nll rounded to 6; docs with < 2
    tokens emit nothing.

    Cross-engine exactness: the continuation denominator c(prev·) and
    vocabulary size V derive from the bigram table itself (one source
    of truth), each distinct bigram's contribution is rounded to 9
    decimals and summed as DECIMAL — order-independent in any engine.

    Plan shape: one (doc, bigram) count shuffle (persisted: feeds the
    corpus aggregate and the final join), a bigram-keyed corpus agg, a
    prefix agg derived FROM that agg (no second corpus pass), broadcast
    joins of the two small sides, one final groupBy(doc).  At web scale
    swap the broadcasts for bucketed joins on the bigram.
    """
    from conte_to_fresco_etl_spark.functions.text import tokens
    from conte_to_fresco_etl_spark.parallelism import (
        DENSE_BYTES_PER_TASK,
        ensure_min_parallelism,
    )

    toks = tokens(F.col(text_col))
    base = ensure_min_parallelism(
        df.select(F.col(id_col), F.col(text_col)), DENSE_BYTES_PER_TASK
    ).select(F.col(id_col), toks.alias("__toks"))
    # no size filter: a Filter above the tokenizing projection is
    # pushed below it (and below the fan-out exchange) and tokenizes
    # twice per row (r13); the >= 2 guard lives inside the pair
    # expression instead
    tf = (
        base.select(
            F.col(id_col),
            # zip_with over two slices, not transform + element_at over
            # an index sequence: Catalyst interprets higher-order
            # lambdas per element either way, but the zip form touches
            # each array once instead of probing element_at twice per
            # index (measured ~2x on the identical pair build in
            # induce_bpe_merges)
            F.explode(
                F.when(
                    F.size("__toks") >= 2,
                    F.zip_with(
                        F.slice("__toks", 1, F.size("__toks") - 1),
                        F.slice("__toks", 2, F.size("__toks") - 1),
                        lambda x, y: F.concat(x, F.lit(" "), y),
                    ),
                )
            ).alias("bigram"),
        )
        .groupBy(id_col, "bigram")
        .agg(F.count("*").alias("__cnt"))
        .persist()
    )
    # r13: bc feeds three consumers (pc, V, the term join) — share one
    # materialization instead of re-aggregating the persisted tf per
    # consumer (batch-1 multi-consumer convention)
    bc = (
        tf.groupBy("bigram")
        .agg(F.sum("__cnt").alias("__bc"))
        .localCheckpoint(eager=False)
    )
    prev = F.split(F.col("bigram"), " ", 2).getItem(0)
    pc = bc.groupBy(prev.alias("__prev")).agg(
        F.sum("__bc").alias("__pc")
    )
    v = bc.select(
        F.split(F.col("bigram"), " ", 2).getItem(1).alias("__cur")
    ).agg(F.countDistinct("__cur").alias("__v"))
    term = (
        bc.join(F.broadcast(pc), prev == F.col("__prev"))
        .crossJoin(F.broadcast(v))
        .select(
            "bigram",
            F.round(
                -F.log(
                    (F.col("__bc") + F.lit(alpha))
                    / (F.col("__pc") + F.lit(alpha) * F.col("__v"))
                ),
                9,
            )
            .cast("decimal(18,9)")
            .alias("__nlp"),
        )
    )
    return (
        tf.join(F.broadcast(term), "bigram")
        .groupBy(id_col)
        .agg(
            F.sum("__cnt").cast("long").alias("n_bigrams"),
            F.round(
                F.sum(F.col("__cnt").cast("decimal(10,0)") * F.col("__nlp"))
                .cast("double")
                / F.sum("__cnt").cast("double"),
                6,
            ).alias("nll"),
        )
    )


def compression_ratio(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression ratio — the entropy-style quality
    signal (RefinedWeb/Dolma family): machine-generated or highly
    repetitive text compresses far below ~0.4, encrypted/binary junk
    sits near 1.0, natural prose lands in between.  Used as a cheap
    pre-filter before any model-based scoring.

    Output: (id, n_bytes, n_compressed, ratio); empty/null text gets
    ratio 1.0 (nothing to judge).

    Scale: map-side only (Arrow batches; zlib releases the GIL so the
    32 local cores actually parallelize); no shuffle.  Determinism
    caveat: compressed SIZE is a pure function of (bytes, level) for a
    given zlib build — stable within a deployment, not a cross-library
    contract, so the gate oracle pins literals computed by the same
    interpreter rather than re-deriving in SQL."""
    import zlib

    from conte_to_fresco_etl_spark.parallelism import (
        DENSE_BYTES_PER_TASK,
        ensure_min_parallelism,
    )

    def ratio_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, nb, nc, rat = [], [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                raw = (t or "").encode("utf-8")
                comp = len(zlib.compress(raw, level)) if raw else 0
                ids.append(i)
                nb.append(len(raw))
                nc.append(comp)
                rat.append(comp / len(raw) if raw else 1.0)
            yield pd.DataFrame(
                {id_col: ids, "n_bytes": nb, "n_compressed": nc, "ratio": rat}
            )

    id_type = dict(df.dtypes)[id_col]
    return ensure_min_parallelism(
        df.select(id_col, text_col), DENSE_BYTES_PER_TASK
    ).mapInPandas(
        ratio_batches,
        schema=f"{id_col} {id_type}, n_bytes long, n_compressed long, "
        "ratio double",
    )


def normalize_text(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Crawl-text canonicalization: Unicode NFC normalization (composes
    decomposed sequences so visually-identical strings hash equal —
    the step BEFORE any fingerprint/minhash dedup on multilingual
    crawl), then control characters (other than tab/newline) to
    spaces, whitespace runs collapsed, ends trimmed.

    Output: (id, norm_text, changed).  NFC is a Unicode-standard pure
    function, so Python ``unicodedata`` and any conformant SQL engine
    produce identical bytes — the oracle runs DuckDB's
    ``nfc_normalize`` against this implementation.

    Scale: map-side Arrow pass, no shuffle; the regex cleanup after
    NFC is the same codegen-able shape as the PII scrubber."""
    import unicodedata

    from conte_to_fresco_etl_spark.parallelism import (
        DENSE_BYTES_PER_TASK,
        ensure_min_parallelism,
    )

    def norm_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, out, chg = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                if t is None:
                    # one row per input row, like compression_ratio:
                    # NULL text normalizes to NULL, unchanged
                    ids.append(i)
                    out.append(None)
                    chg.append(False)
                    continue
                n = unicodedata.normalize("NFC", t)
                n = re.sub(r"[\x00-\x08\x0B-\x1F\x7F]", " ", n)
                # explicit ASCII whitespace class: Python's unicode \s
                # is wider than RE2's, and the oracle runs under RE2
                n = re.sub(r"[ \t\n\f\r]+", " ", n).strip(" \t\n\f\r")
                ids.append(i)
                out.append(n)
                chg.append(n != t)
            yield pd.DataFrame(
                {id_col: ids, "norm_text": out, "changed": chg}
            )

    id_type = dict(df.dtypes)[id_col]
    return ensure_min_parallelism(
        df.select(id_col, text_col), DENSE_BYTES_PER_TASK
    ).mapInPandas(
        norm_batches,
        schema=f"{id_col} {id_type}, norm_text string, changed boolean",
    )


#: Fixed logistic-scorer weights over the quality metrics — the shape a
#: trained fastText/logistic quality model plugs into (coefficients
#: become data, the plan is identical).  Hand-set to favor alphabetic
#: prose and penalize repetition.
CLASSIFIER_WEIGHTS: dict[str, float] = {
    "dup_line_frac": -4.0,
    "dup_2gram_frac": -6.0,
    "mean_word_len": 0.15,
    "symbol_word_ratio": -2.0,
    "bullet_line_frac": -1.5,
    "ellipsis_line_frac": -1.5,
    "alpha_word_frac": 3.0,
}
CLASSIFIER_BIAS: float = -1.0


def quality_classifier(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    weights: dict[str, float] | None = None,
    bias: float = CLASSIFIER_BIAS,
    threshold: float = 0.5,
) -> DataFrame:
    """Model-based quality scoring: a logistic scorer over the Gopher
    metric vector — ``score = sigmoid(bias + w . x)`` — with the
    keep/drop verdict at ``threshold``.  This is the plan shape a
    TRAINED quality classifier (fastText, logistic regression over the
    same features) runs at 100 TB: coefficients broadcast as literals,
    scoring is one map-side codegen projection over the already-
    computed metric columns; swapping in learned weights changes data,
    not the plan.

    Output: (id, metrics..., score, keep); score rounded to 6 BEFORE
    thresholding so the verdict is reproducible cross-engine."""
    weights = weights or CLASSIFIER_WEIGHTS
    m = quality_filters(df, id_col, text_col).drop("keep")
    z = F.lit(float(bias))
    for colname, w in sorted(weights.items()):
        z = z + F.lit(float(w)) * F.col(colname)
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return m.withColumn("score", score).withColumn(
        "keep", F.col("score") >= threshold
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 keyword retrieval: top-k documents for a bag-of-terms query.

    Uses the BM25+ style idf ``ln((N - df + 0.5) / (df + 0.5) + 1)``
    (always positive, so stopword-heavy queries cannot produce negative
    scores) with the standard tf saturation / length normalization.
    Per-term contributions are ROUND(x, 6)-pinned then summed as
    DECIMAL(18,6), so the document score is order-independent and
    reproducible cross-engine; ranking breaks ties on the id.

    Scale posture: the query-term filter hits the exploded token stream
    BEFORE the (doc, term) shuffle, so only postings for query terms
    shuffle — the classic inverted-index probe.  The document length
    rides the posting rows through the explode (exploding an array
    keeps sibling columns), so there is NO corpus-sized dl join; the
    (N, avgdl) corpus stats are the only second tokenize pass (a 1-row
    aggregate), and df broadcasts back (|terms| rows).  The final rank
    is a TakeOrdered(k).  Nothing corpus-sized crosses the driver.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    # the docs-with-tokens predicate lives INSIDE the stats aggregate
    # (a Filter above the tokenizing projection is pushed below it and
    # tokenizes twice per row — r13); the tf branch needs no filter,
    # explode drops empty arrays
    toks = df.select(
        F.col(id_col), tokens(text_col).alias("__toks")
    )
    stats = toks.agg(
        F.sum((F.size("__toks") > 0).cast("double")).alias("__n_docs"),
        # greatest(size, 0): config-independent — size(NULL) is NULL
        # under ANSI (sum skips it) but -1 under legacy sizeOfNull
        # (would silently subtract 1 per NULL-text row); greatest maps
        # both to a sum-neutral 0, so the total equals the old
        # size()>0-prefiltered form under EITHER setting (ADVICE r13)
        F.sum(
            F.greatest(F.size("__toks"), F.lit(0)).cast("double")
        ).alias("__sum_dl"),
    )
    tf = (
        toks.select(
            F.col(id_col),
            F.size("__toks").cast("double").alias("__dl"),
            explode_nonempty("__toks").alias("term"),
        )
        .filter(F.col("term").isin(list(query_terms)))
        .groupBy(id_col, "term")
        .agg(
            F.count("*").cast("double").alias("__tf"),
            F.first("__dl").alias("__dl"),  # constant within the group
        )
    )
    dfreq = tf.groupBy("term").agg(
        F.count("*").cast("double").alias("__df")
    )
    idf = F.log(
        (F.col("__n_docs") - F.col("__df") + F.lit(0.5))
        / (F.col("__df") + F.lit(0.5))
        + F.lit(1.0)
    )
    denom = F.col("__tf") + F.lit(float(k1)) * (
        F.lit(1.0 - b) + F.lit(float(b)) * F.col("__dl") / (F.col("__sum_dl") / F.col("__n_docs"))
    )
    contrib = F.round(
        idf * F.col("__tf") * F.lit(float(k1) + 1.0) / denom, 6
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(stats))
        .select(F.col(id_col), contrib.cast("decimal(18,6)").alias("__c"))
        .groupBy(id_col)
        .agg(F.sum("__c").cast("double").alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col(id_col).asc())
        .limit(k)
    )


def token_pmi(
    df: DataFrame,
    min_df: int = 10,
    min_pair: int = 5,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k collocations by document-level pointwise mutual
    information: for token types a, b the score is
    ``ln(n_ab * N / (n_a * n_b))`` over DISTINCT-per-document
    occurrences — the association signal phrase mining and
    tokenizer-vocabulary curation read off a corpus.

    Output: ``(t1, t2, n_pair, pmi)`` with t1 < t2, ranked by
    (pmi desc, t1, t2); only terms in ≥ ``min_df`` docs and pairs in
    ≥ ``min_pair`` docs participate (rare-pair PMI is noise and the
    filters are the scale knobs).

    Scale posture: the vocabulary prune happens BEFORE pair
    generation — postings semi-join the (broadcast, |vocab|-row)
    eligible-term table, so the per-document self-join costs
    Σ |doc ∩ vocab|², not Σ |doc|².  Counts are exact longs; the PMI
    double is the identical expression tree in both engines, ROUND(6)
    pinned before ranking."""
    toks = df.select(
        F.col(id_col).alias("__doc"),
        F.explode(tokens(text_col)).alias("term"),
    ).distinct()
    dfreq = toks.groupBy("term").agg(F.count("*").alias("n_t"))
    vocab = dfreq.filter(F.col("n_t") >= min_df)
    posts = toks.join(F.broadcast(vocab.select("term")), "term", "left_semi")
    n_docs = df.select(F.col(id_col)).agg(
        F.count("*").cast("double").alias("__n")
    )
    a = posts.select("__doc", F.col("term").alias("t1"))
    b = posts.select("__doc", F.col("term").alias("t2"))
    pairs = (
        a.join(b, "__doc")
        .filter(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= min_pair)
    )
    na = vocab.select(F.col("term").alias("t1"), F.col("n_t").alias("n_a"))
    nb = vocab.select(F.col("term").alias("t2"), F.col("n_t").alias("n_b"))
    pmi = F.round(
        F.log(
            F.col("n_pair").cast("double")
            * F.col("__n")
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        ),
        6,
    )
    return (
        pairs.join(F.broadcast(na), "t1")
        .join(F.broadcast(nb), "t2")
        .join(F.broadcast(n_docs))
        .select("t1", "t2", "n_pair", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), F.col("t1").asc(), F.col("t2").asc())
        .limit(k)
    )


def token_entropy(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group lexical diversity: unigram Shannon entropy (nats),
    type and token counts, and type-token ratio — the diversity screen
    that catches template farms and model-generated spam (low entropy,
    low TTR) before they enter a training mix.

    Output: ``(group, n_tokens, n_types, ttr, entropy)``.

    Determinism: entropy is ``-Σ p·ln(p)`` over doubles, which is
    order-DEPENDENT if summed naively — contributions are ROUND(12)
    pinned and summed as DECIMAL(28,12) (the pagerank discipline), so
    the result is exact under any partitioning and engine.

    Scale posture: one (group, term) count shuffle with map-side
    partials, then a |vocab|-row second aggregate; group totals ride a
    broadcast join.  Nothing corpus-sized moves twice."""
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(tokens(text_col)).alias("term"),
    )
    counts = toks.groupBy("grp", "term").agg(F.count("*").alias("n"))
    totals = counts.groupBy("grp").agg(
        F.sum("n").alias("n_tokens"), F.count("*").alias("n_types")
    )
    p = F.col("n").cast("double") / F.col("n_tokens").cast("double")
    contrib = F.round(p * F.log(p), 12).cast("decimal(28,12)")
    return (
        counts.join(F.broadcast(totals), "grp")
        .groupBy("grp", "n_tokens", "n_types")
        .agg((-F.sum(contrib).cast("double")).alias("entropy"))
        .select(
            F.col("grp").alias(group_col),
            "n_tokens",
            "n_types",
            F.round(
                F.col("n_types").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("ttr"),
            F.round("entropy", 6).alias("entropy"),
        )
    )


def oov_rate(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_col: str = "term",
) -> DataFrame:
    """Per-document out-of-vocabulary rate against a vocabulary table —
    the coverage check run before committing to a tokenizer: a corpus
    slice with high OOV under the candidate vocab will fragment into
    byte-fallback pieces and blow up sequence lengths.

    Output: ``(id, n_tokens, n_oov, oov_rate)`` for documents with ≥ 1
    token; ``oov_rate`` ROUND(6).

    Scale posture: the corpus explodes once to (doc, token) rows and
    LEFT-ANTI-joins the vocabulary — vocabularies are ≤ a few hundred
    thousand rows, so the anti join broadcasts and the whole check is
    map-side after one explode; nothing re-shuffles on the doc until
    the final (doc) count, which partial-aggregates."""
    toks = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("__tok")
    )
    v = vocab.select(F.col(vocab_col).alias("__tok")).distinct()
    oov = (
        toks.join(F.broadcast(v), "__tok", "left_anti")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_oov"))
    )
    totals = toks.groupBy(id_col).agg(F.count("*").alias("n_tokens"))
    return (
        totals.join(oov, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce(F.col("n_oov"), F.lit(0)).alias("n_oov"),
            F.round(
                F.coalesce(F.col("n_oov"), F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("oov_rate"),
        )
    )


def dsir_logweights(
    df: DataFrame,
    is_target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling"): score every document by how much more likely its
    tokens are under a TARGET-domain unigram LM than under the source
    (full-corpus) LM —

        log w(x) = Σ_tokens  ln p_target(tok) − ln p_source(tok)

    with add-1 smoothing over the shared vocabulary so target-unseen
    tokens stay finite.  Sampling ∝ w(x) then tilts the corpus toward
    the target domain; the log weight is returned unexponentiated
    (ranking and Gumbel-style sampling both work in log space).

    ``is_target`` is any boolean Column over ``df``'s rows (e.g.
    ``F.col("lang") == "en"``) — the in-corpus proxy corpus that
    defines the target distribution.

    Returns (id, n_tokens, log_weight), log_weight ROUND(6).

    Cross-engine exactness: per-term ``ln pt − ln ps`` is rounded to 9
    decimals and summed as DECIMAL weighted by integer term counts —
    aggregation-order independent (the ``unigram_nll`` discipline).

    Plan shape: one (doc, term) count shuffle staged once and read by
    both the vocabulary agg and the final join; BOTH LMs come out of
    the SAME vocabulary pass (a conditional sum per term), so the
    second model is free; totals enter as a 1-row broadcast.  At web
    scale swap the vocab broadcast join for a bucketed join on term.
    """
    from conte_to_fresco_etl_spark.functions.text import tokens
    from conte_to_fresco_etl_spark.parallelism import (
        DENSE_BYTES_PER_TASK,
        ensure_min_parallelism,
    )

    toks = (
        ensure_min_parallelism(
            df.select(
                F.col(id_col), is_target.alias("__is_t"), F.col(text_col)
            ),
            DENSE_BYTES_PER_TASK,
        )
        .select(
            F.col(id_col), "__is_t", tokens(F.col(text_col)).alias("__toks")
        )
        # no size filter: explode drops empty arrays, and a Filter here
        # would be pushed below the projection and tokenize twice (r13)
    )
    tf = (
        toks.select(F.col(id_col), "__is_t", explode_nonempty("__toks").alias("term"))
        .groupBy(id_col, "__is_t", "term")
        .agg(F.count("*").alias("__cnt"))
        .persist()
    )
    vocab = tf.groupBy("term").agg(
        F.sum("__cnt").alias("__vc_s"),
        F.sum(F.when(F.col("__is_t"), F.col("__cnt")).otherwise(0)).alias(
            "__vc_t"
        ),
    )
    totals = vocab.agg(
        F.sum("__vc_s").alias("__n_s"),
        F.sum("__vc_t").alias("__n_t"),
        F.count("*").alias("__v"),
    )
    pt = (F.col("__vc_t").cast("double") + F.lit(1.0)) / (
        F.col("__n_t").cast("double") + F.col("__v").cast("double")
    )
    ps = (F.col("__vc_s").cast("double") + F.lit(1.0)) / (
        F.col("__n_s").cast("double") + F.col("__v").cast("double")
    )
    term_d = vocab.crossJoin(F.broadcast(totals)).select(
        "term",
        F.round(F.log(pt) - F.log(ps), 9)
        .cast("decimal(18,9)")
        .alias("__d"),
    )
    return (
        tf.join(term_d, "term")
        .groupBy(id_col)
        .agg(
            F.sum("__cnt").cast("long").alias("n_tokens"),
            F.round(
                F.sum(
                    F.col("__cnt").cast("decimal(10,0)") * F.col("__d")
                ).cast("double"),
                6,
            ).alias("log_weight"),
        )
    )


def heldout_nll(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    train_frac: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """Held-out unigram LM scoring: fit the LM on a hash-stable TRAIN
    split and score only the VAL split — the methodologically-correct
    form of perplexity-based quality filtering (``unigram_nll`` scores
    the corpus under its own LM, which systematically under-scores
    duplicated text: a doc repeated 1000× drags its own tokens'
    probabilities up.  A held-out model cannot be gamed by the scored
    document's own mass).

    Splits come from :func:`validation.assign_splits` (md5 of the id),
    so membership is reproducible across engines and stable under
    corpus growth.  Add-1 smoothing over the train vocabulary keeps
    val-only (OOV) tokens finite — they score ln(1/(n_train+V)).

    Returns (id, n_tokens, heldout_nll) for VAL documents only,
    nll ROUND(6), per-term contributions ROUND(9)→DECIMAL summed
    (aggregation-order independent).

    Plan shape: one (doc, term) count shuffle (persisted — both the
    train vocabulary agg and the val scoring read it), a broadcast
    vocab join, 1-row broadcast totals, one final groupBy(doc)."""
    from conte_to_fresco_etl_spark.functions.text import tokens
    from conte_to_fresco_etl_spark.parallelism import (
        DENSE_BYTES_PER_TASK,
        ensure_min_parallelism,
    )
    from conte_to_fresco_etl_spark.validation import assign_splits

    sp = assign_splits(
        df.select(F.col(id_col), F.col(text_col)),
        key_col=id_col,
        weights={"train": train_frac, "val": 1.0 - train_frac},
        seed=seed,
    )
    toks = (
        ensure_min_parallelism(sp, DENSE_BYTES_PER_TASK)
        .select(
            F.col(id_col), "split", tokens(F.col(text_col)).alias("__toks")
        )
        # no size filter: explode drops empty arrays, and a Filter here
        # would be pushed below the projection and tokenize twice (r13)
    )
    tf = (
        toks.select(F.col(id_col), "split", explode_nonempty("__toks").alias("term"))
        .groupBy(id_col, "split", "term")
        .agg(F.count("*").alias("__cnt"))
        .persist()
    )
    # r13: vocab feeds two consumers (the totals scalar and the scoring
    # join) — share one materialization instead of re-aggregating the
    # persisted tf per consumer (batch-1 multi-consumer convention)
    vocab = (
        tf.filter(F.col("split") == "train")
        .groupBy("term")
        .agg(F.sum("__cnt").alias("__vc"))
        .localCheckpoint(eager=False)
    )
    totals = vocab.agg(
        F.sum("__vc").alias("__n_train"), F.count("*").alias("__v")
    )
    p = (F.coalesce(F.col("__vc"), F.lit(0)).cast("double") + F.lit(1.0)) / (
        F.col("__n_train").cast("double") + F.col("__v").cast("double")
    )
    scored = (
        tf.filter(F.col("split") == "val")
        .join(vocab, "term", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            F.col("__cnt"),
            F.round(-F.log(p), 9).cast("decimal(18,9)").alias("__nlp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.sum("__cnt").cast("long").alias("n_tokens"),
        F.round(
            F.sum(F.col("__cnt").cast("decimal(10,0)") * F.col("__nlp"))
            .cast("double")
            / F.sum("__cnt").cast("double"),
            6,
        ).alias("heldout_nll"),
    )


def kneser_ney_nll(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
) -> DataFrame:
    """Per-document mean negative log-probability under an interpolated
    Kneser-Ney bigram LM trained on the corpus itself — the smoothing
    family KenLM-style quality filters actually use, next to the add-α
    baseline in ``bigram_nll``:

        P(w|prev) = (c(prev,w) - D) / c(prev·)
                    + D · N1+(prev·)/c(prev·) · N1+(·w)/T

    with D the absolute discount, N1+(prev·) the distinct-continuation
    count of ``prev``, N1+(·w) the distinct-history (continuation)
    count of ``w``, and T the total number of distinct bigram types.
    KN's insight: back off to how many CONTEXTS a word appears in, not
    how often — "Francisco" is frequent but predictable only after
    "San", and its continuation probability is correspondingly tiny.
    Scoring the training corpus means every scored bigram has
    c(prev,w) >= 1 > D, so the discounted term is always positive (the
    unseen-bigram branch never arises and is omitted).

    Returns (id, n_bigrams, nll) — nll rounded to 6; docs with < 2
    tokens emit nothing.  Contributions round to 9 decimals and sum in
    DECIMAL (order-independent, cross-engine exact).

    Plan shape — identical skeleton to ``bigram_nll``: one
    (doc, bigram) count shuffle (persisted), a bigram-keyed corpus agg,
    then EVERY KN statistic (c(prev·), N1+(prev·), N1+(·w), T) derives
    from that one agg — no second corpus pass — and joins back
    broadcast.  At web scale swap broadcasts for bucketed joins."""
    from conte_to_fresco_etl_spark.functions.text import tokens
    from conte_to_fresco_etl_spark.parallelism import (
        DENSE_BYTES_PER_TASK,
        ensure_min_parallelism,
    )

    toks = tokens(F.col(text_col))
    base = (
        ensure_min_parallelism(
            df.select(F.col(id_col), F.col(text_col)), DENSE_BYTES_PER_TASK
        )
        .select(F.col(id_col), toks.alias("__toks"))
        # no size filter: a Filter above the tokenizing projection is
        # pushed below it and tokenizes twice per row (r13); the >= 2
        # guard lives inside the pair expression instead (slice with a
        # negative length on a 0-token doc would error; NULL rows are
        # dropped by explode like the old filter dropped them)
    )
    tf = (
        base.select(
            F.col(id_col),
            F.explode(
                F.when(
                    F.size("__toks") >= 2,
                    F.zip_with(
                        F.slice("__toks", 1, F.size("__toks") - 1),
                        F.slice("__toks", 2, F.size("__toks") - 1),
                        lambda x, y: F.concat(x, F.lit(" "), y),
                    ),
                )
            ).alias("bigram"),
        )
        .groupBy(id_col, "bigram")
        .agg(F.count("*").alias("__cnt"))
        .persist()
    )
    # r13: bc feeds FOUR consumers (pc, cw, the T scalar, the term
    # join) — a lazy localCheckpoint shares one materialization instead
    # of re-aggregating the persisted tf per consumer (batch-1
    # multi-consumer convention), and T = Σ n1f derives from the
    # dimension-sized pc aggregate (count of distinct bigrams = sum of
    # per-prefix distinct-continuation counts — exact integer identity),
    # removing one full pass over bc.
    bc = (
        tf.groupBy("bigram")
        .agg(F.sum("__cnt").alias("__bc"))
        .localCheckpoint(eager=False)
    )
    prev = F.split(F.col("bigram"), " ", 2).getItem(0)
    cur = F.split(F.col("bigram"), " ", 2).getItem(1)
    pc = bc.groupBy(prev.alias("__prev")).agg(
        F.sum("__bc").alias("__pc"), F.count("*").alias("__n1f")
    )
    cw = bc.groupBy(cur.alias("__cur")).agg(F.count("*").alias("__n1b"))
    t_types = pc.agg(F.sum("__n1f").alias("__t"))
    d = F.lit(discount)
    bc_d = F.col("__bc").cast("double")
    pc_d = F.col("__pc").cast("double")
    n1f_d = F.col("__n1f").cast("double")
    n1b_d = F.col("__n1b").cast("double")
    t_d = F.col("__t").cast("double")
    p = (bc_d - d) / pc_d + (d * n1f_d / pc_d) * (n1b_d / t_d)
    term = (
        bc.join(F.broadcast(pc), prev == F.col("__prev"))
        .join(F.broadcast(cw), cur == F.col("__cur"))
        .crossJoin(F.broadcast(t_types))
        .select(
            "bigram",
            F.round(-F.log(p), 9).cast("decimal(18,9)").alias("__nlp"),
        )
    )
    return (
        tf.join(term, "bigram")
        .groupBy(id_col)
        .agg(
            F.sum("__cnt").cast("long").alias("n_bigrams"),
            F.round(
                (
                    F.sum(
                        F.col("__cnt").cast("decimal(10,0)")
                        * F.col("__nlp")
                    ).cast("double")
                )
                / F.sum("__cnt").cast("double"),
                6,
            ).alias("nll"),
        )
    )


def vocab_growth(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_size: int = 25,
) -> DataFrame:
    """Heaps-law vocabulary growth audit: cumulative distinct-vocabulary
    size V(n) against cumulative token count N(n) over the id-ordered
    corpus, plus the fitted Heaps exponent beta and coefficient K from
    the log-log least squares V ~ K * N^beta.  The curve a corpus
    curator reads to answer "is new data still adding new language, or
    are we re-crawling the same text?" — a flattening curve (beta well
    below the ~0.4-0.6 natural-text band) is the macro signal of
    saturation/duplication, complementing the per-document dedup
    operators.

    Each token's first appearance is ``min(doc_id)`` — ONE aggregation
    over the (doc, distinct token) explode, map-side combinable.  The
    corpus then collapses to ``ceil(n_docs / bucket_size)`` bucket
    rows; the cumulative sums ride ``parallelism.prefix_sums`` over
    that dimension-sized table (house discipline — no global window
    node at all) and the regression runs on the same rows.
    Regression moments are ROUND(12)/DECIMAL-summed —
    order-independent, hash-stable.

    Output per bucket: ``(bucket, docs_cum, tokens_cum, vocab_cum,
    heaps_beta, heaps_k)`` — beta/k are corpus-level constants repeated
    per row (1-row broadcast), ROUND(6)."""
    toks = df.select(
        F.col(id_col).alias("i"), tokens(F.col(text_col)).alias("tk")
    )
    first = (
        toks.select("i", F.explode(F.array_distinct("tk")).alias("t"))
        .groupBy("t")
        .agg(F.min("i").alias("first_doc"))
    )
    new_v = first.groupBy(
        F.floor(F.col("first_doc") / bucket_size).alias("bucket")
    ).agg(F.count("*").alias("new_vocab"))
    per_b = toks.groupBy(
        F.floor(F.col("i") / bucket_size).alias("bucket")
    ).agg(
        F.count("*").alias("docs"),
        F.sum(F.size("tk")).alias("toks"),
    )
    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    cum = prefix_sums(
        per_b.join(new_v, "bucket", "left").select(
            "bucket",
            "docs",
            "toks",
            F.coalesce("new_vocab", F.lit(0)).alias("nv"),
        ),
        "bucket",
        ["docs", "toks", "nv"],
    ).select(
        "bucket",
        F.col("cum_docs").cast("long").alias("docs_cum"),
        F.col("cum_toks").cast("long").alias("tokens_cum"),
        F.col("cum_nv").cast("long").alias("vocab_cum"),
    )
    pts = cum.filter(
        (F.col("tokens_cum") > 0) & (F.col("vocab_cum") > 0)
    ).select(
        F.log(F.col("tokens_cum").cast("double")).alias("x"),
        F.log(F.col("vocab_cum").cast("double")).alias("y"),
    )

    def _dsum(c, alias):
        return F.sum(F.round(c, 12).cast("decimal(38,12)")).alias(alias)

    mom = pts.agg(
        F.count("*").cast("double").alias("np"),
        _dsum(F.col("x"), "sx"),
        _dsum(F.col("y"), "sy"),
        _dsum(F.col("x") * F.col("y"), "sxy"),
        _dsum(F.col("x") * F.col("x"), "sxx"),
    ).select(
        "np",
        F.col("sx").cast("double").alias("sx"),
        F.col("sy").cast("double").alias("sy"),
        F.col("sxy").cast("double").alias("sxy"),
        F.col("sxx").cast("double").alias("sxx"),
    )
    beta = F.try_divide(
        F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy"),
        F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx"),
    )
    return cum.crossJoin(F.broadcast(mom)).select(
        "bucket",
        "docs_cum",
        "tokens_cum",
        "vocab_cum",
        F.round(beta, 6).alias("heaps_beta"),
        F.round(
            F.exp((F.col("sy") - beta * F.col("sx")) / F.col("np")), 6
        ).alias("heaps_k"),
    )


def rrf_fuse(
    df: DataFrame,
    group_col: str,
    id_col: str,
    score_cols: list[str],
    k0: int = 60,
    topk: int = 5,
) -> DataFrame:
    """Reciprocal-rank fusion of multiple per-group rankings:
    ``rrf = sum_i 1 / (k0 + rank_i)`` with each ranking's rank from
    (score DESC, id ASC) — the standard score-free way to merge
    heterogeneous retrieval signals (BM25, embedding cosine, freshness)
    whose raw scores are not comparable; k0=60 per the original RRF
    convention.  Completes the retrieval family: ``bm25_topk`` and
    ``tfidf_cosine_pairs`` produce single-signal rankings, this merges
    them.

    Scale posture: every window — the per-signal ranks and the final
    top-k cut — is PARTITIONED by group, and the ``row_number <= topk``
    filter executes as WindowGroupLimit (map-side partial top-k).  The
    fused score is a fixed-arity expression over the rank columns, not
    an aggregation: map-side, deterministic, ROUND(6)-pinned.

    Output: ``(group, id, rank_1..rank_N, rrf_score)`` — the top
    ``topk`` rows per group by (rrf_score DESC, id ASC)."""
    out = df.select(
        F.col(group_col).alias("g"), F.col(id_col).alias("i"), *score_cols
    )
    rank_cols = []
    for n, sc in enumerate(score_cols, start=1):
        wn = Window.partitionBy("g").orderBy(
            F.col(sc).desc(), F.col("i").asc()
        )
        out = out.withColumn(f"rank_{n}", F.row_number().over(wn))
        rank_cols.append(f"rank_{n}")
    fused = None
    for rc in rank_cols:
        term = F.lit(1.0) / (F.lit(float(k0)) + F.col(rc).cast("double"))
        fused = term if fused is None else fused + term
    out = out.withColumn("rrf_score", F.round(fused, 6))
    wt = Window.partitionBy("g").orderBy(
        F.col("rrf_score").desc(), F.col("i").asc()
    )
    return (
        out.withColumn("__top", F.row_number().over(wt))
        .filter(F.col("__top") <= topk)
        .select(
            F.col("g").alias(group_col),
            F.col("i").alias(id_col),
            *[F.col(rc).cast("long").alias(rc) for rc in rank_cols],
            "rrf_score",
        )
    )


def zipf_fit(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    top_n: int = 200,
) -> DataFrame:
    """Per-group Zipf-law fit: regress ln(term frequency) on ln(rank)
    over each group's ``top_n`` most frequent tokens — the language-
    health diagnostic that complements :func:`vocab_growth` (Heaps
    audits vocabulary GROWTH; Zipf audits the frequency SHAPE).
    Natural text sits near slope −1; machine-generated or boilerplate-
    heavy slices flatten (slope → 0) or steepen sharply, so a per-
    source/per-language slope table flags corpus slices worth a manual
    look before they enter a training mix.

    Output per group: ``(group, n_terms, zipf_slope, zipf_intercept,
    r2)`` — slope/intercept/r2 ROUND(6), NULL for degenerate groups
    (fewer than 2 distinct terms).  Ranks tiebreak by token asc so
    both engines rank identically.

    Scale posture: the corpus collapses to the per-(group, token)
    count table in ONE map-side-combinable shuffle; the rank window is
    partitioned by group over that collapsed vocabulary table and
    prunable to top_n via WindowGroupLimit; the regression moments are
    ROUND(12)/DECIMAL-summed per group (order-independent), so the
    final fit is a |groups|-row aggregation."""
    toks = df.select(
        F.col(group_col).alias("g"),
        F.explode(tokens(F.col(text_col))).alias("t"),
    )
    cnts = toks.groupBy("g", "t").agg(F.count("*").alias("cnt"))
    wr = Window.partitionBy("g").orderBy(
        F.col("cnt").desc(), F.col("t").asc()
    )
    pts = (
        cnts.withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") <= top_n)
        .select(
            "g",
            F.log(F.col("r").cast("double")).alias("x"),
            F.log(F.col("cnt").cast("double")).alias("y"),
        )
    )

    def _dsum(c, alias):
        return F.sum(F.round(c, 12).cast("decimal(38,12)")).alias(alias)

    mom = pts.groupBy("g").agg(
        F.count("*").cast("double").alias("np"),
        _dsum(F.col("x"), "sx"),
        _dsum(F.col("y"), "sy"),
        _dsum(F.col("x") * F.col("y"), "sxy"),
        _dsum(F.col("x") * F.col("x"), "sxx"),
        _dsum(F.col("y") * F.col("y"), "syy"),
    )
    np_ = F.col("np")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    vx = np_ * sxx - sx * sx
    vy = np_ * syy - sy * sy
    cov = np_ * sxy - sx * sy
    slope = cov / vx
    return mom.select(
        F.col("g").alias(group_col),
        F.col("np").cast("long").alias("n_terms"),
        F.when(vx > 0.0, F.round(slope, 6)).alias("zipf_slope"),
        F.when(vx > 0.0, F.round((sy - slope * sx) / np_, 6)).alias(
            "zipf_intercept"
        ),
        F.when((vx > 0.0) & (vy > 0.0), F.round(cov * cov / (vx * vy), 6))
        .alias("r2"),
    )


def token_burstiness(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 100,
) -> DataFrame:
    """Per-token burstiness profile over the corpus's ``top_n`` most
    frequent tokens: content words are BURSTY (they recur within the
    few documents they appear in) while function words spread evenly,
    so the deviation of each token's per-document count distribution
    from the Poisson baseline separates topical vocabulary from glue —
    the signal keyword extraction, stopword induction, and TF
    saturation (BM25 k1) tuning all consume.

    Output per token: ``(token, cf, df, mean_in_doc, vmr, df_ratio)``
    — ``cf``/``df`` corpus/document frequency, ``mean_in_doc`` =
    cf/df, ``vmr`` the index of dispersion of per-document counts
    including zero-count documents (Poisson ⇒ 1, bursty ≫ 1), and
    ``df_ratio`` = observed df over the Poisson expectation
    N·(1−exp(−cf/N)) (bursty ⇒ < 1: occurrences concentrate in fewer
    documents than independence predicts).  ROUND(6) doubles; top_n
    selected by (cf desc, token asc).

    Scale posture: one (doc, token) count shuffle, one (token) rollup
    of exact integer moments (cf, df, Σc²) — map-side combinable —
    then a TakeOrdered top_n against the vocabulary-sized table with
    the 1-row corpus count crossed in by broadcast.  No window over
    raw rows anywhere."""
    toks = df.select(
        F.col(id_col).alias("i"),
        F.explode(tokens(F.col(text_col))).alias("t"),
    )
    per_dt = toks.groupBy("i", "t").agg(F.count("*").alias("c"))
    per_t = per_dt.groupBy("t").agg(
        F.sum("c").alias("cf"),
        F.count("*").alias("df"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    tot = df.agg(F.count("*").alias("n_docs"))
    top = (
        per_t.join(F.broadcast(tot))
        .orderBy(F.col("cf").desc(), F.col("t").asc())
        .limit(top_n)
    )
    n_ = F.col("n_docs").cast("double")
    cf_ = F.col("cf").cast("double")
    df_ = F.col("df").cast("double")
    mean = cf_ / n_
    var = F.col("s2").cast("double") / n_ - mean * mean
    poisson_df = n_ * (F.lit(1.0) - F.exp(-mean))
    return top.select(
        F.col("t").alias("token"),
        F.col("cf").cast("long").alias("cf"),
        F.col("df").cast("long").alias("df"),
        F.round(cf_ / df_, 6).alias("mean_in_doc"),
        F.round(var / mean, 6).alias("vmr"),
        F.round(df_ / poisson_df, 6).alias("df_ratio"),
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (SentencePiece-style, hard-EM) — the second of
# the two real-world subword tokenizers next to induce_bpe_merges.
# The per-word routines below are PURE functions shared verbatim by
# the distributed operator's Arrow batches AND the oracle's Python
# twin (plans/catalog_text._unigram_sql), so the two cannot drift.
# ---------------------------------------------------------------------------

_UNI_FLOOR = -1e9  # logprob floor for zero-count pieces kept in vocab


def _uni_substrings(word: str, max_len: int):
    """All substrings of length 1..max_len with multiplicity
    (overlapping occurrences each count)."""
    n = len(word)
    for i in range(n):
        for k in range(1, min(max_len, n - i) + 1):
            yield word[i : i + k]


def _uni_logprobs(counts: dict) -> dict:
    """log(c/total) per piece; zero-count pieces stay in the vocab at
    the hard floor (they remain *matchable* so coverage never breaks,
    but any segmentation using them loses every comparison)."""
    import math

    total = sum(counts.values())
    return {
        p: (math.log(c / total) if c > 0 else _UNI_FLOOR)
        for p, c in counts.items()
    }


def _uni_viterbi_pieces(word: str, logp: dict, max_len: int):
    """Best segmentation of ``word`` under the unigram model.
    Deterministic tie-break: scanning split points j ascending with a
    strict ``>`` keeps the SMALLEST j (= the longest final piece) on
    exact float ties."""
    n = len(word)
    neg = float("-inf")
    dp = [0.0] + [neg] * n
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        best, bj = neg, -1
        for j in range(max(0, i - max_len), i):
            if dp[j] == neg:
                continue
            lp = logp.get(word[j:i])
            if lp is None:
                continue
            cand = dp[j] + lp
            if cand > best:
                best, bj = cand, j
        dp[i], back[i] = best, bj
    if dp[n] == neg:
        return None
    pieces = []
    i = n
    while i > 0:
        j = back[i]
        pieces.append(word[j:i])
        i = j
    pieces.reverse()
    return pieces


def unigram_lm_tokenizer(
    df: DataFrame,
    text_col: str = "text",
    max_piece_len: int = 4,
    seed_multi: int = 40,
    em_rounds: int = 3,
    top_out: int = 30,
) -> DataFrame:
    """Unigram-LM subword tokenizer induction (SentencePiece's model,
    hard-EM variant): seed a candidate vocabulary from weighted
    substring counts, then alternate Viterbi segmentation of every
    distinct word against re-estimated piece probabilities.  Where BPE
    greedily COMPOSES pieces bottom-up, the unigram model PRUNES a
    rich candidate set top-down by usage under the best segmentation —
    the two tokenizers real pipelines choose between, now both
    inducible over the same corpus.

    Output: the final round's piece table, top ``top_out`` by usage —
    ``(rank, piece, cnt, prob)`` with prob = cnt/Σcnt ROUND(6), rank
    tiebreak (cnt desc, piece asc); zero-usage pieces are pruned.

    Scale posture: the corpus is scanned ONCE (the word histogram —
    one map-side-combinable shuffle); everything after runs on the
    DISTINCT-WORD table (vocabulary-sized, the working set
    SentencePiece itself holds in RAM).  Seeding and each EM round are
    Arrow-batched map passes over that table emitting per-batch
    partial (piece, count) rows — integer-exact, order-independent —
    reduced by one piece-keyed shuffle; the ≤ |vocab|-row model
    collects to the driver between rounds to rebuild the broadcast
    logprob map (the BPE/k-means per-round-decision precedent).  The
    FINAL round's aggregation is the returned plan, so emitted values
    are engine-computed; the 1-row usage total joins by broadcast."""
    from collections import Counter

    words = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    words = words.persist()

    def _piece_counts_df(counts_fn):
        def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                ctr = Counter()
                for w, c in zip(pdf["w"], pdf["c"]):
                    counts_fn(ctr, str(w), int(c))
                if ctr:
                    keys = list(ctr)
                    yield pd.DataFrame(
                        {"p": keys, "pc": [ctr[k] for k in keys]}
                    )

        return (
            words.mapInPandas(batches, "p string, pc long")
            .groupBy("p")
            .agg(F.sum("pc").alias("pc"))
        )

    def _seed(ctr, w, c):
        for s in _uni_substrings(w, max_piece_len):
            ctr[s] += c

    sub = _piece_counts_df(_seed).persist()
    chars = sub.filter(F.length("p") == 1)
    multi = (
        sub.filter(F.length("p") > 1)
        .orderBy(F.col("pc").desc(), F.col("p").asc())
        .limit(seed_multi)
    )
    vocab_counts = {
        r["p"]: int(r["pc"]) for r in chars.unionAll(multi).collect()
    }
    sub.unpersist()

    def _em_round_df(logp):
        def _count(ctr, w, c):
            pieces = _uni_viterbi_pieces(w, logp, max_piece_len)
            if pieces is None:
                return
            for p in pieces:
                ctr[p] += c

        return _piece_counts_df(_count)

    for _ in range(em_rounds - 1):
        logp = _uni_logprobs(vocab_counts)
        new = {p: 0 for p in vocab_counts}
        for r in _em_round_df(logp).collect():
            new[r["p"]] = int(r["pc"])
        vocab_counts = new

    # r13: the final round feeds BOTH the usage total and the top-k —
    # share one materialization instead of running the Viterbi map pass
    # + piece reduce twice (batch-1 multi-consumer convention; the rank
    # window upstream sits above a Limit, so the raw-row-window guard
    # still sees a collapse)
    final = _em_round_df(_uni_logprobs(vocab_counts)).localCheckpoint(
        eager=False
    )
    tot = final.agg(F.sum("pc").cast("double").alias("tot"))
    # top-k first (distributed TakeOrdered), THEN the rank window over
    # only top_out rows — a global row_number over the full piece
    # table would sort the whole vocabulary in one task
    top = final.orderBy(F.col("pc").desc(), F.col("p").asc()).limit(
        top_out
    )
    w_rank = Window.orderBy(F.col("pc").desc(), F.col("p").asc())
    return (
        top.join(F.broadcast(tot))
        .withColumn("rank", F.row_number().over(w_rank))
        .select(
            F.col("rank").cast("long").alias("rank"),
            F.col("p").alias("piece"),
            F.col("pc").cast("long").alias("cnt"),
            F.round(F.col("pc").cast("double") / F.col("tot"), 6).alias(
                "prob"
            ),
        )
    )


def apply_unigram_tokenizer(
    df: DataFrame,
    logp: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_piece_len: int = 4,
) -> DataFrame:
    """Apply a TRAINED unigram-LM tokenizer (the logprob map
    :func:`unigram_lm_tokenizer` induces) to every document — the
    train-once / apply-anywhere split production tokenizers run: the
    model is a small constant broadcast into the map pass, so applying
    it to 100 TB is a zero-shuffle Arrow projection, exactly like
    ``apply_bpe_merges``.

    Output per document: ``(id, n_words, n_pieces, fertility)`` with
    fertility = pieces/words ROUND(6) (NULL for wordless docs).  A
    word the vocabulary cannot segment (a character outside the model)
    counts as ONE UNK piece — SentencePiece's fallback, made explicit
    and deterministic."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from conte_to_fresco_etl_spark.operators.dedup import _py_tokens

        for pdf in it:
            ids, nw, npc = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                words = [w for w in _py_tokens(t) if w]
                pieces = 0
                for w in words:
                    seg = _uni_viterbi_pieces(w, logp, max_piece_len)
                    pieces += len(seg) if seg is not None else 1
                ids.append(i)
                nw.append(len(words))
                npc.append(pieces)
            if ids:
                yield pd.DataFrame(
                    {"id": ids, "n_words": nw, "n_pieces": npc}
                )

    out = df.select(id_col, text_col).mapInPandas(
        batches, "id long, n_words long, n_pieces long"
    )
    return out.select(
        F.col("id").alias(id_col),
        "n_words",
        "n_pieces",
        F.round(
            F.try_divide(
                F.col("n_pieces").cast("double"),
                F.col("n_words").cast("double"),
            ),
            6,
        ).alias("fertility"),
    )


def feature_hashing(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 16,
    seed: str = "fh",
) -> DataFrame:
    """Signed feature hashing (the "hashing trick"): project each
    document's token counts into a fixed ``n_buckets``-dimensional
    vector without ever materializing a vocabulary — the
    dimensionality reducer that feeds linear classifiers/regressors
    when even the hashed-vocabulary table of ``token_label_mi`` is too
    wide to manage.  The sign hash makes collisions cancel in
    expectation (Weinberger et al.'s unbiased variant), which is the
    difference between a usable hashed feature and a biased one.

    Output (long format, zero coordinates dropped): ``(id, k, x)``
    with k ∈ [0, n_buckets) and x = Σ_token sign(token) over tokens
    hashing to bucket k — integer-exact, so the oracle mirrors it
    digit for digit.

    Scale posture: tokenize → md5 bucket/sign → partial-aggregated
    groupBy(id, k): everything is JVM expressions (zero Python), one
    map-side-combinable shuffle carrying ≤ n_buckets rows per doc —
    the same posture as :func:`random_projection` but with no model
    to broadcast at all (the projection IS the hash)."""
    from conte_to_fresco_etl_spark.functions.text import md5_long

    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("t"),
    ).filter(F.length("t") > 0)
    bucket = F.pmod(
        md5_long(F.concat(F.lit(f"{seed}b:"), F.col("t"))),
        F.lit(n_buckets),
    )
    sign = (
        F.pmod(
            md5_long(F.concat(F.lit(f"{seed}s:"), F.col("t"))),
            F.lit(2),
        )
        * 2
        - 1
    )
    return (
        tok.select("id", bucket.alias("k"), sign.alias("s"))
        .groupBy("id", "k")
        .agg(F.sum("s").alias("x"))
        .filter(F.col("x") != 0)
        .select(
            F.col("id").cast("long").alias(id_col),
            F.col("k").cast("long").alias("k"),
            F.col("x").cast("long").alias("x"),
        )
    )


def negative_samples(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    seed: str = "ns",
) -> DataFrame:
    """Skip-gram-style negative sampling: draw ``k`` noise tokens per
    document from the word2vec noise distribution P(t) ∝ count(t)^0.75
    — the contrastive-negative generator an embedding-training pipeline
    pairs with its positive co-occurrences.  Draws are hash-stable
    (md5 of (seed, doc, slot)), so the sample is a pure function of
    the corpus + seed: reproducible across runs, partitionings, and
    engines.

    Cross-engine exactness: c^0.75 is computed as sqrt(sqrt(c·c·c)) —
    sqrt is IEEE-754 correctly rounded in EVERY engine where pow/exp
    are only faithfully rounded, so the noise weights (and therefore
    every interval boundary) are bit-identical; weights ROUND(9) →
    DECIMAL-cumsum over the token-ordered vocabulary.

    Output: ``(id, slot, neg_token, in_doc)`` — ``in_doc`` flags draws
    that collide with the document's own vocabulary (a trainer drops
    or re-draws those; flagging keeps the operator deterministic).

    Scale posture: the corpus collapses to the vocabulary count table
    in ONE shuffle; the cumulative-interval table is vocabulary-sized
    and builds by a DISTRIBUTED two-pass prefix sum — range-partition
    the vocabulary on the token, per-partition decimal running sums,
    then add each partition's broadcast running offset (the offsets
    table is |partitions| rows) — so no single task ever sorts or
    scans the whole vocabulary (the r7 draft's empty-partition
    ``Window.orderBy`` did exactly that; a 10⁷–10⁸-token web
    vocabulary would straggle on it).  Decimal addition is exact, so
    any contiguous split in token order yields bit-identical interval
    boundaries.  The draw probe is a
    BINNED EQUI-JOIN, not a broadcast range join: the [0, tot) mass
    axis is cut into |V| fixed-width bins, each interval explodes to
    the bins it covers (Σ coverage ≈ 2·|V| rows — each interval covers
    ≥1 bin and the B bin boundaries add ≤B splits), and probes join on
    the bin id then range-filter within the handful of rows per bin.
    bin(x) = least(floor(x/tot·|V|), |V|−1) is the IDENTICAL monotone
    double expression on both sides, so lo ≤ ut < hi guarantees
    bin(lo) ≤ bin(ut) ≤ bin(hi) — no draw can miss its interval.  At
    web scale both join sides shuffle on the bin id; nothing
    vocabulary-sized broadcasts.  The in-doc flag is one (doc, token)
    semi-probe against the tokenize pass already paid."""
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("t"),
    ).filter(F.length("t") > 0)
    cd = F.col("c").cast("double")
    w = F.sqrt(F.sqrt(cd * cd * cd))
    counts = tok.groupBy("t").agg(F.count("*").alias("c"))
    wd = F.round(w, 9).cast("decimal(28,9)")
    # distributed prefix sum (parallelism.prefix_sums): range-partition
    # by token, per-partition decimal cumsums, broadcast triangular
    # offsets — exact decimal arithmetic makes the result independent
    # of where the sampled range boundaries fall
    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    cum = prefix_sums(
        counts.select("t", wd.alias("wd")), "t", ["wd"]
    ).select(
        "t",
        F.col("cum_wd").cast("double").alias("hi"),
        (F.col("cum_wd") - F.col("wd")).cast("double").alias("lo"),
    )
    stats = cum.agg(F.max("hi").alias("tot"), F.count("*").alias("nv"))
    _bin = lambda x: F.least(  # noqa: E731 — shared by BOTH join sides
        F.floor(x / F.col("tot") * F.col("nv")), F.col("nv") - F.lit(1)
    )
    binned = cum.join(F.broadcast(stats)).select(
        "t",
        "lo",
        "hi",
        F.explode(
            F.sequence(_bin(F.col("lo")), _bin(F.col("hi")))
        ).alias("bin"),
    )
    slots = df.select(F.col(id_col).alias("id")).select(
        "id", F.explode(F.sequence(F.lit(1), F.lit(k))).alias("slot")
    )
    u = (
        F.conv(
            F.md5(
                F.concat(
                    F.lit(f"{seed}:"),
                    F.col("id").cast("string"),
                    F.lit(":"),
                    F.col("slot").cast("string"),
                )
            ).substr(1, 15),
            16,
            10,
        ).cast("double")
        / F.lit(float(16**15))
    )
    probes = (
        slots.join(F.broadcast(stats))
        .select("id", "slot", (u * F.col("tot")).alias("ut"), "tot", "nv")
        .select("id", "slot", "ut", _bin(F.col("ut")).alias("bin"))
    )
    drawn = probes.join(binned, "bin").filter(
        (F.col("ut") >= F.col("lo")) & (F.col("ut") < F.col("hi"))
    )
    doc_vocab = tok.distinct().select(
        F.col("id").alias("vid"), F.col("t").alias("vt")
    )
    return (
        drawn.join(
            doc_vocab,
            (F.col("id") == F.col("vid")) & (F.col("t") == F.col("vt")),
            "left",
        )
        .select(
            F.col("id").cast("long").alias(id_col),
            F.col("slot").cast("long").alias("slot"),
            F.col("t").alias("neg_token"),
            F.col("vid").isNotNull().alias("in_doc"),
        )
    )


def tstat_token_features(
    df: DataFrame,
    label,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 30,
) -> DataFrame:
    """Discriminative-token feature selection: per-token Welch t
    statistic of the term-frequency difference between two document
    classes, top-``top_k`` by |t| — the classic first pass of a
    quality/domain classifier (which tokens SEPARATE the classes,
    with variance taken seriously, unlike a raw log-odds list).

    Per class c with n_c docs, a token's tf moments count ABSENT
    documents as tf = 0 arithmetically (sums over present docs,
    divisors the full class size — the cronbach/covariate-balance
    discipline; the dense doc x token design never materializes).
    Output: ``(token, t_stat, mean_pos, mean_neg)`` (ROUND 6), |t|
    desc, token asc tiebreak.

    Scale posture: one (doc, token) tf shuffle, one token-keyed
    moment collapse with the 1-row class-size broadcast, TakeOrdered
    top-k.  Exactness: integer tf sums; t is one double tree; ranking
    compares the ROUND(6)-pinned |t| both engines."""
    from conte_to_fresco_etl_spark.functions.text import tokens
    from conte_to_fresco_etl_spark.parallelism import (
        DENSE_BYTES_PER_TASK,
        ensure_min_parallelism,
    )

    base = ensure_min_parallelism(
        df.select(
            F.col(id_col).alias("id"),
            label.cast("boolean").alias("y"),
            F.col(text_col).alias("__text"),
        ).filter(F.col("__text").isNotNull() & F.col("y").isNotNull()),
        DENSE_BYTES_PER_TASK,
    )
    sizes = base.agg(
        F.sum(F.when(F.col("y"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(~F.col("y"), 1).otherwise(0)).alias("n0"),
    )
    tf = (
        base.select(
            "id", "y", F.explode(tokens(F.col("__text"))).alias("tok")
        )
        .filter(F.length("tok") > 0)
        .groupBy("id", "y", "tok")
        .agg(F.count("*").alias("tf"))
    )
    mom = tf.groupBy("tok").agg(
        F.sum(F.when(F.col("y"), F.col("tf"))).alias("s1"),
        F.sum(
            F.when(F.col("y"), F.col("tf") * F.col("tf"))
        ).alias("q1"),
        F.sum(F.when(~F.col("y"), F.col("tf"))).alias("s0"),
        F.sum(
            F.when(~F.col("y"), F.col("tf") * F.col("tf"))
        ).alias("q0"),
    )
    j = mom.crossJoin(F.broadcast(sizes))
    n1d, n0d = F.col("n1").cast("double"), F.col("n0").cast("double")
    s1 = F.coalesce(F.col("s1"), F.lit(0)).cast("double")
    q1 = F.coalesce(F.col("q1"), F.lit(0)).cast("double")
    s0 = F.coalesce(F.col("s0"), F.lit(0)).cast("double")
    q0 = F.coalesce(F.col("q0"), F.lit(0)).cast("double")
    m1, m0 = s1 / n1d, s0 / n0d
    v1 = (q1 - n1d * m1 * m1) / (n1d - F.lit(1.0))
    v0 = (q0 - n0d * m0 * m0) / (n0d - F.lit(1.0))
    se2 = v1 / n1d + v0 / n0d
    t = F.when(se2 > 0, F.round((m1 - m0) / F.sqrt(se2), 6))
    return (
        j.select(
            F.col("tok").alias("token"),
            t.alias("t_stat"),
            F.round(m1, 6).alias("mean_pos"),
            F.round(m0, 6).alias("mean_neg"),
        )
        .filter(F.col("t_stat").isNotNull())
        .orderBy(F.abs(F.col("t_stat")).desc(), F.col("token").asc())
        .limit(int(top_k))
    )


def doc_simpson(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Simpson concentration over tokens —
    λ = Σ c_i(c_i − 1) / (N(N−1)), the probability two tokens drawn
    without replacement coincide: 0 = all-distinct, 1 = one token
    repeated (boilerplate/spam); the diversity-index complement to
    ``q_token_entropy``'s Shannon view.  Docs with N < 2 emit
    nothing.  Output: ``(doc_id, n_tokens, simpson)`` (ROUND 6).

    Scale posture: one (doc, token) count shuffle + one per-doc
    integer collapse — λ is a ratio of exact integers."""
    from conte_to_fresco_etl_spark.functions.text import tokens
    from conte_to_fresco_etl_spark.parallelism import (
        DENSE_BYTES_PER_TASK,
        ensure_min_parallelism,
    )

    tok = (
        ensure_min_parallelism(
            df.select(F.col(id_col).alias("id"), F.col(text_col)),
            DENSE_BYTES_PER_TASK,
        )
        .select("id", F.explode(tokens(F.col(text_col))).alias("tok"))
        .filter(F.length("tok") > 0)
    )
    per = (
        tok.groupBy("id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("id")
        .agg(
            F.sum("c").alias("n"),
            F.sum(F.col("c") * (F.col("c") - 1)).alias("coll"),
        )
        .filter(F.col("n") >= 2)
    )
    nd = F.col("n").cast("double")
    return per.select(
        F.col("id").cast("long").alias(id_col),
        F.col("n").cast("long").alias("n_tokens"),
        F.round(
            F.col("coll").cast("double") / (nd * (nd - F.lit(1.0))), 6
        ).alias("simpson"),
    )


def mattr(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
) -> DataFrame:
    """Moving-average type-token ratio (MATTR, fixed non-overlapping
    windows): mean over a document's COMPLETE ``window``-token chunks
    of (distinct tokens / window) — the length-robust lexical
    diversity measure (raw TTR shrinks with length, so it cannot
    compare a tweet to a book; per-chunk TTR can).  Docs without one
    complete chunk emit nothing.  Output: ``(doc_id, n_windows,
    mattr)`` (ROUND 6).

    Scale posture: positions come from one map-side posexplode; one
    (doc, chunk, token) distinct + (doc, chunk) count + per-doc mean
    — all map-combinable collapses keyed by the doc."""
    from conte_to_fresco_etl_spark.functions.text import tokens
    from conte_to_fresco_etl_spark.parallelism import (
        DENSE_BYTES_PER_TASK,
        ensure_min_parallelism,
    )

    w = int(window)
    base = ensure_min_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(text_col)),
        DENSE_BYTES_PER_TASK,
    ).select("id", tokens(F.col(text_col)).alias("toks"))
    # no size>=w pre-filter: a Filter above the tokenizing projection
    # is pushed below it and tokenizes twice per row (r13); docs
    # shorter than one window lose every position to the pos filter
    # below anyway (floor(len/w)*w = 0), so results are identical
    pos = (
        base.select(
            "id",
            F.size("toks").alias("len"),
            posexplode_nonempty("toks").alias("pos", "tok"),
        )
        .filter(F.col("pos") < F.floor(F.col("len") / w) * w)
        .select(
            "id", (F.col("pos") / w).cast("long").alias("chunk"), "tok"
        )
    )
    per_chunk = (
        pos.distinct()
        .groupBy("id", "chunk")
        .agg(F.count("*").alias("types"))
    )
    ttr = F.round(F.col("types").cast("double") / F.lit(float(w)), 9)
    return (
        per_chunk.groupBy("id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(ttr.cast("decimal(28,9)")).alias("ttr_sum"),
        )
        .select(
            F.col("id").cast("long").alias(id_col),
            F.col("n_windows").cast("long").alias("n_windows"),
            F.round(
                F.col("ttr_sum").cast("double")
                / F.col("n_windows").cast("double"),
                6,
            ).alias("mattr"),
        )
    )


def conditional_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus bigram conditional entropy H(next | prev) =
    H(prev, next) − H(prev) in nats — the entropy-rate estimate that
    separates repetitive/templated corpora (low: the next token is
    predictable) from diverse prose at equal unigram entropy; the
    joint/marginal companion to ``q_token_entropy`` and the model-free
    counterpart of the bigram-LM NLL.  Output — ONE row:
    ``(n_bigrams, h_joint, h_prev, h_cond)`` (ROUND 6).

    Scale posture: one corpus bigram-count shuffle; the prev marginal
    derives FROM the bigram table (no second corpus pass); each
    distinct type's −p·ln p term is ROUND(12) then DECIMAL-summed
    with the 1-row total broadcast."""
    from conte_to_fresco_etl_spark.functions.text import tokens
    from conte_to_fresco_etl_spark.parallelism import (
        DENSE_BYTES_PER_TASK,
        ensure_min_parallelism,
    )

    toks = tokens(F.col(text_col))
    base = (
        ensure_min_parallelism(
            df.select(F.col(text_col)), DENSE_BYTES_PER_TASK
        )
        .select(toks.alias("toks"))
        # no size filter: pushed below the projection it tokenizes
        # twice per row (r13) — the >= 2 guard lives inside the pair
        # expression (NULL rows dropped by explode, slice never sees a
        # negative length)
    )
    pairs = base.select(
        F.explode(
            F.when(
                F.size("toks") >= 2,
                F.zip_with(
                    F.slice("toks", 1, F.size("toks") - 1),
                    F.slice("toks", 2, F.size("toks") - 1),
                    lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                ),
            )
        ).alias("bg")
    ).select(F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
    bc = pairs.groupBy("a", "b").agg(F.count("*").alias("c"))
    bc = bc.localCheckpoint(eager=False)
    tot = bc.agg(F.sum("c").alias("n"))
    d12 = "decimal(38,12)"

    def entropy(counts: DataFrame) -> Column:
        p = F.col("c").cast("double") / F.col("n").cast("double")
        return F.sum(
            F.round(-p * F.log(p), 12).cast(d12)
        )

    hj = (
        bc.crossJoin(F.broadcast(tot))
        .agg(entropy(bc).alias("hj"), F.max("n").alias("n"))
    )
    prev = bc.groupBy("a").agg(F.sum("c").alias("c"))
    hp = prev.crossJoin(F.broadcast(tot)).agg(entropy(prev).alias("hp"))
    return hj.crossJoin(F.broadcast(hp)).select(
        F.col("n").cast("long").alias("n_bigrams"),
        F.round(F.col("hj").cast("double"), 6).alias("h_joint"),
        F.round(F.col("hp").cast("double"), 6).alias("h_prev"),
        F.round(
            F.col("hj").cast("double") - F.col("hp").cast("double"), 6
        ).alias("h_cond"),
    )


def js_divergence_by_group(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Jensen-Shannon divergence of each group's unigram distribution
    from the corpus distribution — the bounded, symmetric domain-drift
    measure mixture tuning runs per source (0 = indistinguishable,
    ln 2 = disjoint vocabularies; DSIR's importance weights are its
    pointwise cousin).  Output: ``(group, n_tokens, js)`` per group
    (ROUND 6, nats).

    The corpus-side KL term over tokens ABSENT from the group
    collapses in closed form — for those tokens m = q/2, so their
    contribution is ln(2) * (1 - Σ_{t in group} q_t) — which keeps
    the whole computation on the (group, token) table: NO dense
    group x vocabulary expansion, one token-keyed join of the corpus
    marginal back to the group cells.

    Scale posture: one (group, token) count shuffle; the corpus
    marginal derives FROM it; per-group terms are ROUND(12) decimal
    sums with 1-row totals broadcast."""
    from conte_to_fresco_etl_spark.functions.text import tokens
    from conte_to_fresco_etl_spark.parallelism import (
        DENSE_BYTES_PER_TASK,
        ensure_min_parallelism,
    )

    tok = (
        ensure_min_parallelism(
            df.select(
                F.col(group_col).alias("grp"), F.col(text_col)
            ).filter(F.col("grp").isNotNull()),
            DENSE_BYTES_PER_TASK,
        )
        .select("grp", F.explode(tokens(F.col(text_col))).alias("tok"))
        .filter(F.length("tok") > 0)
    )
    cells = tok.groupBy("grp", "tok").agg(F.count("*").alias("cs"))
    cells = cells.localCheckpoint(eager=False)
    corpus = cells.groupBy("tok").agg(F.sum("cs").alias("cq"))
    tot_q = corpus.agg(F.sum("cq").alias("nq"))
    tot_s = cells.groupBy("grp").agg(F.sum("cs").alias("ns"))
    j = (
        cells.join(corpus, "tok")
        .join(F.broadcast(tot_s), "grp")
        .crossJoin(F.broadcast(tot_q))
    )
    p = F.col("cs").cast("double") / F.col("ns").cast("double")
    q = F.col("cq").cast("double") / F.col("nq").cast("double")
    m = (p + q) / F.lit(2.0)
    d12 = "decimal(38,12)"
    per = j.groupBy("grp").agg(
        F.max("ns").alias("n_tokens"),
        F.sum(F.round(p * F.log(p / m), 12).cast(d12)).alias("klp"),
        F.sum(F.round(q * F.log(q / m), 12).cast(d12)).alias("klq_in"),
        F.sum(F.round(q, 12).cast(d12)).alias("q_cov"),
    )
    js = F.lit(0.5) * F.col("klp").cast("double") + F.lit(0.5) * (
        F.col("klq_in").cast("double")
        + F.log(F.lit(2.0))
        * (F.lit(1.0) - F.col("q_cov").cast("double"))
    )
    return per.select(
        F.col("grp").alias(group_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(js, 6).alias("js"),
    )


def info_gain_features(
    df: DataFrame,
    label,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 30,
) -> DataFrame:
    """Information-gain feature ranking: for each token, the mutual
    information between its PRESENCE in a document and the document's
    binary class — the categorical sibling of the Welch-t tf ranking
    (decision-stump feature selection: how much does knowing "doc
    contains t" reduce label entropy?).

    IG(t) = H(Y) − [ n_p/N · H(Y | present) + n_a/N · H(Y | absent) ]

    with the absent-side counts derived by complement from the class
    totals (the dense doc x token design never materializes).
    Output: ``(token, present_docs, ig)`` (ROUND 6), ig desc, token
    asc tiebreak, top ``top_k``.

    Scale posture: one (doc, token) DISTINCT presence shuffle, one
    token-keyed count collapse with the 1-row class-size broadcast,
    TakeOrdered top-k; entropy terms are ROUND(12) expressions of
    integer counts."""
    from conte_to_fresco_etl_spark.functions.text import tokens
    from conte_to_fresco_etl_spark.parallelism import (
        DENSE_BYTES_PER_TASK,
        ensure_min_parallelism,
    )

    base = ensure_min_parallelism(
        df.select(
            F.col(id_col).alias("id"),
            label.cast("boolean").alias("y"),
            F.col(text_col).alias("__text"),
        ).filter(F.col("__text").isNotNull() & F.col("y").isNotNull()),
        DENSE_BYTES_PER_TASK,
    )
    sizes = base.agg(
        F.sum(F.when(F.col("y"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(~F.col("y"), 1).otherwise(0)).alias("n0"),
    )
    pres = (
        base.select(
            "id", "y", F.explode(tokens(F.col("__text"))).alias("tok")
        )
        .filter(F.length("tok") > 0)
        .distinct()
        .groupBy("tok")
        .agg(
            F.sum(F.when(F.col("y"), 1).otherwise(0)).alias("a"),
            F.sum(F.when(~F.col("y"), 1).otherwise(0)).alias("b"),
        )
    )
    j = pres.crossJoin(F.broadcast(sizes))

    def h2(c1, c0):
        tot = (c1 + c0).cast("double")
        p1 = c1.cast("double") / tot
        p0 = c0.cast("double") / tot
        t1 = F.when(c1 > 0, -p1 * F.log(p1)).otherwise(F.lit(0.0))
        t0 = F.when(c0 > 0, -p0 * F.log(p0)).otherwise(F.lit(0.0))
        return F.when(tot > 0, t1 + t0).otherwise(F.lit(0.0))

    n1, n0 = F.col("n1"), F.col("n0")
    a, b = F.col("a"), F.col("b")
    nn = (n1 + n0).cast("double")
    hy = h2(n1, n0)
    np_, na_ = (a + b).cast("double"), nn - (a + b).cast("double")
    ig = F.round(
        hy
        - (
            np_ / nn * h2(a, b)
            + na_ / nn * h2(n1 - a, n0 - b)
        ),
        12,
    )
    return (
        j.select(
            F.col("tok").alias("token"),
            (a + b).cast("long").alias("present_docs"),
            F.round(ig, 6).alias("ig"),
            ig.alias("__ig12"),
        )
        # rank on the ROUND(12) value (the oracle's order), not the
        # display-rounded 6dp — a 6dp collision at the k-boundary
        # would otherwise let the engines pick different sets
        .orderBy(F.col("__ig12").desc(), F.col("token").asc())
        .limit(int(top_k))
        .select("token", "present_docs", "ig")
    )


def span_corruption_plan(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mask_frac: float = 0.15,
    mean_span: int = 3,
    seed: str = "sc",
) -> DataFrame:
    """T5-style span-corruption masking plan: deterministically choose
    masked token spans per document (hash-stable, like every sampler
    here: a pure function of corpus + seed, reproducible across runs,
    partitionings, and engines) — the preprocessing step that turns a
    corpus into seq2seq denoising examples.  Position i starts a span
    with probability ``mask_frac / mean_span``; span length is
    1 + hash % (2·mean_span − 1) (mean = mean_span); overlapping
    spans merge.  Output per non-empty doc: ``(doc_id, n_tokens,
    n_masked, n_spans, frac_masked)`` with n_spans the count of
    MAXIMAL masked runs after merging and frac_masked ROUND(6).

    Scale posture: positions explode map-side (no token strings
    carried), starts explode to their covered positions (Σ ≈
    mask_frac·n rows), one distinct + per-doc run count via a
    doc-partitioned lag window — everything keyed by the doc."""
    from conte_to_fresco_etl_spark.functions.text import md5_long, tokens
    from conte_to_fresco_etl_spark.parallelism import (
        DENSE_BYTES_PER_TASK,
        ensure_min_parallelism,
    )

    thresh = int(round(mask_frac / mean_span * 1000000))
    span_mod = 2 * int(mean_span) - 1
    base = (
        ensure_min_parallelism(
            df.select(F.col(id_col).alias("id"), F.col(text_col)),
            DENSE_BYTES_PER_TASK,
        )
        # n >= 1 ⟺ length(trim(text)) > 0 — the EQUIVALENT cheap
        # predicate on the raw column, filtered BEFORE the tokenizing
        # projection: a filter on the projected n is pushed below the
        # projection and tokenizes twice per row (r13).  (NULL text
        # fails both forms; split of non-blank trimmed text always
        # yields >= 1 token.)  n >= 1 also guards sequence(0, n-1),
        # which DESCENDS for n = 0.
        .filter(F.length(F.trim(F.col(text_col))) > 0)
        .select("id", F.size(tokens(F.col(text_col))).alias("n"))
    )
    pos = base.select(
        "id",
        "n",
        F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("i"),
    )
    h = md5_long(
        F.concat(
            F.lit(f"{seed}:"),
            F.col("id").cast("string"),
            F.lit(":"),
            F.col("i").cast("string"),
        )
    )
    hl = md5_long(
        F.concat(
            F.lit(f"{seed}L:"),
            F.col("id").cast("string"),
            F.lit(":"),
            F.col("i").cast("string"),
        )
    )
    starts = pos.filter(h % 1000000 < thresh).select(
        "id",
        "n",
        "i",
        (F.lit(1) + hl % span_mod).alias("len"),
    )
    covered = starts.select(
        "id",
        F.explode(
            F.sequence(
                F.col("i"),
                F.least(F.col("i") + F.col("len") - 1, F.col("n") - 1),
            )
        ).alias("p"),
    ).distinct()
    w = Window.partitionBy("id").orderBy("p")
    runs = covered.select(
        "id",
        F.when(
            F.lag("p").over(w).isNull()
            | (F.lag("p").over(w) < F.col("p") - 1),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    ).groupBy("id").agg(
        F.count("*").alias("n_masked"), F.sum("brk").alias("n_spans")
    )
    return (
        base.join(runs, "id", "left")
        .select(
            F.col("id").cast("long").alias(id_col),
            F.col("n").cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_masked"), F.lit(0))
            .cast("long")
            .alias("n_masked"),
            F.coalesce(F.col("n_spans"), F.lit(0))
            .cast("long")
            .alias("n_spans"),
            F.round(
                F.coalesce(F.col("n_masked"), F.lit(0)).cast("double")
                / F.col("n").cast("double"),
                6,
            ).alias("frac_masked"),
        )
    )


def log_odds_tokens(
    df: DataFrame,
    label,
    id_col: str = "doc_id",
    text_col: str = "text",
    prior_strength: float = 100.0,
    top_k: int = 30,
) -> DataFrame:
    """Monroe-Colaresi-Quinn "fightin' words" token comparison: the
    z-scored log-odds-ratio of each token between two corpora with an
    informative Dirichlet prior drawn from the POOLED counts — the
    standard "which words distinguish these corpora" ranking (raw
    log-odds overweights rare tokens; the prior and the variance term
    fix exactly that).  With class token counts y1_t / y0_t, totals
    n1 / n0, pooled share p_t and prior a_t = prior_strength * p_t:

        delta_t = ln((y1+a)/(n1+a0-y1-a)) - ln((y0+a)/(n0+a0-y0-a))
        z_t = delta_t / sqrt(1/(y1+a) + 1/(y0+a))

    Output: ``(token, z_score, delta)`` (ROUND 6), top ``top_k`` by
    |z| (z ROUND(9) for the ranking; token asc tiebreak).

    Scale posture: ONE (class, token) count shuffle; pooled shares
    derive FROM it; totals are a 1-row broadcast; the ranking is a
    TakeOrdered."""
    from conte_to_fresco_etl_spark.functions.text import tokens
    from conte_to_fresco_etl_spark.parallelism import (
        DENSE_BYTES_PER_TASK,
        ensure_min_parallelism,
    )

    base = ensure_min_parallelism(
        df.select(
            label.cast("boolean").alias("y"),
            F.col(text_col).alias("__text"),
        ).filter(F.col("__text").isNotNull() & F.col("y").isNotNull()),
        DENSE_BYTES_PER_TASK,
    )
    counts = (
        base.select("y", F.explode(tokens(F.col("__text"))).alias("tok"))
        .filter(F.length("tok") > 0)
        .groupBy("tok")
        .agg(
            F.sum(F.when(F.col("y"), 1).otherwise(0)).alias("y1"),
            F.sum(F.when(~F.col("y"), 1).otherwise(0)).alias("y0"),
        )
    )
    tot = counts.agg(
        F.sum("y1").alias("n1"), F.sum("y0").alias("n0")
    )
    j = counts.crossJoin(F.broadcast(tot))
    a0 = F.lit(float(prior_strength))
    pool = (F.col("y1") + F.col("y0")).cast("double") / (
        F.col("n1") + F.col("n0")
    ).cast("double")
    at = a0 * pool
    y1d, y0d = F.col("y1").cast("double"), F.col("y0").cast("double")
    n1d, n0d = F.col("n1").cast("double"), F.col("n0").cast("double")
    delta = F.log((y1d + at) / (n1d + a0 - y1d - at)) - F.log(
        (y0d + at) / (n0d + a0 - y0d - at)
    )
    var = F.lit(1.0) / (y1d + at) + F.lit(1.0) / (y0d + at)
    z = F.round(delta / F.sqrt(var), 9)
    return (
        j.select(
            F.col("tok").alias("token"),
            F.round(z, 6).alias("z_score"),
            F.round(delta, 6).alias("delta"),
            z.alias("__z9"),
        )
        .orderBy(F.abs(F.col("__z9")).desc(), F.col("token").asc())
        .limit(int(top_k))
        .select("token", "z_score", "delta")
    )


def hellinger_tvd_by_group(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Hellinger distance and total-variation distance of each group's
    unigram distribution from the corpus distribution — the two
    classical f-divergence drift gauges next to [[q_js_sources]]'s JS
    (Hellinger weights rare-token disagreement, TVD is the max
    re-weighting cost).  Output: ``(group, n_tokens, hellinger, tvd)``
    per group (ROUND 6).

    Tokens ABSENT from a group collapse in closed form on both
    measures: they add 0 to the Bhattacharyya sum (p = 0) and
    ``(1 - q_cov)/2`` to TVD — so the computation stays on the
    (group, token) table with one corpus-marginal join, never a dense
    group x vocabulary grid (the js_divergence_by_group posture)."""
    from conte_to_fresco_etl_spark.functions.text import tokens
    from conte_to_fresco_etl_spark.parallelism import (
        DENSE_BYTES_PER_TASK,
        ensure_min_parallelism,
    )

    tok = (
        ensure_min_parallelism(
            df.select(
                F.col(group_col).alias("grp"), F.col(text_col)
            ).filter(F.col("grp").isNotNull()),
            DENSE_BYTES_PER_TASK,
        )
        .select("grp", F.explode(tokens(F.col(text_col))).alias("tok"))
        .filter(F.length("tok") > 0)
    )
    cells = tok.groupBy("grp", "tok").agg(F.count("*").alias("cs"))
    cells = cells.localCheckpoint(eager=False)
    corpus = cells.groupBy("tok").agg(F.sum("cs").alias("cq"))
    tot_q = corpus.agg(F.sum("cq").alias("nq"))
    tot_s = cells.groupBy("grp").agg(F.sum("cs").alias("ns"))
    j = (
        cells.join(corpus, "tok")
        .join(F.broadcast(tot_s), "grp")
        .crossJoin(F.broadcast(tot_q))
    )
    p = F.col("cs").cast("double") / F.col("ns").cast("double")
    q = F.col("cq").cast("double") / F.col("nq").cast("double")
    d12 = "decimal(38,12)"
    per = j.groupBy("grp").agg(
        F.max("ns").alias("n_tokens"),
        F.sum(F.round(F.sqrt(p * q), 12).cast(d12)).alias("bc"),
        F.sum(F.round(F.abs(p - q), 12).cast(d12)).alias("adiff_in"),
        F.sum(F.round(q, 12).cast(d12)).alias("q_cov"),
    )
    hell = F.sqrt(
        F.greatest(
            F.lit(0.0), F.lit(1.0) - F.col("bc").cast("double")
        )
    )
    tvd = F.lit(0.5) * (
        F.col("adiff_in").cast("double")
        + (F.lit(1.0) - F.col("q_cov").cast("double"))
    )
    return per.select(
        F.col("grp").alias(group_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(hell, 6).alias("hellinger"),
        F.round(tvd, 6).alias("tvd"),
    )


def lexical_richness_by_group(
    df: DataFrame, group_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Classical lexical-richness panel per group: vocabulary size V,
    hapax ratio V1/V, Guiraud's R = V/sqrt(N), and Yule's K =
    10^4 (sum c_t^2 - N)/N^2 — the repetitiveness gauges a corpus
    audit reads next to the Zipf slope (K is length-invariant, so
    templated/bot text shows as high K at any size).  Output per
    group: ``(group, n_tokens, vocab, hapax_ratio, guiraud_r,
    yule_k)`` (ROUND 6).

    Scale posture: ONE (group, token) count shuffle; every statistic
    is an integer aggregate over it (exact at any scale)."""
    from conte_to_fresco_etl_spark.functions.text import tokens
    from conte_to_fresco_etl_spark.parallelism import (
        DENSE_BYTES_PER_TASK,
        ensure_min_parallelism,
    )

    tok = (
        ensure_min_parallelism(
            df.select(
                F.col(group_col).alias("__g"), F.col(text_col)
            ).filter(F.col("__g").isNotNull()),
            DENSE_BYTES_PER_TASK,
        )
        .select("__g", F.explode(tokens(F.col(text_col))).alias("__t"))
        .filter(F.length("__t") > 0)
    )
    cells = tok.groupBy("__g", "__t").agg(F.count("*").alias("__c"))
    per = cells.groupBy("__g").agg(
        F.sum("__c").alias("__n"),
        F.count("*").alias("__v"),
        F.sum(F.when(F.col("__c") == 1, 1).otherwise(0)).alias("__v1"),
        F.sum((F.col("__c") * F.col("__c")).cast("decimal(38,0)")).alias(
            "__c2"
        ),
    )
    nd = F.col("__n").cast("double")
    return per.select(
        F.col("__g").alias(group_col),
        F.col("__n").cast("long").alias("n_tokens"),
        F.col("__v").cast("long").alias("vocab"),
        F.round(
            F.col("__v1").cast("double") / F.col("__v").cast("double"), 6
        ).alias("hapax_ratio"),
        F.round(F.col("__v").cast("double") / F.sqrt(nd), 6).alias(
            "guiraud_r"
        ),
        F.round(
            F.lit(10000.0)
            * (F.col("__c2").cast("double") - nd)
            / (nd * nd),
            6,
        ).alias("yule_k"),
    )


def readability_by_group(
    df: DataFrame, group_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Flesch reading ease and Flesch-Kincaid grade per group from a
    deterministic, dependency-free syllable counter (per-word count of
    ``[aeiouy]+`` vowel groups, minimum 1) and sentence counter
    (``[.!?]+`` runs, minimum 1 per document) — the quality-filter
    feature every readability-based curation recipe starts from, here
    with BOTH engines computing the identical closed form.  Output per
    group: ``(group, n_docs, words, sentences, syllables, flesch,
    fk_grade)`` (ROUND 6).

    Scale posture: entirely map-side per document (array expressions,
    no UDF), one group collapse."""
    from conte_to_fresco_etl_spark.functions.text import tokens
    from conte_to_fresco_etl_spark.parallelism import (
        DENSE_BYTES_PER_TASK,
        ensure_min_parallelism,
    )

    toks = tokens(F.col(text_col))
    base = (
        ensure_min_parallelism(
            df.select(
                F.col(group_col).alias("__g"), F.col(text_col)
            ).filter(
                F.col("__g").isNotNull()
                & F.col(text_col).isNotNull()
                # __w > 0 ⟺ length(trim(text)) > 0: the equivalent
                # cheap predicate on the raw column — a filter on the
                # projected __w is pushed below the projection and
                # tokenizes twice per row (r13)
                & (F.length(F.trim(F.col(text_col))) > 0)
            ),
            DENSE_BYTES_PER_TASK,
        )
        .select(
            "__g",
            F.size(toks).alias("__w"),
            F.greatest(
                F.lit(1),
                F.size(
                    F.regexp_extract_all(
                        F.col(text_col), F.lit("[.!?]+"), F.lit(0)
                    )
                ),
            ).alias("__s"),
            F.aggregate(
                toks,
                F.lit(0),
                lambda acc, w: acc
                + F.greatest(
                    F.lit(1),
                    F.size(
                        F.regexp_extract_all(
                            w, F.lit("[aeiouy]+"), F.lit(0)
                        )
                    ),
                ),
            ).alias("__y"),
        )
    )
    per = base.groupBy("__g").agg(
        F.count("*").alias("n_docs"),
        F.sum("__w").alias("__ws"),
        F.sum("__s").alias("__ss"),
        F.sum("__y").alias("__ys"),
    )
    wps = F.col("__ws").cast("double") / F.col("__ss").cast("double")
    ypw = F.col("__ys").cast("double") / F.col("__ws").cast("double")
    return per.select(
        F.col("__g").alias(group_col),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("__ws").cast("long").alias("words"),
        F.col("__ss").cast("long").alias("sentences"),
        F.col("__ys").cast("long").alias("syllables"),
        F.round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * ypw, 6
        ).alias("flesch"),
        F.round(
            F.lit(0.39) * wps + F.lit(11.8) * ypw - F.lit(15.59), 6
        ).alias("fk_grade"),
    )


def distinct_ngram_ratios(
    df: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Distinct-n diversity ratios (distinct n-grams / total n-grams,
    n = 1..3) per group — the generation-diversity metric (Li et al.
    2016's distinct-1/2) applied as a corpus audit: near-duplicate or
    templated sources collapse the ratio long before exact dedup
    fires.  Output per group: ``(group, total_1, distinct_1, ratio_1,
    ..., ratio_3)`` (ROUND 6).

    Scale posture: three (group, gram) count shuffles over map-side
    gram emission (array expressions, no UDF); ratios from integer
    aggregates."""
    from conte_to_fresco_etl_spark.functions.text import tokens
    from conte_to_fresco_etl_spark.parallelism import (
        DENSE_BYTES_PER_TASK,
        ensure_min_parallelism,
    )

    base = ensure_min_parallelism(
        df.select(F.col(group_col).alias("__g"), F.col(text_col)).filter(
            F.col("__g").isNotNull()
        ),
        DENSE_BYTES_PER_TASK,
    ).select("__g", tokens(F.col(text_col)).alias("__t"))

    def grams(n: int):
        t = F.col("__t")
        # guard: sequence(1, 0) DESCENDS — emit [] below n tokens
        return F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (n - 1)),
                lambda i: F.concat_ws(
                    " ",
                    *[F.element_at(t, i + j) for j in range(n)],
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    out = None
    for n in (1, 2, 3):
        cnt = (
            base.select("__g", F.explode(grams(n)).alias("__gram"))
            .filter(F.length("__gram") > 0)
            .groupBy("__g", "__gram")
            .agg(F.count("*").alias("__c"))
            .groupBy("__g")
            .agg(
                F.sum("__c").alias(f"total_{n}"),
                F.count("*").alias(f"distinct_{n}"),
            )
        )
        out = cnt if out is None else out.join(cnt, "__g", "left")
    sel = [F.col("__g").alias(group_col)]
    for n in (1, 2, 3):
        t, d = F.col(f"total_{n}"), F.col(f"distinct_{n}")
        sel += [
            F.coalesce(t, F.lit(0)).cast("long").alias(f"total_{n}"),
            F.coalesce(d, F.lit(0)).cast("long").alias(f"distinct_{n}"),
            F.when(
                t > 0,
                F.round(d.cast("double") / t.cast("double"), 6),
            ).alias(f"ratio_{n}"),
        ]
    return out.select(*sel)


def rouge_recall_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_id: int = 60,
) -> DataFrame:
    """ROUGE-1 and ROUGE-2 recall of each document against its
    predecessor id (candidate d vs reference d-1) over a bounded id
    range — the n-gram recall metric summarization/distillation evals
    report, here as the declared-query form of the clipped-count
    machinery (token multiset intersection over ref totals).  Output:
    ``(cand_id, ref_id, rouge1_recall, rouge2_recall)`` (ROUND 6;
    0 when nothing overlaps, NULL when the reference side is empty).

    Scale posture: per-doc n-gram count tables (map-side emission),
    pair overlap via (gram, adjacent-id) equi-joins — the pair spine
    is id-arithmetic, never a cross."""
    from conte_to_fresco_etl_spark.functions.text import tokens
    from conte_to_fresco_etl_spark.parallelism import (
        DENSE_BYTES_PER_TASK,
        ensure_min_parallelism,
    )

    base = ensure_min_parallelism(
        df.filter(
            F.col(id_col).isNotNull() & (F.col(id_col) < max_id)
        ).select(F.col(id_col).alias("__d"), F.col(text_col)),
        DENSE_BYTES_PER_TASK,
    ).select("__d", tokens(F.col(text_col)).alias("__t"))

    def gram_counts(n: int) -> DataFrame:
        t = F.col("__t")
        g = F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(t, i + j) for j in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return (
            base.select("__d", F.explode(g).alias("__gram"))
            .filter(F.length("__gram") > 0)
            .groupBy("__d", "__gram")
            .agg(F.count("*").alias("__c"))
        )

    ids = base.select("__d").distinct()
    prev = ids.select((F.col("__d") + 1).alias("__d"))
    spine = ids.join(prev, "__d").select(
        F.col("__d").alias("cand_id"), (F.col("__d") - 1).alias("ref_id")
    )
    out = spine
    for n, label in ((1, "rouge1_recall"), (2, "rouge2_recall")):
        gc = gram_counts(n).localCheckpoint(eager=False)
        cand = gc.select(
            F.col("__d").alias("cand_id"),
            F.col("__gram"),
            F.col("__c").alias("__cc"),
        )
        ref = gc.select(
            (F.col("__d") + 1).alias("cand_id"),
            F.col("__gram"),
            F.col("__c").alias("__rc"),
        )
        ov = (
            cand.join(ref, ["cand_id", "__gram"])
            .groupBy("cand_id")
            .agg(
                F.sum(F.least(F.col("__cc"), F.col("__rc"))).alias("__ov")
            )
        )
        rt = gc.groupBy("__d").agg(F.sum("__c").alias("__rt")).select(
            (F.col("__d") + 1).alias("cand_id"), "__rt"
        )
        out = (
            out.join(ov, "cand_id", "left")
            .join(rt, "cand_id", "left")
            .withColumn(
                label,
                F.when(
                    F.col("__rt") > 0,
                    F.round(
                        F.coalesce(F.col("__ov"), F.lit(0)).cast("double")
                        / F.col("__rt").cast("double"),
                        6,
                    ),
                ),
            )
            .drop("__ov", "__rt")
        )
    return out.select(
        F.col("cand_id").cast("long").alias("cand_id"),
        F.col("ref_id").cast("long").alias("ref_id"),
        "rouge1_recall",
        "rouge2_recall",
    )


def vocabulary_coverage_by_group(
    df: DataFrame, group_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Vocabulary-coverage estimators per group: Chao1 richness
    (bias-corrected, V + V1(V1-1)/(2(V2+1)) — how many types exist
    that we have NOT crawled yet) and the Good-Turing unseen mass
    P0 = V1/N (the probability the NEXT token is a new type) — the
    "is more crawling worth it" pair next to [[q_vocab_growth]]'s
    Heaps curve.  Output per group: ``(group, n_tokens, vocab, v1,
    v2, chao1, unseen_mass, coverage)`` (ROUND 6).

    Scale posture: ONE (group, token) count shuffle; every estimator
    is an integer aggregate over it."""
    from conte_to_fresco_etl_spark.functions.text import tokens
    from conte_to_fresco_etl_spark.parallelism import (
        DENSE_BYTES_PER_TASK,
        ensure_min_parallelism,
    )

    tok = (
        ensure_min_parallelism(
            df.select(
                F.col(group_col).alias("__g"), F.col(text_col)
            ).filter(F.col("__g").isNotNull()),
            DENSE_BYTES_PER_TASK,
        )
        .select("__g", F.explode(tokens(F.col(text_col))).alias("__t"))
        .filter(F.length("__t") > 0)
    )
    cells = tok.groupBy("__g", "__t").agg(F.count("*").alias("__c"))
    per = cells.groupBy("__g").agg(
        F.sum("__c").alias("__n"),
        F.count("*").alias("__v"),
        F.sum(F.when(F.col("__c") == 1, 1).otherwise(0)).alias("__v1"),
        F.sum(F.when(F.col("__c") == 2, 1).otherwise(0)).alias("__v2"),
    )
    v1d = F.col("__v1").cast("double")
    chao1 = F.col("__v").cast("double") + v1d * (v1d - 1) / (
        F.lit(2.0) * (F.col("__v2").cast("double") + 1)
    )
    p0 = v1d / F.col("__n").cast("double")
    return per.select(
        F.col("__g").alias(group_col),
        F.col("__n").cast("long").alias("n_tokens"),
        F.col("__v").cast("long").alias("vocab"),
        F.col("__v1").cast("long").alias("v1"),
        F.col("__v2").cast("long").alias("v2"),
        F.round(chao1, 6).alias("chao1"),
        F.round(p0, 6).alias("unseen_mass"),
        F.round(F.lit(1.0) - p0, 6).alias("coverage"),
    )


def naive_bayes_classify(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
    test_mod: int = 5,
) -> DataFrame:
    """Multinomial Naive Bayes trained and evaluated distributed: train
    on docs with ``id % test_mod != 0``, score the held-out rest, and
    emit the confusion matrix — the classic fast lexical classifier
    (language ID, quality tiers, topic routing) a curation pipeline
    reaches for BEFORE paying for a neural one.  Laplace alpha=1
    smoothing; tokens unseen in training still contribute their
    smoothed per-class mass (they re-rank only via class totals).
    Output — one row per confusion cell:
    ``(true_label, pred_label, n_docs)``.

    Scale posture: training IS aggregation — (class, token) counts and
    class totals are map-combinable collapses; scoring joins test-doc
    term frequencies against the vocabulary-sized model table by token
    (the k-class fan-out is a broadcast of the k-row class table); the
    argmax is a per-doc window over k rows.  Nothing all-pairs,
    nothing driver-side except the k-row class stats."""
    base = df.filter(
        F.col(text_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(id_col).alias("__id"),
        F.col(label_col).alias("__y"),
        tokens(F.col(text_col)).alias("__toks"),
    )
    is_test = (F.col("__id") % F.lit(int(test_mod))) == 0
    train_tok = (
        base.filter(~is_test)
        .select("__y", explode_nonempty("__toks").alias("__tok"))
    )
    # model: per (class, token) counts; k-row class stats; |V| scalar.
    # r13: cnt is the ONE tokenize+explode collapse — class totals
    # (Σ __c per class ≡ per-class token count) and the vocabulary size
    # (distinct __m_tok ≡ distinct train token) DERIVE from it instead
    # of re-running the corpus tokenization per statistic, and the
    # class doc counts feed both the prior join and the ndocs scalar
    # (exact integer identities; batch-1 multi-consumer convention).
    cnt = (
        train_tok.groupBy(
            F.col("__y").alias("__m_y"), F.col("__tok").alias("__m_tok")
        )
        .agg(F.count("*").alias("__c"))
        .localCheckpoint(eager=False)
    )
    cls = cnt.groupBy(F.col("__m_y").alias("__y")).agg(
        F.sum("__c").alias("__tot")
    )
    docs_cls = (
        base.filter(~is_test)
        .groupBy("__y")
        .agg(F.count("*").alias("__docs"))
        .localCheckpoint(eager=False)
    )
    scal = cnt.agg(
        F.countDistinct("__m_tok").alias("__vocab"),
    ).join(
        F.broadcast(docs_cls.agg(F.sum("__docs").alias("__ndocs"))),
        F.lit(True),
    )
    classes = (
        cls.join(docs_cls, "__y")
        .join(F.broadcast(scal), F.lit(True))
        .select(
            F.col("__y").alias("__c_y"),
            F.col("__tot"),
            F.col("__vocab"),
            F.round(
                F.log(
                    F.col("__docs").cast("double")
                    / F.col("__ndocs").cast("double")
                ),
                12,
            ).alias("__prior"),
        )
    )
    test_tf = (
        base.filter(is_test)
        .select("__id", "__y", explode_nonempty("__toks").alias("__tok"))
        .groupBy("__id", "__y", "__tok")
        .agg(F.count("*").alias("__tf"))
    )
    # k-class fan-out (broadcast), then the vocab-sized model join;
    # unseen (class, token) pairs coalesce to the Laplace numerator 1
    fanned = test_tf.join(F.broadcast(classes), F.lit(True)).join(
        cnt,
        (F.col("__c_y") == F.col("__m_y"))
        & (F.col("__tok") == F.col("__m_tok")),
        "left",
    )
    logp = F.round(
        F.log(
            (F.coalesce(F.col("__c"), F.lit(0)) + F.lit(1)).cast("double")
            / (F.col("__tot") + F.col("__vocab")).cast("double")
        ),
        12,
    )
    scores = fanned.groupBy(
        F.col("__id"),
        F.col("__y").alias("__true"),
        F.col("__c_y"),
        F.col("__prior"),
    ).agg(
        F.sum(
            F.round(F.col("__tf").cast("double") * logp, 12).cast(
                "decimal(38,12)"
            )
        ).alias("__s")
    )
    ranked = scores.select(
        "__id",
        "__true",
        "__c_y",
        F.round(
            F.col("__prior") + F.col("__s").cast("double"), 6
        ).alias("__score"),
    )
    w = Window.partitionBy("__id").orderBy(
        F.col("__score").desc(), F.col("__c_y").asc()
    )
    pred = ranked.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    return (
        pred.groupBy(
            F.col("__true").alias("true_label"),
            F.col("__c_y").alias("pred_label"),
        )
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def bleu_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_id: int = 60,
) -> DataFrame:
    """BLEU-2 of each document against its predecessor id (candidate d
    vs reference d-1) over a bounded id range: clipped modified n-gram
    PRECISIONS (the [[q_rouge_pairs]] overlap machinery normalized by
    the CANDIDATE side) with the brevity penalty
    BP = min(1, e^(1 - ref_len/cand_len)) and the geometric mean
    exp((ln p1 + ln p2)/2) — the generation-eval metric paired with
    ROUGE's recall view.  Output: ``(cand_id, ref_id, p1, p2, bleu2)``
    (ROUND 6; bleu2 = 0 when either precision is 0, NULL when the
    candidate side is empty).

    Scale posture: identical to rouge_recall_pairs — per-doc n-gram
    count tables, adjacent-id equi-join pair spine, never a cross."""
    from conte_to_fresco_etl_spark.functions.text import tokens
    from conte_to_fresco_etl_spark.parallelism import (
        DENSE_BYTES_PER_TASK,
        ensure_min_parallelism,
    )

    base = ensure_min_parallelism(
        df.filter(
            F.col(id_col).isNotNull() & (F.col(id_col) < max_id)
        ).select(F.col(id_col).alias("__d"), F.col(text_col)),
        DENSE_BYTES_PER_TASK,
    ).select("__d", tokens(F.col(text_col)).alias("__t"))

    def gram_counts(n: int) -> DataFrame:
        t = F.col("__t")
        g = F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(t, i + j) for j in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return (
            base.select("__d", F.explode(g).alias("__gram"))
            .filter(F.length("__gram") > 0)
            .groupBy("__d", "__gram")
            .agg(F.count("*").alias("__c"))
        )

    ids = base.select("__d").distinct()
    prev = ids.select((F.col("__d") + 1).alias("__d"))
    spine = ids.join(prev, "__d").select(
        F.col("__d").alias("cand_id"), (F.col("__d") - 1).alias("ref_id")
    )
    out = spine
    for n, plabel in ((1, "p1"), (2, "p2")):
        gc = gram_counts(n).localCheckpoint(eager=False)
        cand = gc.select(
            F.col("__d").alias("cand_id"),
            F.col("__gram"),
            F.col("__c").alias("__cc"),
        )
        ref = gc.select(
            (F.col("__d") + 1).alias("cand_id"),
            F.col("__gram"),
            F.col("__c").alias("__rc"),
        )
        ov = (
            cand.join(ref, ["cand_id", "__gram"])
            .groupBy("cand_id")
            .agg(
                F.sum(F.least(F.col("__cc"), F.col("__rc"))).alias("__ov")
            )
        )
        ct = gc.groupBy("__d").agg(F.sum("__c").alias("__ct")).select(
            F.col("__d").alias("cand_id"), "__ct"
        )
        prec = ct.join(ov, "cand_id", "left").select(
            "cand_id",
            F.when(
                F.col("__ct") > 0,
                F.round(
                    F.coalesce(F.col("__ov"), F.lit(0)).cast("double")
                    / F.col("__ct"),
                    9,
                ),
            ).alias(plabel),
        )
        out = out.join(prec, "cand_id", "left")
        if n == 1:
            # unigram totals double as lengths for the brevity penalty
            clen = gc.groupBy("__d").agg(F.sum("__c").alias("__cl"))
            out = out.join(
                clen.select(F.col("__d").alias("cand_id"), "__cl"),
                "cand_id",
                "left",
            ).join(
                clen.select(
                    (F.col("__d") + 1).alias("cand_id"),
                    F.col("__cl").alias("__rl"),
                ),
                "cand_id",
                "left",
            )
    bp = F.least(
        F.lit(1.0),
        F.exp(
            F.lit(1.0)
            - F.col("__rl").cast("double") / F.col("__cl").cast("double")
        ),
    )
    bleu = F.when(
        (F.col("p1") > 0) & (F.col("p2") > 0),
        F.round(
            bp
            * F.exp(
                (F.log(F.col("p1")) + F.log(F.col("p2"))) / F.lit(2.0)
            ),
            6,
        ),
    ).otherwise(
        F.when(
            F.col("p1").isNotNull() & F.col("p2").isNotNull(), F.lit(0.0)
        )
    )
    return out.select(
        "cand_id",
        "ref_id",
        F.round(F.col("p1"), 6).alias("p1"),
        F.round(F.col("p2"), 6).alias("p2"),
        bleu.alias("bleu2"),
    )
