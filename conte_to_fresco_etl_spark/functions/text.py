"""Text-analysis expressions for training-data pipelines.

These extend the reference's surface (it processes HPC metrics, not text)
with the operators a 100 TB LLM-data pipeline needs: tokenization, n-gram
shingling, quality scoring, language ID, fingerprinting, SimHash.

Everything is built from ``pyspark.sql.functions`` higher-order array
expressions — JVM-side, codegen-friendly, no Python UDFs.  Hash primitives
use md5 (identical hex output in Spark and DuckDB/ANSI SQL) so every
operator has an exact cross-engine oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from conte_to_fresco_etl_spark.functions.core import _col

#: Small per-language stopword lists for the n-gram/stopword language-ID
#: heuristic.  Deliberately tiny and deterministic; real deployments swap
#: in bigger lists without changing the plan shape.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "por", "con"],
    "fr": ["le", "la", "de", "et", "un", "une", "est", "pour", "que", "dans"],
    "zh": ["的", "了", "是", "我", "在", "有", "和", "不", "这", "他"],
}

#: English stopwords reused by the quality score.
EN_STOPWORDS = LANG_STOPWORDS["en"]


def tokens(c: Column | str, lowercase: bool = True) -> Column:
    """Whitespace tokenization; empty/blank text → empty array.

    ``split(trim(x), '\\s+')`` — on an empty string Spark returns
    ``['']``, so guard explicitly to yield ``[]``.
    """
    c = _col(c)
    if lowercase:
        c = F.lower(c)
    t = F.trim(c)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def explode_nonempty(c: Column | str) -> Column:
    """``explode`` of a DERIVED array column without the optimizer's
    inferred pre-filter.  ``InferFiltersFromGenerate`` adds
    ``size(child) > 0 AND isnotnull(child)`` under an explode whose
    child is a bare attribute, and predicate pushdown then inlines the
    array-producing expression (tokenize, shingle) into a scan-side
    Filter — re-deriving it per row BELOW the fan-out repartition,
    i.e. single-task at one-row-group-per-file scale (r13, measured on
    q_unigram_nll and siblings).  Wrapping the child in the equivalent
    ``when()`` guard leaves the rule nothing to infer; results are
    identical — explode drops NULL exactly as it drops empty arrays."""
    c = _col(c)
    return F.explode(F.when(F.size(c) > 0, c))


def posexplode_nonempty(c: Column | str) -> Column:
    """``posexplode`` twin of :func:`explode_nonempty`."""
    c = _col(c)
    return F.posexplode(F.when(F.size(c) > 0, c))


def token_count(c: Column | str) -> Column:
    """Whitespace token count (BPE-ish proxy: see ``approx_bpe_count``)."""
    return F.size(tokens(c)).cast("long")


def approx_bpe_count(c: Column | str, chars_per_token: float = 4.0) -> Column:
    """Cheap BPE token estimate: ``ceil(len(text)/chars_per_token)`` —
    the standard ~4-chars/token heuristic, exact-arithmetic so it has a
    SQL oracle."""
    return F.ceil(F.length(_col(c)) / F.lit(float(chars_per_token))).cast("long")


def char_shingles(c: Column | str, n: int = 5) -> Column:
    """Distinct character n-grams (shingles) of the lowercased text.

    ``transform(sequence(1, len-n+1), i -> substr(text, i, n))`` — a pure
    higher-order expression, no explode (no row blow-up before the MinHash
    aggregate).  Guarded: Spark's ``sequence(1, 0)`` DESCENDS, so short
    texts must short-circuit to an empty array."""
    c = F.lower(_col(c))
    return F.when(
        F.length(c) < n, F.array().cast("array<string>")
    ).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(c) - F.lit(n - 1)),
                lambda i: c.substr(i, F.lit(n)),
            )
        )
    )


def md5_long(c: Column | str, hex_chars: int = 15) -> Column:
    """Portable 60-bit hash: first ``hex_chars`` hex digits of md5 as a
    BIGINT.  DuckDB oracle: ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``.
    """
    return F.conv(F.substring(F.md5(_col(c)), 1, hex_chars), 16, 10).cast("long")


def punct_ratio(c: Column | str) -> Column:
    """Fraction of non-alphanumeric, non-space characters."""
    c = _col(c)
    stripped = F.regexp_replace(c, r"[^a-zA-Z0-9\s]", "")
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(
        (F.length(c) - F.length(stripped)).cast("double") / F.length(c)
    )


def stopword_ratio(c: Column | str, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are (English, by default) stopwords."""
    sw = stopwords if stopwords is not None else EN_STOPWORDS
    toks = tokens(c)
    sw_arr = F.array(*[F.lit(w) for w in sw])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw_arr, t)))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        hits.cast("double") / F.size(toks)
    )


def quality_score(c: Column | str) -> Column:
    """Heuristic document quality in [0, 1]:

      0.4 * min(1, n_tokens/100)      — enough content
    + 0.3 * (1 - punct_ratio)         — not symbol soup
    + 0.3 * min(1, 4*stopword_ratio)  — natural-language-like

    Deterministic arithmetic only, so it has an exact SQL oracle.
    """
    nt = token_count(c).cast("double")
    return (
        F.lit(0.4) * F.least(F.lit(1.0), nt / F.lit(100.0))
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio(c))
        + F.lit(0.3) * F.least(F.lit(1.0), F.lit(4.0) * stopword_ratio(c))
    )


def lang_id(c: Column | str) -> Column:
    """Stopword-hit language ID over LANG_STOPWORDS.

    Score per language = #tokens in that language's stopword list; winner
    by (score desc, language code asc); zero hits anywhere → 'und'.
    Ties resolved deterministically by code order, so the CASE chain below
    (codes in sorted order, strict '>' against already-seen codes) is an
    exact argmax.
    """
    toks = tokens(c)
    return lang_id_from_tokens(toks)


def lang_id_from_tokens(toks: Column) -> Column:
    """``lang_id`` over an ALREADY-TOKENIZED array column.  Use this
    form whenever the caller can materialize the token array in a prior
    select: Catalyst's common-subexpression elimination does not cross
    higher-order-function lambda boundaries, so the inlined form
    re-runs the tokenizing regex once per language score — O(|langs|)
    full-text regex passes that pre-tokenizing collapses to one."""
    entries = []
    # argmax via one array_max over (score, -index, code) structs:
    # highest score wins; on ties the smallest index (earliest code in
    # sorted order) wins because -index is compared next.  Each score
    # expression appears exactly ONCE in the plan, where a when()-fold
    # would duplicate it into every later branch.
    for i, code in enumerate(sorted(LANG_STOPWORDS)):
        sw_arr = F.array(*[F.lit(w) for w in LANG_STOPWORDS[code]])
        score = F.size(F.filter(toks, lambda t: F.array_contains(sw_arr, t)))
        entries.append(
            F.struct(
                score.alias("s"),
                F.lit(-i).alias("ni"),
                F.lit(code).alias("code"),
            )
        )
    best = F.array_max(F.array(*entries))
    return F.when(best["s"] > 0, best["code"]).otherwise(F.lit("und"))


def doc_fingerprint(c: Column | str) -> Column:
    """64-bit-ish (60-bit) content fingerprint of whitespace-normalized,
    lowercased text — the exact-dedup key."""
    norm = F.regexp_replace(F.trim(F.lower(_col(c))), r"\s+", " ")
    return md5_long(norm)


def simhash32(c: Column | str) -> Column:
    """32-bit SimHash over whitespace tokens (with multiplicity).

    Per token: 32-bit hash from md5.  Per bit b: sum over tokens of
    (+1 if bit set else -1); simhash bit b = 1 iff sum > 0.  Built as
    nested higher-order aggregates — no explode, no shuffle.
    """
    toks = tokens(c)
    hashes = F.transform(toks, lambda t: md5_long(t, hex_chars=8))
    # Single pass over the token hashes: the accumulator is the 32-vector
    # of bit votes, merged with zip_with (vs. 32 separate aggregates — a
    # 32x traversal reduction; same integer votes, same result).
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), 32),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(
                        F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                    )
                    .otherwise(F.lit(-1))
                    .cast("long")
                    for b in range(32)
                ]
            ),
            lambda x, y: x + y,
        ),
    )
    bit_values = F.array(*[F.lit(1 << b).cast("long") for b in range(32)])
    return F.aggregate(
        F.zip_with(
            votes,
            bit_values,
            lambda v, bv: F.when(v > 0, bv).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


# ---------------------------------------------------------------------------
# Repetition / heuristic quality-filter signals (Gopher/C4-style)
# ---------------------------------------------------------------------------

def doc_lines(c: Column | str) -> Column:
    """Non-empty trimmed lines of the document (split on ``\\n``)."""
    # a one-argument lambda: ``F.transform(.., F.trim)`` would pass the
    # element INDEX as trim's second (trim-characters) argument
    parts = F.transform(F.split(_col(c), "\n"), lambda l: F.trim(l))
    return F.filter(parts, lambda l: F.length(l) > 0)


def dup_line_fraction(c: Column | str) -> Column:
    """Fraction of non-empty lines that are duplicates of an earlier
    line: ``1 - distinct/total``.  High values flag boilerplate and
    machine-generated repetition (Gopher repetition rule #1)."""
    ls = doc_lines(c)
    return F.when(F.size(ls) == 0, F.lit(0.0)).otherwise(
        F.lit(1.0)
        - F.size(F.array_distinct(ls)).cast("double") / F.size(ls)
    )


def word_ngrams_all(c: Column | str, n: int = 2) -> Column:
    """Word n-grams WITH multiplicity — repetition metrics need the
    duplicates (a Jaccard set is ``array_distinct`` of this)."""
    toks = tokens(c)
    return F.when(
        F.size(toks) < n, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )


def dup_ngram_fraction(c: Column | str, n: int = 2) -> Column:
    """Fraction of word n-grams that are repeats: ``1 -
    distinct/total`` (Gopher duplicate-n-gram rule)."""
    gs = word_ngrams_all(c, n)
    return F.when(F.size(gs) == 0, F.lit(0.0)).otherwise(
        F.lit(1.0)
        - F.size(F.array_distinct(gs)).cast("double") / F.size(gs)
    )


def mean_word_length(c: Column | str) -> Column:
    """Mean token length in characters; 0.0 for empty docs.  Outside
    [3, 10] flags symbol soup or run-together text (Gopher)."""
    toks = tokens(c)
    total = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.length(t),
    )
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        total.cast("double") / F.size(toks)
    )


def symbol_word_ratio(c: Column | str) -> Column:
    """(# of ``#`` + # of ``...`` occurrences) / token count — the
    Gopher symbol-to-word rule (> 0.1 flags markup/ellipsis spam)."""
    c = _col(c)
    n_hash = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    n_ell = (
        F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    nt = token_count(c)
    return F.when(nt == 0, F.lit(0.0)).otherwise(
        (n_hash + n_ell).cast("double") / nt
    )


def bullet_line_fraction(c: Column | str) -> Column:
    """Fraction of lines starting with a bullet marker (- * •)."""
    ls = doc_lines(c)
    bullets = F.filter(
        ls,
        lambda l: F.substring(l, 1, 1).isin("-", "*", "•"),
    )
    return F.when(F.size(ls) == 0, F.lit(0.0)).otherwise(
        F.size(bullets).cast("double") / F.size(ls)
    )


def ellipsis_line_fraction(c: Column | str) -> Column:
    """Fraction of lines ending in ``...`` (truncation spam)."""
    ls = doc_lines(c)
    ell = F.filter(ls, lambda l: l.endswith("..."))
    return F.when(F.size(ls) == 0, F.lit(0.0)).otherwise(
        F.size(ell).cast("double") / F.size(ls)
    )


def alpha_word_fraction(c: Column | str) -> Column:
    """Fraction of tokens containing at least one ASCII letter (Gopher:
    >= 0.8 expected of natural language)."""
    toks = tokens(c)
    alpha = F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        F.size(alpha).cast("double") / F.size(toks)
    )
