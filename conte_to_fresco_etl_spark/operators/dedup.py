"""Deduplication operators for training-data pipelines.

Five dedup families, each designed for 100 TB scale:

  * exact            — hash-groupBy on normalized content (one shuffle).
  * MinHash + LSH    — shingle → minhash signature (pure higher-order
                       expressions, no explode) → banded bucket join →
                       candidate pairs → signature-estimated Jaccard.
                       The classic near-dup path: candidate generation is
                       a self-equi-join on (band, key), so Spark shuffles
                       on small bucket keys instead of comparing all pairs.
  * SimHash          — 32-bit signature; candidates via 4x8-bit band
                       pigeonhole (exact for hamming <= 3: a pair within
                       distance 3 must agree on >= 1 of 4 bands).
  * n-gram Jaccard   — exact word-ngram Jaccard within blocking groups.
  * embedding cosine — two forms: ``embedding_lsh_neardup_pairs`` (the
                       scale default — banded sign-signature self-join,
                       nothing collected to the driver) and
                       ``embedding_neardup_pairs`` (exact brute force,
                       the recall baseline it is validated against).

All hashes derive from md5 (identical in Spark and ANSI SQL/DuckDB), so
every operator has an exact cross-engine oracle.  Reference repo has no
dedup beyond full-row drop_duplicates (transform_conte_ts_data.py:1043);
these extend SURVEY §2 per the build brief.
"""

from __future__ import annotations

import hashlib
import random
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from conte_to_fresco_etl_spark.session import free_blocks
from conte_to_fresco_etl_spark.functions.text import (
    char_shingles,
    doc_fingerprint,
    md5_long,
    simhash32,
)
from conte_to_fresco_etl_spark.parallelism import (
    DENSE_BYTES_PER_TASK,
    ensure_min_parallelism,
)

#: Mersenne prime 2^31-1: keeps a*h+b inside int64 for 31-bit a, h.
MINHASH_PRIME = 2147483647

#: ASCII whitespace split — the Python twin of ``functions.text.tokens``
#: (Java regex ``\s`` is ASCII-only; re.ASCII matches that, where
#: Python's default unicode ``\s`` would not).
_WS_RE = re.compile(r"\s+", re.ASCII)


def _py_tokens(text: str | None) -> list[str]:
    """Python twin of ``functions.text.tokens`` for Arrow operator
    paths — EXACT to the expression's edge semantics (trim removes
    spaces only; Spark split keeps leading/trailing empty tokens from
    non-space whitespace; see text_analysis._expr_tokens_twin)."""
    if text is None:
        return []
    t = text.lower().strip(" ")
    return _WS_RE.split(t) if t else []


def minhash_coefficients(
    num_hashes: int = 48, seed: int = 42
) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the permutation family
    ``h_i(x) = (a_i * x + b_i) mod P``."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
        for _ in range(num_hashes)
    ]


def exact_duplicate_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per content-fingerprint group stats (group size, representative =
    min id).  ``n_dups > 1`` rows are the duplicate clusters."""
    return (
        df.select(
            F.col(id_col), doc_fingerprint(F.col(text_col)).alias("fingerprint")
        )
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_dups"),
            F.min(id_col).alias("representative"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 48,
    shingle_n: int = 5,
    seed: int = 42,
    impl: str = "arrow",
) -> DataFrame:
    """(id, sig: array<long>) — minhash signature per document.

    Documents shorter than ``shingle_n`` chars (no shingles) are dropped.
    Two implementations computing the SAME integer signature (verified by
    the shared DuckDB oracle):

      * ``arrow`` (default): ``mapInPandas`` — md5 per shingle in Python,
        the k permutation-mins as one vectorized NumPy broadcast
        ``min((a*h+b) % P, axis=1)``.  ~4x faster than the expression
        path: per-shingle hashing + 48 modmuls is dense integer math that
        Catalyst's interpreted higher-order lambdas evaluate per-element.
      * ``expr``: pure higher-order expressions — no Python workers, the
        form to read for the plan's semantics (and the shape the SQL
        oracle mirrors).

    Both are map-side only: no explode, no shuffle.
    """
    coeffs = minhash_coefficients(num_hashes, seed)
    if impl == "arrow":
        a_np = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
        b_np = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]
        n, prime = shingle_n, MINHASH_PRIME

        def sig_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # shingle → hash memo, shared across the partition's batches:
            # 5-gram shingles repeat heavily across documents, so most
            # md5 calls are saved.  int.from_bytes(digest[:8]) >> 4 ==
            # int(hexdigest[:15], 16) — first 60 bits either way.
            md5 = hashlib.md5
            memo: dict[str, int] = {}
            for pdf in it:
                ids, sigs = [], []
                for i, t in zip(pdf[id_col], pdf[text_col]):
                    if t is None:
                        continue
                    t = t.lower()
                    if len(t) < n:
                        continue
                    shingles = {t[j : j + n] for j in range(len(t) - n + 1)}
                    hl = []
                    for s in shingles:
                        h = memo.get(s)
                        if h is None:
                            h = (
                                int.from_bytes(
                                    md5(s.encode()).digest()[:8], "big"
                                )
                                >> 4
                            ) % prime
                            memo[s] = h
                        hl.append(h)
                    hs = np.array(hl, dtype=np.int64)
                    ids.append(i)
                    sigs.append(((a_np * hs + b_np) % prime).min(axis=1))
                # a batch where every doc was null/too-short would emit
                # an empty frame, whose inferred float64 column Arrow
                # cannot cast to array<long> — skip it
                if ids:
                    yield pd.DataFrame(
                        {id_col: ids, "sig": [s.tolist() for s in sigs]}
                    )

        return ensure_min_parallelism(
            df.select(id_col, text_col), DENSE_BYTES_PER_TASK
        ).mapInPandas(
            sig_batches, schema=f"{id_col} long, sig array<long>"
        )

    base = F.transform(
        char_shingles(F.col(text_col), shingle_n),
        lambda s: md5_long(s) % MINHASH_PRIME,
    )
    out = ensure_min_parallelism(df, DENSE_BYTES_PER_TASK).select(
        F.col(id_col), base.alias("__base")
    )

    # NB: PySpark derives lambda arity from the signature, so constants
    # must be bound via a closure factory, not default args.
    def perm(a: int, b: int):
        return lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_PRIME

    sig = F.array(
        *[
            F.array_min(F.transform(F.col("__base"), perm(a, b)))
            for a, b in coeffs
        ]
    )
    return out.filter(F.size("__base") > 0).select(
        F.col(id_col), sig.alias("sig")
    )


def _minhash_band_structs(num_hashes: int, bands: int):
    """Array of (band, key) structs over a ``sig`` column — the ONE
    definition of the LSH band-key encoding (concat of the band's
    signature slice); shared by the self-join and incremental forms so
    the two can never silently disagree."""
    rows = num_hashes // bands
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.concat_ws(
                    ",",
                    *[
                        F.col("sig")[i * rows + j].cast("string")
                        for j in range(rows)
                    ],
                ).alias("key"),
            )
            for i in range(bands)
        ]
    )


def _sig_agreement_est(num_hashes: int):
    """Estimated Jaccard from two attached signatures ``sig_a``/``sig_b``:
    fraction of agreeing components."""
    return (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / F.lit(float(num_hashes))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 48,
    bands: int = 12,
    shingle_n: int = 5,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH, scored by
    the signature-estimated Jaccard (fraction of equal components).

    Plan shape (the 100 TB path):
      signatures (map-side) → explode into ``bands`` rows/doc →
      self-equi-join on (band, band_key) → distinct pairs →
      estimate from signatures → filter >= threshold.

    The join key is (band index, concatenated band slice), so only
    bucket collisions are compared — never the full cross product.
    """
    # Persist: the signature table feeds BOTH sides of the self-join and
    # the estimate; without it Spark recomputes the (expensive) signature
    # stage once per branch.  Tiny relative to input (k longs per doc) —
    # at 100 TB materialize it to parquet instead and bucket by band key.
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_n, seed
    ).persist()
    band_structs = _minhash_band_structs(num_hashes, bands)
    # Bucket join on NARROW rows (id, band, key) — the signatures do NOT
    # ride the shuffle (48 longs x 2 per candidate is ~30x the pair row;
    # measured ~2x on the whole operator).  Signatures re-attach after
    # pair dedup via two broadcast joins against the persisted table.
    exploded = sigs.select(F.col(id_col), F.explode(band_structs).alias("b"))
    l, r = exploded.alias("l"), exploded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.b.band") == F.col("r.b.band"))
            & (F.col("l.b.key") == F.col("r.b.key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    est = _sig_agreement_est(num_hashes)
    return (
        cand.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select("id_a", "id_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    impl: str = "arrow",
) -> DataFrame:
    """(id, sim: long) — 32-bit SimHash per document.

    ``arrow`` (default) computes the identical integer as the
    ``functions.text.simhash32`` expression (kept as ``impl='expr'``):
    md5-derived 32-bit token hashes, per-bit +1/-1 votes, bit set where
    the vote sum is positive.  Token multiplicity counts (votes are per
    occurrence, not per distinct token).  Empty/None text → 0."""
    if impl == "arrow":
        bit_idx = np.arange(32, dtype=np.int64)

        def sim_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                ids, sims = [], []
                for i, t in zip(pdf[id_col], pdf[text_col]):
                    toks = _py_tokens(t)
                    if not toks:
                        ids.append(i)
                        sims.append(0)
                        continue
                    hs = np.array(
                        [
                            int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
                            for tok in toks
                        ],
                        dtype=np.int64,
                    )
                    votes = (((hs[:, None] >> bit_idx) & 1) * 2 - 1).sum(
                        axis=0
                    )
                    ids.append(i)
                    sims.append(
                        int(((votes > 0).astype(np.int64) << bit_idx).sum())
                    )
                yield pd.DataFrame({id_col: ids, "sim": sims})

        return ensure_min_parallelism(
            df.select(id_col, text_col), DENSE_BYTES_PER_TASK
        ).mapInPandas(
            sim_batches, schema=f"{id_col} long, sim long"
        )
    return ensure_min_parallelism(df, DENSE_BYTES_PER_TASK).select(
        F.col(id_col), simhash32(F.col(text_col)).alias("sim")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs with hamming distance <= ``max_hamming``.

    Candidates via 4x8-bit band pigeonhole: distance <= 3 over 32 bits
    implies at least one of the 4 byte-bands is identical, so the
    band-bucket join is EXACT (no recall loss) for max_hamming <= 3.
    """
    # Persist: both self-join branches read the signatures; the simhash
    # computation (md5 + 32-bit votes per token) is the dominant cost.
    sigs = simhash_signatures(df, id_col, text_col).persist()
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(F.col("sim"), 8 * i).bitwiseAND(F.lit(255)).alias("key"),
            )
            for i in range(4)
        ]
    )
    exploded = sigs.select(
        F.col(id_col), F.col("sim"), F.explode(band_structs).alias("b")
    )
    l, r = exploded.alias("l"), exploded.alias("r")
    ham = F.bit_count(F.col("l.sim").bitwiseXOR(F.col("r.sim")))
    return (
        l.join(
            r,
            (F.col("l.b.band") == F.col("r.b.band"))
            & (F.col("l.b.key") == F.col("r.b.key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def _gram_posting_batches(in_cols: list[str], text_col: str, n: int):
    """Arrow batch fn emitting one (keys..., ``__g``) row per DISTINCT
    word-``n``-gram per doc — the inverted-index posting builder shared
    by ngram_jaccard_pairs and decontaminate."""

    def posting_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {c: [] for c in in_cols}
            out["__g"] = []
            for vals in zip(*(pdf[c] for c in in_cols), pdf[text_col]):
                *keys, t = vals
                toks = _py_tokens(t)
                if len(toks) < n:
                    continue
                for g in {
                    " ".join(toks[j : j + n])
                    for j in range(len(toks) - n + 1)
                }:
                    for c, v in zip(in_cols, keys):
                        out[c].append(v)
                    out["__g"].append(g)
            yield pd.DataFrame(out)

    return posting_batches


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_n: int = 3,
    train_grams: DataFrame | None = None,
    eval_grams: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination: per training document, how many of its
    distinct word-``ngram_n``-grams also appear in the evaluation set —
    the overlap probe run before any eval-set score is trusted.

    Returns (id, n_grams, n_contam, contaminated); documents shorter
    than ``ngram_n`` tokens carry zero grams and are kept (trivially
    clean), so the output covers every training row.

    Plan shape (the 100 TB posture): the eval side is a benchmark
    suite — orders of magnitude smaller than training data — so its
    distinct grams BROADCAST; the training side is one map-side
    explode, a broadcast-hash left join against the gram set, and a
    single groupBy(id) that counts total and hit grams in the same
    aggregation.  One shuffle total, keyed by doc id; nothing persists,
    nothing collects.  If the eval side ever outgrows a broadcast,
    hash-partition both posting lists on the gram and sort-merge —
    the counts are unchanged.

    ``train_grams`` / ``eval_grams``: optional pre-computed posting
    frames ``(id_col, __g)`` with one row per DISTINCT gram per doc —
    the composition hook for callers that fuse gram emission into a
    wider Arrow pass (r14 curation fuse).  They must come from
    :func:`_gram_posting_batches` with the same ``ngram_n`` so the
    verdicts are identical by construction; the counting join (the
    operator's semantics) always runs here."""
    fn = _gram_posting_batches([id_col], text_col, ngram_n)
    schema = f"{id_col} long, __g string"
    train_g = (
        train_grams
        if train_grams is not None
        else ensure_min_parallelism(
            train.select(id_col, text_col), DENSE_BYTES_PER_TASK
        ).mapInPandas(fn, schema=schema)
    )
    eval_g = (
        (
            eval_grams.select("__g")
            if eval_grams is not None
            else ensure_min_parallelism(
                eval_df.select(id_col, text_col), DENSE_BYTES_PER_TASK
            )
            .mapInPandas(fn, schema=schema)
            .select("__g")
        )
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    counted = (
        train_g.join(F.broadcast(eval_g), "__g", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.count("__hit").alias("n_contam"),
        )
    )
    return (
        train.select(id_col)
        .join(counted, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_contam", F.lit(0)).cast("long").alias("n_contam"),
        )
        .withColumn("contaminated", F.col("n_contam") > 0)
    )


def decontaminate_bloom(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_n: int = 3,
    bits_per_gram: int = 12,
    num_hashes: int = 5,
) -> DataFrame:
    """:func:`decontaminate` with a Bloom-filter prefilter — the form
    that survives an eval suite too large to broadcast as strings.

    Output is IDENTICAL to :func:`decontaminate` (same columns, same
    values): the Bloom filter only *prefilters* training grams, and an
    exact broadcast join against the real eval-gram set confirms every
    survivor, so false positives cost time, never correctness.

    Why this is the 100 TB shape: the exact path broadcasts every
    distinct eval gram as a string (~30-100 B each); here the broadcast
    payload is a bitmap at ``bits_per_gram`` bits (~1.5 B) per gram —
    a 20-60x smaller broadcast — and the bitmap membership test runs
    JVM-side (whole-stage codegen over shiftright/bitwise-AND), so the
    overwhelmingly-clean training grams never reach the join at all.
    The bitmap itself is built DISTRIBUTED: each eval gram's
    ``num_hashes`` bit positions are grouped by 64-bit word index and
    OR-combined map-side, so the driver only ever sees the m/64 set
    words, not the grams.

    Double hashing (Kirsch-Mitzenmacher): position_i = (h1 + i*h2) mod m
    with h1/h2 = xxhash64 of the gram under two salts — build and probe
    share the same Column expressions, so agreement is by construction.
    """
    fn = _gram_posting_batches([id_col], text_col, ngram_n)
    schema = f"{id_col} long, __g string"
    # persist: the posting build (the expensive Arrow pass over the
    # TRAINING side) feeds two branches of one job — totals and the
    # bloom-prefiltered hits; without the cache it runs twice.
    train_g = (
        ensure_min_parallelism(
            train.select(id_col, text_col), DENSE_BYTES_PER_TASK
        )
        .mapInPandas(fn, schema=schema)
        .persist()
    )
    eval_g = (
        ensure_min_parallelism(
            eval_df.select(id_col, text_col), DENSE_BYTES_PER_TASK
        )
        .mapInPandas(fn, schema=schema)
        .select("__g")
        .distinct()
    )
    eval_g.persist()
    try:
        n_grams_eval = eval_g.count()
        # Bitmap sized to the gram count, padded to whole 64-bit words.
        n_words = max(1, -(-(max(1, n_grams_eval) * bits_per_gram) // 64))
        m_bits = n_words * 64

        def _positions(g: Column) -> Column:
            # Reduce both hashes into [0, m) BEFORE combining: xxhash64
            # spans the full long range, and ANSI mode makes a raw
            # h1 + i*h2 an overflow error, not a wrap.
            h1 = F.pmod(F.xxhash64(g), F.lit(m_bits))
            h2 = F.pmod(F.xxhash64(g, F.lit("bloom-h2")), F.lit(m_bits))
            return F.transform(
                F.sequence(F.lit(0), F.lit(num_hashes - 1)),
                lambda i: F.pmod(h1 + i.cast("long") * h2, F.lit(m_bits)),
            )

        # Distributed build: explode positions, OR bits per word index.
        words = (
            eval_g.select(
                F.explode(_positions(F.col("__g"))).alias("__pos")
            )
            .select(
                (F.col("__pos") / 64).cast("int").alias("__w"),
                (F.col("__pos") % 64).cast("int").alias("__bit"),
            )
            .select(
                "__w",
                F.expr("shiftleft(CAST(1 AS BIGINT), __bit)").alias("__b"),
            )
            .groupBy("__w")
            .agg(F.bit_or("__b").alias("__word"))
            .collect()
        )
        bitmap = [0] * n_words
        for r in words:
            bitmap[r["__w"]] = r["__word"]
        spark = train.sparkSession
        bm_df = spark.createDataFrame(
            # 1 slice: one Python-worker eval instead of 32 (r13)
            spark.sparkContext.parallelize([(bitmap,)], 1),
            "__bm array<long>",
        )

        def _might_contain(g: Column) -> Column:
            return F.forall(
                _positions(g),
                lambda p: F.getbit(
                    F.element_at(F.col("__bm"), (p / 64).cast("int") + 1),
                    (p % 64).cast("int"),
                )
                == 1,
            )

        totals = train_g.groupBy(id_col).agg(F.count("*").alias("n_grams"))
        survivors = (
            train_g.crossJoin(F.broadcast(bm_df))
            .filter(_might_contain(F.col("__g")))
            .drop("__bm")
        )
        hits = (
            survivors.join(F.broadcast(eval_g), "__g")  # exact confirm
            .groupBy(id_col)
            .agg(F.count("*").alias("n_contam"))
        )
        out = (
            train.select(id_col)
            .join(totals, id_col, "left")
            .join(hits, id_col, "left")
            .select(
                F.col(id_col),
                F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
                F.coalesce("n_contam", F.lit(0)).cast("long").alias("n_contam"),
            )
            .withColumn("contaminated", F.col("n_contam") > 0)
        )
        # The cache only amortizes count() + the bitmap collect above;
        # the lazy confirm join recomputes eval_g at evaluation time
        # (map-only over the small eval side — cheaper than holding the
        # cache for the caller's unknown lifetime).
        return out
    finally:
        eval_g.unpersist(blocking=False)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    ngram_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-n-gram Jaccard pairs within blocking groups, via an
    inverted index (the 100 TB plan shape):

      explode grams → (block, gram, id) posting list →
      self-equi-join on (block, gram) → count per (id_a, id_b) =
      |A ∩ B| → join back per-doc sizes → J = inter / (|A|+|B|-inter).

    Pairs sharing zero grams never materialize (they cannot pass any
    threshold > 0), so cost scales with Σ posting-list² instead of the
    full block cross-product — measured ~40x cheaper than the naive
    array_intersect pair scan on the documents table.  Result values are
    bit-identical to the naive formulation (same integer counts).
    """
    # Posting list (id, [block,] gram) — one row per DISTINCT gram per
    # doc.  Arrow path: tokenize + shingle in Python per batch, ~5x
    # faster than materializing an n-gram higher-order expression
    # (string slicing dominates; same distinct-gram set either way).
    in_cols = [id_col] + ([block_col] if block_col else [])
    n = ngram_n
    posting_batches = _gram_posting_batches(in_cols, text_col, n)
    block_field = f", {block_col} string" if block_col else ""
    # Persist: the posting table feeds the size lookup and both join
    # branches — three recomputations of tokenize+shingle otherwise.
    posting = (
        ensure_min_parallelism(df.select(*in_cols, text_col), DENSE_BYTES_PER_TASK)
        .mapInPandas(
            posting_batches,
            schema=f"{id_col} long{block_field}, __g string",
        )
        .persist()
    )
    # grams are distinct per doc, so |A| = posting-row count per id.
    sizes = posting.groupBy(F.col(id_col).alias("__sid")).agg(
        F.count("*").alias("__sz")
    )
    l, r = posting.alias("l"), posting.alias("r")
    cond = (F.col("l.__g") == F.col("r.__g")) & (
        F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
    )
    if block_col:
        cond = (F.col(f"l.{block_col}") == F.col(f"r.{block_col}")) & cond
    inter = (
        l.join(r, cond)
        .groupBy(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("__inter"))
    )
    sa = sizes.withColumnRenamed("__sid", "id_a").withColumnRenamed("__sz", "__sa")
    sb = sizes.withColumnRenamed("__sid", "id_b").withColumnRenamed("__sz", "__sb")
    jac = F.col("__inter").cast("double") / (
        F.col("__sa") + F.col("__sb") - F.col("__inter")
    ).cast("double")
    return (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def editdist_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    str_col: str = "title",
    max_dist: int = 1,
) -> DataFrame:
    """Edit-distance similarity join: (id_a, id_b, dist) for every pair
    of rows whose ``str_col`` values are within Levenshtein distance
    ``max_dist`` — the fuzzy-key join (titles, names, URLs) that a
    naive formulation makes a full cross product.

    FastSS-style candidate generation: each string's key set is itself
    plus every single-character deletion; two strings within distance 1
    ALWAYS share a key (equal → identity key; substitution at i →
    both delete position i; insertion → deleting the inserted char
    yields the other string verbatim), so the equi-join on keys is a
    complete candidate set and ``levenshtein`` verification never
    misses a pair.  Cost: |s|+1 narrow (key, id, str) rows per input
    row shuffled to key buckets — Σ bucket², never n² (the
    inverted-index shape ``ngram_jaccard_pairs`` uses).  Strings ride
    along because fuzzy keys are short by construction; for long
    payloads attach by id after pair-dedup instead.

    ``max_dist`` ≤ 1 only: k ≥ 2 needs C(|s|, k) deletion keys per row
    (the documented FastSS trade) — raise the shingle-based operators
    for longer-range fuzziness instead."""
    if max_dist not in (0, 1):
        raise ValueError(
            "editdist_pairs supports max_dist 0 or 1; use the n-gram/"
            "minhash operators for looser similarity"
        )
    s = F.col(str_col)
    # identity key + every 1-deletion (deduped: repeated chars produce
    # identical deletion strings).  sequence(1, 0) would DESCEND on an
    # empty string — guard with when().
    deletions = F.when(
        F.length(s) >= 1,
        F.transform(
            F.sequence(F.lit(1), F.length(s)),
            lambda i: F.concat(
                F.substring(s, F.lit(1), i - 1),
                F.substring(s, i + 1, F.length(s)),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    keys = F.array_distinct(
        F.concat(F.array(s), deletions if max_dist == 1 else F.array())
    )
    posting = df.select(
        F.col(id_col), s.alias("__s"), F.explode(keys).alias("__k")
    )
    l, r = posting.alias("l"), posting.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.__k") == F.col("r.__k"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.__s").alias("__sa"),
            F.col("r.__s").alias("__sb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand.select(
        "id_a",
        "id_b",
        F.levenshtein("__sa", "__sb").cast("long").alias("dist"),
    ).filter(F.col("dist") <= max_dist)


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    max_build_rows: int = 100_000,
) -> DataFrame:
    """Exact brute-force cosine near-dup pairs (the correctness
    baseline): ``cosine(a, b) = dot/(|a|*|b|)`` rounded to 6 decimals,
    emitted for every ``id_a < id_b`` pair scoring >= threshold.

    Plan shape — a broadcast nested-loop join with BLAS scoring: the
    build side is collected once and broadcast as a dense float64 matrix;
    each Arrow batch of the streamed side scores against it with one
    ``V @ Xᵀ`` matmul instead of per-pair interpreted array expressions
    (~40x measured).  Same premise as the reference's resident jobs table
    (conte-etl-step-2-processor.py:1695): the build side must fit in
    executor memory.  This is the VALIDATION BASELINE, not the scale
    path — all-pairs is O(n²) and the collect is a driver bottleneck;
    the gated default at scale is ``embedding_lsh_neardup_pairs``
    (banded sign-signature self-join, fully distributed).

    The driver-side collect is HARD-CAPPED at ``max_build_rows``: the
    collect itself is bounded by a ``limit(cap+1)`` so an oversized
    corpus can never reach the driver, and exceeding the cap raises
    (loudly, naming the LSH sibling) rather than silently scoring an
    incomplete build side — a truncated baseline would report bogus
    recall for the very operator it exists to validate.
    """
    vecs = df.select(F.col(id_col), F.col(vec_col)).filter(
        F.col(vec_col).isNotNull()
    )
    build = vecs.limit(max_build_rows + 1).collect()
    if len(build) > max_build_rows:
        raise ValueError(
            f"embedding_neardup_pairs is the all-pairs VALIDATION "
            f"baseline and collects the corpus to the driver; input "
            f"exceeds max_build_rows={max_build_rows}. Use "
            f"embedding_lsh_neardup_pairs (distributed banded LSH) for "
            f"corpus-scale near-dup, or raise max_build_rows explicitly "
            f"for a larger validation sample."
        )
    if not build:
        return df.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine double"
        )
    ids = np.array([r[0] for r in build], dtype=np.int64)
    mat = np.array([r[1] for r in build], dtype=np.float64)
    norms = np.sqrt((mat * mat).sum(axis=1))
    bc = df.sparkSession.sparkContext.broadcast((ids, mat, norms))

    def score_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_ids, b_mat, b_norms = bc.value
        for pdf in it:
            v_ids = pdf[id_col].to_numpy(dtype=np.int64)
            v = np.array(list(pdf[vec_col]), dtype=np.float64)
            v_norms = np.sqrt((v * v).sum(axis=1))
            den = v_norms[:, None] * b_norms[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(den != 0, (v @ b_mat.T) / den, 0.0)
            cos = np.round(cos, 6)
            # emit each unordered pair once: stream id < build id
            keep = (v_ids[:, None] < b_ids[None, :]) & (cos >= threshold)
            li, ri = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "id_a": v_ids[li],
                    "id_b": b_ids[ri],
                    "cosine": cos[li, ri],
                }
            )

    return ensure_min_parallelism(vecs).mapInPandas(
        score_batches, schema="id_a long, id_b long, cosine double"
    )


def embedding_lsh_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    adaptive_bits: bool = True,
    target_bucket: int = 64,
    min_bits: int = 4,
    max_bucket: int | None = None,
    auto_widen: bool = True,
) -> DataFrame:
    """Embedding near-dup pairs via random-hyperplane LSH — the scale
    default (nothing is ever collected to the driver).

    Signature = ``n_planes`` sign bits (bit i set where ``v·plane_i >
    0``), split into ``bands`` bands; a pair is a candidate iff it
    agrees on >= 1 band (the same pigeonhole as minhash_lsh_pairs).
    Candidates then get the EXACT cosine, so precision is 1 — recall
    alone is traded (test-measured vs embedding_neardup_pairs).

    Plan shape (the 100 TB path):
      sign signatures (map-side Arrow matmul, one long per vector) →
      explode into ``bands`` narrow (id, band, key) rows →
      self-equi-join on (band, key) → distinct pairs →
      re-attach vectors by id join → exact cosine >= threshold.

    The shuffle carries small integer bucket keys, never the vectors;
    vectors re-attach by join on id (broadcast here; at 100 TB a
    sort-merge join on the id-bucketed embeddings table).  Hyperplanes
    are seeded driver-side constants shipped in the plan closure, so a
    DuckDB oracle can mirror the exact candidate set from the same
    literals (plans/catalog_text.py:q_embedding_neardup_lsh).

    Density-adaptive banding (``adaptive_bits=True``, the DEFAULT since
    r12) — the knob that keeps this linear at scale: with FIXED band
    width the key space is constant, so expected candidates grow as
    n²/2^bits per band — the r11 one-decade bench measured 37x
    wall-clock at 10x rows (~100x pair work) on exactly this, through
    the library default of the time (``adaptive_bits=False``); the
    scale-safe form is now what a direct caller gets.  Pass
    ``adaptive_bits=False`` only where a FIXED key width is pinned by
    an external contract (e.g. an oracle with hard-coded band
    literals).  When adaptive, each band owns a plane SEGMENT but only
    its LOW ``bits`` are the bucket key, with ``bits =
    clamp(ceil(log2(n / target_bucket)), min_bits, segment)`` derived
    from one count of the input (free from table stats on a real
    warehouse).  Bucket sizes stay ~target_bucket as n grows →
    candidates O(n·target_bucket).  The formula is one clamp + one
    log2, so a SQL oracle derives the SAME bits from its own COUNT(*)
    and the candidate set stays exactly gated.  Recall narrows as bits
    widen (the standard LSH trade: p_band = p_bit^bits) — widen
    ``n_planes`` to add bands if the operating point needs recall back.

    ``auto_widen`` (the r13 cliff fix, DEFAULT): past n ≈
    target_bucket · 2^(n_planes/bands) the clamp used to SILENTLY pin
    bits at the segment width and candidates re-entered the quadratic
    regime (~262k rows at the 48/4/64 default — SCALE.md r12
    documented "widen n_planes" as a manual upgrade).  Now
    ``similarity.adaptive_band_geometry`` widens the per-band plane
    segment (and the prefix-stable seeded plane set) to the demanded
    width automatically, so the key space keeps growing with n at any
    corpus size; below the cliff the results are bit-identical to the
    unwidened form (the widened geometry only engages past it).
    ``auto_widen=False`` restores the capped behavior with a LOUD
    warning at the envelope edge.  The q_embedding_neardup_lsh oracle
    embeds plane literals for the UNWIDENED regime (gate tables sit
    far below the cliff); the widened mechanics are gated by
    q_neardup_lsh_autowiden, whose geometry forces widening at gate
    size.

    ``max_bucket`` (independent, default off) drops (band, key) buckets
    larger than the cap before the self-join — the skew guard for
    CLUSTERED corpora where one dense region floods a bucket even at
    the adaptive width.  Dropped buckets are exact-countable from the
    signatures (``groupBy(band, key).count() > max_bucket``) — account
    them next to the result rather than trusting the cap silently.
    """
    from conte_to_fresco_etl_spark.operators.similarity import (
        adaptive_band_geometry,
        make_hyperplanes,
    )

    vecs = df.select(F.col(id_col), F.col(vec_col)).filter(
        F.col(vec_col).isNotNull()
    )
    segment = n_planes // bands
    if adaptive_bits:
        n = vecs.count()
        segment, bits_per_band, n_planes = adaptive_band_geometry(
            n, n_planes, bands, target_bucket, min_bits, auto_widen
        )
    else:
        bits_per_band = segment
    planes_np = np.asarray(make_hyperplanes(dim, n_planes, seed))

    def key_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-band bucket keys computed directly from the sign bits:
        # each band owns a SEGMENT of the (possibly auto-widened) plane
        # set and only the low bits_per_band of it form the key, so
        # adaptive narrowing never makes bands share planes — and a
        # widened geometry (bands * segment > 64 planes) needs no
        # packed signature long at all
        weights = np.int64(1) << np.arange(bits_per_band, dtype=np.int64)
        for pdf in it:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            v = np.array(list(pdf[vec_col]), dtype=np.float64)
            bits = (v @ planes_np.T) > 0
            keys = np.stack(
                [
                    (
                        bits[:, b * segment : b * segment + bits_per_band]
                        .astype(np.int64)
                        * weights
                    ).sum(axis=1)
                    for b in range(bands)
                ],
                axis=1,
            )
            yield pd.DataFrame({id_col: ids, "keys": list(keys)})

    # Block hygiene (r13): the self-join reads the band keys once per
    # side — recompute the one-matmul-per-vector scan per side instead
    # of persisting it (the hard_negative_topk_lsh convention; r12's
    # persist here leaked a block per invocation in long-lived
    # sessions).  Callers banding repeatedly should stage the key
    # table themselves.
    sigs = ensure_min_parallelism(vecs).mapInPandas(
        key_batches, schema=f"{id_col} long, keys array<bigint>"
    )
    exploded = sigs.select(
        F.col(id_col), F.posexplode("keys").alias("band", "key")
    ).select(F.col(id_col), F.struct("band", "key").alias("b"))
    if max_bucket is not None:
        # the bucket-size table is bounded by bands * 2^bits rows —
        # broadcastable by construction
        fits = (
            exploded.groupBy(
                F.col("b.band").alias("__band"), F.col("b.key").alias("__key")
            )
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_bucket)
        )
        exploded = exploded.join(
            F.broadcast(fits),
            (F.col("b.band") == F.col("__band"))
            & (F.col("b.key") == F.col("__key")),
            "left_semi",
        )
    l, r = exploded.alias("l"), exploded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.b.band") == F.col("r.b.band"))
            & (F.col("l.b.key") == F.col("r.b.key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    va = vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__ea"))
    vb = vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__eb"))
    pairs = cand.join(F.broadcast(va), "id_a").join(F.broadcast(vb), "id_b")

    # Arrow batch scoring: fused per-pair einsum over the joined arrays.
    # A Column-expression cosine (the form the SQL oracle mirrors) is
    # interpreted per element — measured ~20x slower at ~500k candidate
    # pairs.  ROUND(6) keeps the score and the DuckDB oracle
    # bit-identical.
    def cos_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            a = np.array(list(pdf["__ea"]), dtype=np.float64)
            b = np.array(list(pdf["__eb"]), dtype=np.float64)
            num = np.einsum("ij,ij->i", a, b)
            den = np.sqrt((a * a).sum(axis=1)) * np.sqrt((b * b).sum(axis=1))
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.round(np.where(den != 0, num / den, 0.0), 6)
            out = pd.DataFrame(
                {
                    "id_a": pdf["id_a"].to_numpy(dtype=np.int64),
                    "id_b": pdf["id_b"].to_numpy(dtype=np.int64),
                    "cosine": cos,
                }
            )
            yield out[out["cosine"] >= threshold]

    return pairs.mapInPandas(
        cos_batches, schema="id_a long, id_b long, cosine double"
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over candidate pairs
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 30,
) -> DataFrame:
    """(id, component) for every node in ``pairs``; ``component`` is the
    smallest node id reachable through the pair graph — the canonical
    cluster label a dedup pipeline keeps as the representative.

    Algorithm: iterative min-label propagation.  Every node starts
    labeled with itself; each round takes the min of its own label and
    its neighbors' labels; labels are monotonically non-increasing, so
    the TOTAL label sum strictly decreases until the fixed point, which
    makes convergence a single cheap aggregate per round (no join-based
    change detection).  Rounds needed = graph diameter — for near-dup
    graphs (band-collision cliques glued by shared docs) that is small
    and independent of corpus size.

    Scale posture: each round is one shuffle (groupBy dst) plus one
    broadcast-eligible join back to the label table, whose size is
    |nodes in pairs| — the duplicate subset, far smaller than the
    corpus.  Each round's labels are ``localCheckpoint``ed: iterative
    plans DOUBLE their logical lineage per round (labels appears twice
    in the join), so without truncation a deep graph OOMs the driver on
    plan strings alone long before data is a problem.  On a cluster
    prefer ``df.checkpoint()`` with a reliable checkpoint dir (survives
    executor loss); for very deep graphs use
    ``connected_components_star`` (alternating large-star/small-star,
    O(log n) rounds regardless of diameter) — same per-round plan shape.

    Deterministic: min over ids, no randomness, no order dependence.
    """
    # Both edge directions in ONE pass over `pairs` (explode, not a
    # union of two selects — a union would evaluate the upstream
    # candidate-generation plan twice before the persist materializes).
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    # Size the label table's partitioning to the node count, not the
    # session shuffle default: the dup-node set is typically orders of
    # magnitude smaller than the corpus, and every round materializes
    # (localCheckpoint) + aggregates it — dozens of near-empty
    # partitions per round is pure scheduler overhead at small scale,
    # while the ratio keeps partitions bounded (~500k nodes each) when
    # the graph is big.
    from pyspark.sql import Observation

    n_nodes = labels.count()
    parts = max(1, min(edges.rdd.getNumPartitions(), n_nodes // 500_000 + 1))
    labels = labels.coalesce(parts).localCheckpoint()
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    converged = False
    prev_ck = labels
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("__nbr"))
        )
        # localCheckpoint truncates lineage — without it each round's
        # plan embeds the previous round's TWICE and plan-size growth is
        # exponential in the iteration count.  The convergence metric
        # rides the SAME materialization job via observe() — one action
        # per round, not a checkpoint plus a separate aggregate scan.
        obs = Observation()
        labels = (
            labels.join(nbr_min, labels["id"] == nbr_min["src"], "left")
            .select(
                labels["id"],
                F.least(
                    labels["label"], F.coalesce(F.col("__nbr"), labels["label"])
                ).alias("label"),
            )
            .observe(obs, F.sum("label").alias("s"))
            .coalesce(parts)
            .localCheckpoint()
        )
        # the eager checkpoint above consumed the previous round's
        # label table; free its blocks so live checkpoints stay O(1)
        # across rounds instead of one label table per round
        free_blocks(prev_ck)
        prev_ck = labels
        new_sum = obs.get["s"]
        if new_sum == prev_sum:  # fixed point: labels can only decrease
            converged = True
            break
        prev_sum = new_sum
    edges.unpersist()
    if not converged:
        # A label table that stopped before the fixed point silently
        # mislabels components — and downstream that means a WRONG dedup
        # decision (docs kept/dropped against the wrong cluster).  Fail
        # loudly instead: rounds needed = graph diameter, so this only
        # trips on chain-shaped graphs far deeper than near-dup
        # band-collision cliques produce.
        raise RuntimeError(
            f"connected_components did not reach a fixed point within "
            f"max_iters={max_iters} rounds: the pair graph's diameter "
            f"exceeds the round budget. Raise max_iters, or for deep "
            f"graphs use connected_components_star (O(log n) rounds "
            f"regardless of diameter)."
        )
    return labels.select(F.col("id"), F.col("label").alias("component"))


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 50,
) -> DataFrame:
    """(id, component) via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — the deep-graph path ``connected_components``'s failure
    message points at.  Min-label propagation needs diameter rounds; a
    100 TB web-graph-shaped pair set with million-node chains would
    starve it.  Star contraction converges in O(log n) rounds
    REGARDLESS of diameter:

      * large-star: every node links its LARGER neighbors to the
        smallest node in its neighborhood (self included) — long
        chains fold toward local minima;
      * small-star: every node links its smaller-or-equal neighbors
        and itself to that minimum — stars flatten so the next
        large-star sees them as one hop.

    Each step is one groupBy-min shuffle + one broadcast-eligible join
    — the same per-round plan shape as the propagation loop, just
    fewer rounds.  Convergence = the edge multiset's signature (count,
    endpoint sums, order-independent hash sum) stops changing; the
    signature rides the same aggregate, so the check costs no extra
    shuffle.  Deterministic: min over ids only.

    Returns the same contract as ``connected_components``: one row per
    node appearing in ``pairs``, labeled with its component's minimum
    id."""
    # ONE materialization of the (possibly expensive) upstream pair
    # plan; nodes (self-loop-only ids included) and the normalized
    # undirected edge set both derive from it, so neither the node list
    # nor the final label join ever re-executes candidate generation
    base = pairs.select(
        F.greatest(F.col(id_a), F.col(id_b)).alias("u"),
        F.least(F.col(id_a), F.col(id_b)).alias("v"),
    ).localCheckpoint()
    nodes = base.select(
        F.explode(F.array("u", "v")).alias("id")
    ).distinct()
    edges = (
        base.filter(F.col("u") != F.col("v")).distinct().localCheckpoint()
    )

    def signature(e: DataFrame) -> tuple:
        # decimal sums: full-range xxhash64 values (and in principle
        # large ids) overflow a LONG sum under ANSI mode
        row = e.agg(
            F.count("*"),
            F.sum(F.col("u").cast("decimal(38,0)")),
            F.sum(F.col("v").cast("decimal(38,0)")),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
        ).collect()[0]
        return tuple(row)

    prev_sig = signature(edges)
    # Size the per-round partitioning to the edge count, exactly as the
    # propagation loop does for its label table: the dup-pair graph is
    # orders of magnitude smaller than the corpus, and each round runs
    # ~4 shuffles — at session defaults that is dozens of near-empty
    # tasks per round of pure scheduler overhead (measured 6.3s -> 2.6s
    # for the star-gated catalog query at sf0.1 on local[32]), while
    # the ratio keeps partitions bounded when the graph is big.
    parts = max(
        1, min(edges.rdd.getNumPartitions(), int(prev_sig[0]) // 500_000 + 1)
    )
    pre = edges
    edges = edges.coalesce(parts).localCheckpoint()
    # the coalesced checkpoint (and the signature above) were the only
    # consumers of the first edge materialization — free it now
    free_blocks(pre)
    converged = False
    for _ in range(max_iters):
        # large-star over the symmetric view: for each center u emit
        # (bigger neighbor v, min(N(u) + {u}))
        sym = edges.unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("__mnn"))
            .select("u", F.least(F.col("__mnn"), F.col("u")).alias("mn"))
        )
        # no distinct here: small-star's groupBy-min and final distinct
        # absorb duplicate (v, mn) emissions, and skipping it saves one
        # of the round's shuffles
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # small-star on large's (bigger -> smaller) edges: re-point each
        # center's smaller neighbors (and itself) at the neighborhood min
        mins2 = large.groupBy("u").agg(F.min("v").alias("mn"))
        joined = large.join(mins2, "u")
        small = (
            joined.filter(F.col("v") != F.col("mn"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .unionAll(mins2.select(F.col("u"), F.col("mn").alias("v")))
            .distinct()
            .coalesce(parts)
            .localCheckpoint()
        )
        sig = signature(small)
        # small's eager checkpoint consumed the previous round's edge
        # table; free it (never ``base`` — the final node join still
        # reads base's blocks)
        free_blocks(edges)
        edges = small
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not stabilize within "
            f"max_iters={max_iters} rounds (expected O(log n))."
        )
    return nodes.join(
        edges.select(F.col("u").alias("id"), F.col("v").alias("__root")),
        "id",
        "left",
    ).select(
        "id", F.coalesce(F.col("__root"), F.col("id")).alias("component")
    )


def neardup_components(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 48,
    bands: int = 12,
    shingle_n: int = 5,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Cluster near-duplicate documents: MinHash-LSH candidate pairs →
    connected components → (doc_id, component, n_members).  Keeping
    ``doc_id == component`` afterwards is the standard "drop all but one
    per cluster" dedup; emitting the full membership keeps the lineage
    auditable (which docs were folded into which representative)."""
    pairs = minhash_lsh_pairs(
        df, id_col, text_col, num_hashes, bands, shingle_n, threshold, seed
    )
    comp = connected_components(pairs)
    w = Window.partitionBy("component")
    return comp.select(
        F.col("id").alias(id_col),
        "component",
        F.count("*").over(w).alias("n_members"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS-style)
# ---------------------------------------------------------------------------

def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    impl: str = "arrow",
) -> DataFrame:
    """(id, fp) rows of winnowing fingerprints: hash every character
    k-gram, slide a ``window`` over the hash sequence, keep each
    window's minimum, dedupe.  The MOSS guarantee: any substring match
    of length >= k + window - 1 between two documents shares at least
    one fingerprint — so fingerprint overlap is a partial-copy detector
    (where minhash estimates WHOLE-document similarity).

    ``arrow`` computes the identical integers with NumPy sliding-window
    mins (per-gram md5 memoized per partition); ``expr`` is the pure
    higher-order-expression twin the SQL oracle mirrors.  Docs shorter
    than ``k`` emit nothing; docs with fewer than ``window`` hashes
    emit their single global minimum.

    Scale: map-side only (no shuffle); downstream pair generation is
    the same inverted-index posting join as ``ngram_jaccard_pairs`` —
    FLOPs scale with Σ posting², never |corpus|².
    """
    if impl == "arrow":

        def fp_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            md5 = hashlib.md5
            memo: dict[str, int] = {}
            for pdf in it:
                out_ids: list = []
                out_fps: list = []
                for i, t in zip(pdf[id_col], pdf[text_col]):
                    if t is None:
                        continue
                    t = t.lower()
                    if len(t) < k:
                        continue
                    hl = []
                    for j in range(len(t) - k + 1):
                        g = t[j : j + k]
                        h = memo.get(g)
                        if h is None:
                            h = (
                                int.from_bytes(
                                    md5(g.encode()).digest()[:8], "big"
                                )
                                >> 4
                            )
                            memo[g] = h
                        hl.append(h)
                    hs = np.array(hl, dtype=np.int64)
                    if hs.size < window:
                        fps = hs.min(keepdims=True)
                    else:
                        fps = np.unique(
                            np.lib.stride_tricks.sliding_window_view(
                                hs, window
                            ).min(axis=1)
                        )
                    out_ids.extend([i] * fps.size)
                    out_fps.extend(fps.tolist())
                yield pd.DataFrame({id_col: out_ids, "fp": out_fps})

        return ensure_min_parallelism(
            df.select(id_col, text_col), DENSE_BYTES_PER_TASK
        ).mapInPandas(fp_batches, schema=f"{id_col} long, fp long")

    c = F.lower(F.col(text_col))
    hs = F.when(
        F.length(c) < k, F.array().cast("array<long>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(c) - F.lit(k - 1)),
            lambda i: md5_long(c.substr(i, F.lit(k))),
        )
    )
    out = ensure_min_parallelism(df, DENSE_BYTES_PER_TASK).select(
        F.col(id_col), hs.alias("__hs")
    )
    n = F.size(F.col("__hs"))
    fp_arr = (
        F.when(n == 0, F.array().cast("array<long>"))
        .when(n < window, F.array(F.array_min(F.col("__hs"))))
        .otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n - F.lit(window - 1)),
                    lambda i: F.array_min(F.slice(F.col("__hs"), i, window)),
                )
            )
        )
    )
    return out.select(F.col(id_col), F.explode(fp_arr).alias("fp"))


def canonical_docs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_col: str = "n_chars",
    **minhash_kwargs,
) -> DataFrame:
    """Keep-best dedup decision table: for every doc that belongs to a
    near-dup cluster, (doc_id, component, quality, keep) where exactly
    one doc per cluster — the highest ``quality_col``, ties to the
    smallest id — carries ``keep = true``.  Docs in no cluster are
    implicitly kept (absent here; an anti-join against this table's
    ``keep = false`` rows IS the dedup filter, so the full corpus is
    never reshuffled).

    Scale: components are bounded by the dup subset; the quality join
    attaches one small column by id; the keep choice is one window over
    components — all orders of magnitude under corpus size.
    """
    comp = neardup_components(df, id_col, text_col, **minhash_kwargs)
    q = df.select(F.col(id_col), F.col(quality_col))
    w = Window.partitionBy("component").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return (
        comp.join(q, id_col)
        .withColumn("keep", F.row_number().over(w) == 1)
        .select(id_col, "component", quality_col, "keep")
    )


def incremental_neardup(
    new_docs: DataFrame,
    existing_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 48,
    bands: int = 12,
    shingle_n: int = 5,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Cross-corpus near-dup probe: (new_id, existing_id, est_jaccard)
    for every NEW document whose estimated Jaccard against some EXISTING
    document clears ``threshold`` — the incremental form of
    ``minhash_lsh_pairs`` a growing corpus runs per ingest batch.

    Why it's the scale shape: the existing corpus contributes only its
    (id, band, key) rows and signatures — in production those are
    computed ONCE and stored (parquet bucketed by band key), so each
    ingest hashes just the new batch and probes the band index; nothing
    ever rescans or re-pairs the historical corpus against itself.
    Candidates are band collisions between the two sides only —
    new x new and old x old pairs are never generated.
    """
    sig_new = minhash_signatures(
        new_docs, id_col, text_col, num_hashes, shingle_n, seed
    ).persist()
    sig_old = minhash_signatures(
        existing_docs, id_col, text_col, num_hashes, shingle_n, seed
    ).persist()
    band_structs = _minhash_band_structs(num_hashes, bands)
    bn = sig_new.select(
        F.col(id_col).alias("new_id"), F.explode(band_structs).alias("b")
    )
    bo = sig_old.select(
        F.col(id_col).alias("existing_id"), F.explode(band_structs).alias("b")
    )
    cand = (
        bn.join(
            bo,
            (bn["b.band"] == bo["b.band"]) & (bn["b.key"] == bo["b.key"]),
        )
        .select("new_id", "existing_id")
        .dropDuplicates(["new_id", "existing_id"])
    )
    sa = sig_new.select(
        F.col(id_col).alias("new_id"), F.col("sig").alias("sig_a")
    )
    sb = sig_old.select(
        F.col(id_col).alias("existing_id"), F.col("sig").alias("sig_b")
    )
    # broadcast ONLY the new-batch side (bounded by the ingest batch);
    # the standing corpus's signatures are unbounded, so they attach via
    # a plain key join that Spark shuffles (or, in production, a bucketed
    # join against the stored signature table)
    return (
        cand.join(F.broadcast(sa), "new_id")
        .join(sb, "existing_id")
        .select(
            "new_id", "existing_id",
            _sig_agreement_est(num_hashes).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Exact repeated-passage extraction: the maximal token spans whose
    every ``k``-gram occurs >= ``min_count`` times across the corpus —
    the substring-level dedup signal ("Deduplicating Training Data
    Makes Language Models Better" runs this over a suffix array; the
    distributed formulation is k-gram marking + gap-and-islands).
    Memorization-prone boilerplate, licenses, and copied passages
    surface here even when whole-document dedup misses them.

    Output: (id, span_start, span_end, n_tokens, span_text) with
    0-based inclusive token offsets, one row per maximal span.

    Plan shape: one map-side gram explode (positions kept) -> ONE
    shuffle on the gram to count occurrences -> repeated grams join
    back (shuffle hash join: the repeated-gram set scales with the
    duplication actually present, so it is NOT assumed
    broadcast-small) -> covered token positions (bounded k-fold
    expansion of *marked* starts only) -> gap-and-islands per doc
    (window over in-doc positions) -> spans, text re-attached by one
    id join.  Every shuffle key is a gram or an id; documents never
    move whole until the final slice."""
    from conte_to_fresco_etl_spark.functions.text import tokens

    base = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
        # no size filter: a Filter above the tokenizing projection is
        # pushed below it and tokenizes twice per row (r13); the >= k
        # guard lives inside the gram expression — without it,
        # sequence(1, size-k+1) on a short doc DESCENDS (the Spark 4
        # gotcha) and would fabricate grams.  NULL rows are dropped by
        # posexplode exactly like the old filter dropped them.
    )
    grams = base.select(
        F.col(id_col),
        F.posexplode(
            F.when(
                F.size("__toks") >= k,
                F.transform(
                    F.sequence(F.lit(1), F.size("__toks") - F.lit(k - 1)),
                    lambda i: F.array_join(F.slice("__toks", i, k), " "),
                ),
            )
        ).alias("__p", "__g"),
    )
    rep = (
        grams.groupBy("__g")
        .agg(F.count("*").alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("__g")
    )
    marked = grams.join(rep, "__g").select(id_col, "__p")
    covered = (
        marked.select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("__p"), F.col("__p") + F.lit(k - 1))
            ).alias("__pos"),
        )
        .distinct()
    )
    w = Window.partitionBy(id_col).orderBy("__pos")
    spans = (
        covered.withColumn(
            "__island", F.col("__pos") - F.row_number().over(w)
        )
        .groupBy(id_col, "__island")
        .agg(
            F.min("__pos").alias("span_start"),
            F.max("__pos").alias("span_end"),
            F.count("*").alias("n_tokens"),
        )
        .drop("__island")
    )
    return spans.join(base, id_col).select(
        F.col(id_col),
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.array_join(
            F.slice(
                "__toks",
                F.col("span_start") + 1,
                F.col("span_end") - F.col("span_start") + 1,
            ),
            " ",
        ).alias("span_text"),
    )


def _shingle_elems(tok_col, ngram_n: int):
    """Shingle array from an ALREADY-MATERIALIZED token-array column.

    The lambda must reference an attribute, not the tokenizing
    expression itself: common-subexpression elimination does not cross
    higher-order-function lambda boundaries, so ``element_at(split(..),
    i)`` re-runs the regex split for EVERY element access — O(doc²)
    (measured 6.5s → 0.8s on the sf0.1 shingle build)."""
    tok_arr = tok_col if not isinstance(tok_col, str) else F.col(tok_col)
    if ngram_n <= 1:
        return tok_arr
    seq = F.sequence(F.lit(1), F.size(tok_arr) - F.lit(ngram_n - 1))
    gram = F.transform(
        seq,
        lambda i: F.concat_ws(
            " ",
            *[F.element_at(tok_arr, i + F.lit(j)) for j in range(ngram_n)],
        ),
    )
    # sequence(1, k) DESCENDS for k < 1 under ANSI — guard short docs
    return F.when(
        F.size(tok_arr) < ngram_n, F.array().cast("array<string>")
    ).otherwise(gram)


def shingle_postings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_n: int = 3,
) -> DataFrame:
    """Distinct (``__id``, ``tok``) word-``n``-gram posting table with
    the tokenize+shingle map spread BEFORE the explode (a single-file
    scan is otherwise ONE task) — the shared input of every
    set-similarity join, staged once per session per (input, columns,
    ``n``) through ``session.staged``: the Jaccard, containment, cosine
    and novelty consumers all read the IDENTICAL table, and the
    production convention is that table written to parquet per corpus
    snapshot."""
    from conte_to_fresco_etl_spark.functions.text import tokens
    from conte_to_fresco_etl_spark.session import staged

    def build() -> DataFrame:
        # text shingling is ~4x the per-byte CPU of the minhash path the
        # 64 KB/task default was tuned for — fan out harder (measured
        # 5.7s @ 9 tasks -> 2.6s @ 36 tasks on the sf0.1 posting build)
        return (
            ensure_min_parallelism(
                df.select(F.col(id_col).alias("__id"), text_col),
                DENSE_BYTES_PER_TASK // 4,
            )
            .select("__id", tokens(text_col).alias("__toks"))
            .select(
                "__id",
                F.explode(_shingle_elems("__toks", ngram_n)).alias("tok"),
            )
            .distinct()
        )

    params = dict(id_col=id_col, text_col=text_col, ngram_n=ngram_n)
    return staged("shingle_postings", [df], params, build)


def jaccard_prefix_join(
    df: DataFrame,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_n: int = 3,
) -> DataFrame:
    """EXACT token-set Jaccard self-join with PPJoin-style prefix
    filtering — the same answer as the naive all-posting join
    (``q_ngram_jaccard``'s oracle shape), from a far smaller candidate
    set.

    The classic prefix-filter theorem: order every document's token
    set by ONE global order and keep only its first
    ``|d| − ⌈t·|d|⌉ + 1`` tokens; any pair with Jaccard ≥ t MUST share
    a prefix token, so joining prefix postings loses nothing.  Ordering
    by ascending global frequency puts the RAREST tokens in prefixes,
    so posting lists in the candidate join are the corpus's smallest —
    a frequent token's huge posting list never generates candidates
    unless it sits in some document's prefix tail.

    Verification is candidate-bounded: full postings are semi-joined
    down to candidate ids BEFORE the intersection count, so the exact
    pass costs Σ|candidate docs|, not Σ posting².

    Output: ``(a, b, n_common, jaccard)`` with a < b, jaccard ≥ t,
    ROUND(6) from exact longs.

    ``ngram_n`` sets the set element: word ``n``-gram shingles
    (default 3) — on small-vocabulary corpora unigram SETS degenerate
    (every document covers most of the vocabulary, so every pair is a
    candidate and the filter filters nothing); shingles restore
    distinctiveness, exactly why dedup pipelines shingle before any
    set-similarity join.  ``ngram_n=1`` gives plain token sets."""
    toks = shingle_postings(df, id_col, text_col, ngram_n)
    freq = toks.groupBy("tok").agg(F.count("*").alias("tf"))
    # The global order only needs to be a CONSISTENT total order —
    # (corpus frequency asc, token asc) is one already.  Materializing
    # it as a dense row_number over an unpartitioned Window would drag
    # the whole vocabulary through a single-task sort (the one
    # non-scalable stage in an otherwise posting-bounded plan).
    # Instead each document's tokens are collected into ONE array
    # sorted by that (tf, tok) tuple: prefixes are slices, sizes are
    # array lengths, and the verification step intersects the arrays
    # directly — one (tok) shuffle + one (__id) shuffle build the
    # whole staging table, replacing the former freq/sizes broadcasts,
    # per-doc window, and 4-join posting-based verification.
    docs = (
        toks.join(freq, "tok")
        .groupBy("__id")
        .agg(
            F.sort_array(F.collect_list(F.struct("tf", "tok"))).alias(
                "__arr"
            )
        )
        .select(
            "__id",
            F.transform("__arr", lambda s: s["tok"]).alias("set_toks"),
            F.size("__arr").alias("sz"),
        )
        .persist()
    )
    prefix_len = (
        F.col("sz")
        - F.ceil(F.lit(float(threshold)) * F.col("sz").cast("double"))
        + F.lit(1)
    ).cast("int")
    prefix = docs.select(
        "__id",
        "sz",
        F.posexplode(F.slice("set_toks", F.lit(1), prefix_len)).alias(
            "pos0", "tok"
        ),
    )
    pa = prefix.select(
        F.col("__id").alias("a"),
        "tok",
        (F.col("pos0") + F.lit(1)).alias("pos_a"),
        F.col("sz").alias("sz_a_p"),
    )
    pb = prefix.select(
        F.col("__id").alias("b"),
        "tok",
        (F.col("pos0") + F.lit(1)).alias("pos_b"),
        F.col("sz").alias("sz_b_p"),
    )
    # PPJoin position filter: matching at prefix positions (pos_a,
    # pos_b) bounds the total overlap by min(remaining suffix lengths)
    # + 1; Jaccard ≥ t needs overlap ≥ t/(1+t)·(|a|+|b|) — prune pairs
    # whose bound cannot reach it BEFORE the distinct shuffle
    t_frac = float(threshold) / (1.0 + float(threshold))
    ubound = (
        F.least(
            F.col("sz_a_p") - F.col("pos_a"), F.col("sz_b_p") - F.col("pos_b")
        )
        + F.lit(1)
    ).cast("double")
    need = F.lit(t_frac) * (F.col("sz_a_p") + F.col("sz_b_p")).cast("double")
    # length filter: J(A,B) <= min/max of the set sizes, so any pair
    # with |B| outside [t·|A|, |A|/t] can be dropped before the
    # distinct shuffle — the cheapest of the three PPJoin prunes
    length_ok = (
        F.least("sz_a_p", "sz_b_p").cast("double")
        >= F.lit(float(threshold))
        * F.greatest("sz_a_p", "sz_b_p").cast("double")
    )
    cands = (
        pa.join(pb, "tok")
        .filter(F.col("a") < F.col("b"))
        .filter(length_ok)
        .filter(ubound >= need)
        .select("a", "b")
        .distinct()
    )
    # exact verify: fetch both documents' sorted token arrays and
    # intersect them map-side — candidate-bounded (2 joins + a codegen
    # projection), vs re-joining full postings per side.  The staged
    # `docs` table is corpus-row-count sized: broadcast is right up to
    # dimension-ish corpora; past broadcast size AQE plans these as
    # shuffle joins on (a) / (b), still candidate-bounded.
    da = docs.select(
        F.col("__id").alias("a"),
        F.col("set_toks").alias("toks_a"),
        F.col("sz").alias("sz_a"),
    )
    db = docs.select(
        F.col("__id").alias("b"),
        F.col("set_toks").alias("toks_b"),
        F.col("sz").alias("sz_b"),
    )
    n_common = F.size(F.array_intersect("toks_a", "toks_b"))
    jac = F.col("n_common").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    ).cast("double")
    out = (
        cands.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .withColumn("n_common", n_common)
        .filter(jac >= F.lit(float(threshold)))
        .select("a", "b", "n_common", F.round(jac, 6).alias("jaccard"))
    )
    # the docs cache stays session-lived (the ngram_jaccard
    # convention): unpersisting here would evict BEFORE the lazy
    # result ever runs
    return out


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_n: int = 3,
) -> DataFrame:
    """Directed containment C(a→b) = |A ∩ B| / |A| over shingle sets —
    the QUOTATION detector Jaccard misses: a short document wholly
    copied into a long one scores near-zero Jaccard (the union is
    huge) but containment 1.0.  Corpus dedup runs BOTH: Jaccard for
    near-twins, containment for subsumption.

    Output: ``(a, b, n_common, containment)`` for ORDERED pairs a ≠ b
    with C(a→b) ≥ threshold, ROUND(6) from exact longs.

    Scale posture: the same inverted-index posting join as the Jaccard
    family (Σ posting², never n²); smaller sets need MORE of their
    shingles shared to pass, so the threshold prunes on ``n_common ≥
    ⌈t·|A|⌉`` right at the pair count."""
    posts = shingle_postings(df, id_col, text_col, ngram_n)
    sizes = posts.groupBy("__id").agg(F.count("*").alias("sz"))
    pa = posts.select(F.col("__id").alias("a"), "tok")
    pb = posts.select(F.col("__id").alias("b"), "tok")
    common = (
        pa.join(pb, "tok")
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("__id").alias("a"), F.col("sz").alias("sz_a"))
    cont = F.col("n_common").cast("double") / F.col("sz_a").cast("double")
    return (
        common.join(F.broadcast(sa), "a")
        .filter(cont >= F.lit(float(threshold)))
        .select("a", "b", "n_common", F.round(cont, 6).alias("containment"))
    )


def lsh_candidate_curve(
    spark,
    band_options: list[tuple[int, int]] = ((32, 4), (16, 8), (8, 16)),
    s_steps: int = 19,
) -> DataFrame:
    """MinHash-LSH tuning table: for each candidate (bands b, rows r)
    layout of a b·r-hash signature, the probability an (unseen) pair
    with true Jaccard s becomes an LSH candidate —

        P(candidate | s) = 1 − (1 − s^r)^b

    — evaluated on an s grid, plus the layout's s-curve midpoint
    ``s50 = (1/b)^(1/r)`` (where P crosses ~0.5).  Choosing (b, r) IS
    the capacity-planning decision for a 100 TB dedup run: b trades
    candidate-join volume (each band is one shuffle key per doc)
    against recall at the target threshold, and this table is how the
    trade is read before paying for the run.  Computed as a Spark plan
    (grid explode × literal layout dim, one codegen projection) so the
    same machinery audits itself.

    Output: ``(bands, rows_per_band, s, p_candidate, s50)``.
    """
    layouts = spark.createDataFrame(
        # 1 slice: one Python-worker eval instead of 32 (r13)
        spark.sparkContext.parallelize(
            [(int(b), int(r)) for b, r in band_options], 1
        ),
        "bands int, rows_per_band int",
    )
    grid = spark.range(1, s_steps + 1).select(
        (F.col("id").cast("double") * F.lit(0.05)).alias("s")
    )
    b = F.col("bands").cast("double")
    r = F.col("rows_per_band").cast("double")
    s = F.col("s")
    return layouts.crossJoin(grid).select(
        "bands",
        "rows_per_band",
        F.round(s, 6).alias("s"),
        F.round(
            F.lit(1.0) - F.pow(F.lit(1.0) - F.pow(s, r), b), 6
        ).alias("p_candidate"),
        F.round(F.pow(F.lit(1.0) / b, F.lit(1.0) / r), 6).alias("s50"),
    )


def lsh_recall_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 48,
    bands: int = 12,
    shingle_n: int = 5,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Dedup-quality evaluation: recall and precision of the banded
    MinHash-LSH pair detector against EXACT shingle-set Jaccard ground
    truth, computed over the documents in ``df``.

    This is the harness run before trusting an LSH layout on a real
    corpus: pass a document SAMPLE (exact truth is all-pairs within the
    sample — pair-sample evaluation, the standard protocol, since exact
    truth over the full corpus is the very joint the LSH exists to
    avoid) and read whether (bands, rows) hits the recall target that
    ``lsh_candidate_curve`` predicted analytically.

    Output — ONE row: ``(n_true, n_est, n_hit, recall, prec)``; rates
    are NULL when their denominator is zero (tiny samples), ROUND(6)
    otherwise.

    Plan: exact truth broadcasts one side of the sample self-join and
    intersects shingle arrays map-side; the LSH side is the production
    ``minhash_lsh_pairs`` plan unchanged; three 1-row aggregates
    cross-join into the report — nothing touches the driver.
    """
    t = float(threshold)
    # Materialize the shingle sets once (both the broadcast build and
    # the streamed side read them), and fan the streamed side out: the
    # sample usually arrives as ONE scan task (single row group), which
    # would run the entire all-pairs intersect on one core.
    spark = df.sparkSession
    sets = (
        df.filter(F.length(F.col(text_col)) >= shingle_n)
        .select(
            F.col(id_col).alias("__id"),
            char_shingles(F.col(text_col), shingle_n).alias("sh"),
        )
        .withColumn("sz", F.size("sh"))
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()
    )
    a = sets.select(
        F.col("__id").alias("id_a"),
        F.col("sh").alias("sh_a"),
        F.col("sz").alias("sz_a"),
    )
    b = sets.select(
        F.col("__id").alias("id_b"),
        F.col("sh").alias("sh_b"),
        F.col("sz").alias("sz_b"),
    )
    nc = F.size(F.array_intersect("sh_a", "sh_b"))
    exact = (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", nc.alias("__nc"), "sz_a", "sz_b")
        .filter(
            F.col("__nc").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("__nc")).cast("double")
            >= F.lit(t)
        )
        .select("id_a", "id_b")
        # both pair tables feed TWO consumers (their own count and the
        # hit join): checkpoint so the all-pairs intersect and the LSH
        # signature build each run ONCE instead of per consumer (r13;
        # guide §3.3 — blocks reclaimed by session.sweep_persisted)
        .localCheckpoint(eager=False)
    )
    est = minhash_lsh_pairs(
        df,
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        threshold=threshold,
        seed=seed,
    ).select("id_a", "id_b").localCheckpoint(eager=False)
    n_true = exact.agg(F.count("*").alias("n_true"))
    n_est = est.agg(F.count("*").alias("n_est"))
    n_hit = est.join(exact, ["id_a", "id_b"]).agg(
        F.count("*").alias("n_hit")
    )
    rate = lambda num, den: F.when(  # noqa: E731 - tiny local binder
        F.col(den) == 0, F.lit(None).cast("double")
    ).otherwise(
        F.round(F.col(num).cast("double") / F.col(den).cast("double"), 6)
    )
    return (
        n_true.crossJoin(F.broadcast(n_est))
        .crossJoin(F.broadcast(n_hit))
        .select(
            "n_true",
            "n_est",
            "n_hit",
            rate("n_hit", "n_true").alias("recall"),
            rate("n_hit", "n_est").alias("prec"),
        )
    )


def snm_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    key_len: int = 20,
    block_len: int = 2,
    window: int = 3,
    shingle_n: int = 5,
) -> DataFrame:
    """Sorted-Neighborhood Method (SNM) candidate pairs — the classic
    record-linkage blocking strategy, complementary to LSH banding:
    records sort by a normalized key and each record pairs with its
    ``window-1`` successors.  SNM catches near-dups whose PREFIXES
    agree (title-keyed crawl dups, templated records) with a candidate
    count bounded by n·(window−1) — no banding false-positive tuning.

    Output: ``(id_a, id_b, jaccard)`` — each candidate pair with its
    exact character-shingle Jaccard (sets materialize only for
    candidates, the ``q_doc_minhash_sim`` discipline).

    Scale posture: the sort windows are PARTITIONED by the key's
    ``block_len``-char prefix (bounded blocks — never one global sort
    task); pairs at block boundaries are the documented SNM blind spot
    (multi-pass with rotated keys is the standard remedy).  Lead
    windows + two id-keyed joins; no self-join of the corpus."""
    norm = F.regexp_replace(
        F.trim(F.lower(F.col(text_col))), r"\s+", " "
    )
    keyed = df.select(
        F.col(id_col).alias("id"),
        F.substring(norm, 1, key_len).alias("k"),
    ).withColumn("blk", F.substring(F.col("k"), 1, block_len))
    w = Window.partitionBy("blk").orderBy("k", "id")
    pairs = keyed.select(
        "id",
        *[
            F.lead("id", o).over(w).alias(f"n{o}")
            for o in range(1, window)
        ],
    )
    cand = None
    for o in range(1, window):
        p = pairs.select(
            F.col("id").alias("id_a"), F.col(f"n{o}").alias("id_b")
        ).filter(F.col("id_b").isNotNull())
        cand = p if cand is None else cand.unionAll(p)
    from conte_to_fresco_etl_spark.functions.text import char_shingles

    # the shingle projection is the CPU-dense phase: spread it across
    # tasks before computing (a single-row-group scan is one task), and
    # localCheckpoint so the a/b sides of the scoring join don't each
    # recompute the shingling (measured 9.0s -> 2.6s at sf0.1)
    sets = (
        ensure_min_parallelism(
            df.filter(F.length(F.col(text_col)) >= shingle_n).select(
                F.col(id_col).alias("doc_id"), F.col(text_col)
            ),
            DENSE_BYTES_PER_TASK,
        )
        .select(
            "doc_id",
            char_shingles(text_col, shingle_n).alias("sh"),
        )
        .localCheckpoint(eager=False)
    )
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    return (
        cand.join(sets.alias("a"), F.col("id_a") == F.col("a.doc_id"))
        .join(sets.alias("b"), F.col("id_b") == F.col("b.doc_id"))
        .select(
            "id_a",
            "id_b",
            F.round(
                inter.cast("double") / union.cast("double"), 6
            ).alias("jaccard"),
        )
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_n: int = 3,
    df_frac_cap: float = 0.10,
) -> DataFrame:
    """Weighted (idf-weighted set) cosine similarity join: all document
    pairs with ``cos >= threshold`` under binary-TF TF-IDF over word
    ``n``-gram shingles — the WEIGHTED sibling of the Jaccard/PPJoin
    family (rare shared shingles count for more than common ones).

    Sparse matrix product via the inverted index: the per-pair dot
    product is one posting self-join on the term, grouped by the pair —
    never an all-pairs comparison.  Any pair sharing zero terms has
    cosine 0 < threshold, so the posting join is lossless for every
    positive threshold.  Terms present in more than ``df_frac_cap`` of
    documents are dropped from the VOCABULARY (weights and norms both) —
    deterministic feature selection that bounds the join's Sigma df^2
    fan-out; at 100 TB this cap is what keeps the term shuffle free of
    stop-shingle skew.

    Cross-engine exactness: per-term contribution is ROUND(ln(N/df)^2, 9)
    summed as DECIMAL (order-independent) for both norms and dots;
    cosine is one double division rounded to 6 before the threshold
    compare and ordering.

    Returns (id_a, id_b, cosine), id_a < id_b."""
    posts = shingle_postings(df, id_col, text_col, ngram_n)
    nd = posts.agg(F.countDistinct("__id").alias("__n"))
    dfreq = posts.groupBy("tok").agg(F.count("*").alias("__df"))
    idf = F.log(
        F.col("__n").cast("double") / F.col("__df").cast("double")
    )
    wterm = (
        dfreq.crossJoin(F.broadcast(nd))
        .filter(
            F.col("__df")
            <= F.floor(F.lit(df_frac_cap) * F.col("__n")).cast("long")
        )
        .select(
            "tok",
            F.round(idf * idf, 9).cast("decimal(18,9)").alias("__w2"),
        )
    )
    wp = posts.join(wterm, "tok").persist()
    l, r = wp.alias("l"), wp.alias("r")
    norms = wp.groupBy("__id").agg(
        F.sqrt(F.sum("__w2").cast("double")).alias("__norm")
    )
    dots = (
        l.join(
            r,
            (F.col("l.tok") == F.col("r.tok"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .groupBy(
            F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b")
        )
        .agg(F.sum("l.__w2").cast("double").alias("__dot"))
    )
    na = norms.select(
        F.col("__id").alias("id_a"), F.col("__norm").alias("__na")
    )
    nb = norms.select(
        F.col("__id").alias("id_b"), F.col("__norm").alias("__nb")
    )
    cos = F.round(
        F.col("__dot") / (F.col("__na") * F.col("__nb")), 6
    )
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= F.lit(threshold))
    )
