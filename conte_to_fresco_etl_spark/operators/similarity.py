"""Similarity search over embedding columns (``array<float>``).

  * brute_force_topk — exact cosine top-k: broadcast the (small) query
    set against the corpus, window-rank per query.  The correctness
    baseline and the right plan whenever |queries| is small: corpus never
    shuffles, one pass, map-side ranking via AQE.
  * lsh_topk — random-hyperplane LSH bucketing: corpus and queries hash
    to sign-bit signatures; candidates share a band; exact cosine + rank
    within candidates.  The 100 TB path: the corpus-side join key is a
    small int, so the pair space shrinks by ~2^bits/band before any
    distance math.  Approximate (recall < 1) — benchmark against
    brute_force_topk.

Determinism: hyperplanes come from a seeded NumPy generator on the
driver and enter the plan as literals; ranking breaks ties by id.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from decimal import ROUND_HALF_UP as _ROUND_HALF_UP
from decimal import Decimal as _Decimal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from conte_to_fresco_etl_spark.parallelism import ensure_min_parallelism

# The operators below score vectors with NumPy inside Arrow batches; the
# SQL oracles spell the same dot products and norms as expressions.


def _collect_matrix(
    df: DataFrame, id_col: str, vec_col: str
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Collect (ids, float64 matrix, norms) for a broadcast side."""
    rows = (
        df.select(id_col, vec_col).filter(F.col(vec_col).isNotNull()).collect()
    )
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = (
        np.array([r[1] for r in rows], dtype=np.float64)
        if rows
        else np.zeros((0, 1))
    )
    norms = np.sqrt((mat * mat).sum(axis=1)) if rows else np.zeros(0)
    return ids, mat, norms


def _rounded_cosines(
    v: np.ndarray, v_norms: np.ndarray, q_mat: np.ndarray, q_norms: np.ndarray
) -> np.ndarray:
    """(m, nq) cosine matrix, 0 where a norm is 0, rounded to 6."""
    den = v_norms[:, None] * q_norms[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = np.where(den != 0, (v @ q_mat.T) / den, 0.0)
    return np.round(cos, 6)


def _pair_cosines(
    v: np.ndarray,
    v_norms: np.ndarray,
    q_mat: np.ndarray,
    q_norms: np.ndarray,
    ci: np.ndarray,
    qi: np.ndarray,
) -> np.ndarray:
    """Rounded cosines for explicit (corpus row, query row) index pairs
    — one fused einsum over the gathered rows, FLOPs = |pairs|."""
    if ci.size == 0:
        return np.zeros(0)
    num = np.einsum("ij,ij->i", v[ci], q_mat[qi])
    den = v_norms[ci] * q_norms[qi]
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = np.where(den != 0, num / den, 0.0)
    return np.round(cos, 6)


def _slice_gather(
    row_starts: np.ndarray, row_counts: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Expand per-row [start, start+count) slices into flat gather
    indices: returns (row index repeated per slice element, flat
    positions into the sliced array).  The O(|pairs|) primitive behind
    inverted-index candidate generation — replaces materializing an
    O(rows x queries) boolean mask (which the r12 second-decade bench
    measured at 20-34x wall-clock for 10x rows on the IVF family: the
    mask itself was brute-force-shaped even when candidates were
    sqrt(n)-sparse)."""
    total = int(row_counts.sum())
    if total == 0:
        empty = np.zeros(0, dtype=np.int64)
        return empty, empty
    rows = np.repeat(np.arange(row_counts.size), row_counts)
    offs = np.arange(total) - np.repeat(
        np.cumsum(row_counts) - row_counts, row_counts
    )
    return rows, np.repeat(row_starts, row_counts) + offs


def _local_topk(pdf: pd.DataFrame, k: int) -> pd.DataFrame:
    """Per-partition pre-reduction: keep each query's LOCAL top-k under
    the global total order (cosine desc, neighbor_id asc) before the
    rank shuffle.  Every global winner is a local winner in its own
    partition, so the final window sees <= k rows per (query,
    partition) instead of every scored pair — the shuffle shrinks from
    |candidates| to k * |queries| * |partitions| with zero recall loss."""
    return (
        pdf.sort_values(
            ["query_id", "cosine", "neighbor_id"],
            ascending=[True, False, True],
        )
        .groupby("query_id", sort=False)
        .head(k)
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    pair_counter=None,
) -> DataFrame:
    """Exact cosine top-k per query vector.

    Returns (query_id, neighbor_id, cosine, rank).  Cosine is rounded to
    6 decimals BEFORE ranking so ordering is reproducible across engines;
    ties break by neighbor id ascending.  Self-matches are excluded when
    query ids live in the same id space as the corpus.

    Plan shape: the query set is collected and broadcast as a dense
    float64 matrix; each Arrow batch of the corpus scores against it
    with one BLAS matmul, then a single window ranks per query.  The
    corpus never shuffles except for the final per-query rank (tiny:
    k * |queries| candidates survive).  Premise: |queries| fits in
    memory — the usual ANN serving shape.  Huge query sets: swap sides
    or LSH-bucket (lsh_topk).

    ``pair_counter``: optional SparkContext accumulator; when given,
    each task adds the number of (corpus row, query) pairs it computed
    a dot product for.  This is the apples-to-apples compute metric the
    index variants are judged against — at small SF every variant's
    wall time is session overhead, so the scored-pair count is the
    signal that survives scale-up (FLOPs = pairs x dim).
    """
    qid = query_id_col or id_col
    q_ids, q_mat, q_norms = _collect_matrix(queries, qid, vec_col)
    if q_ids.size == 0:
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    bc = corpus.sparkSession.sparkContext.broadcast((q_ids, q_mat, q_norms))

    def score_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_qids, b_qmat, b_qnorms = bc.value
        for pdf in it:
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            v = np.array(list(pdf[vec_col]), dtype=np.float64)
            v_norms = np.sqrt((v * v).sum(axis=1))
            cos = _rounded_cosines(v, v_norms, b_qmat, b_qnorms)
            keep = c_ids[:, None] != b_qids[None, :]
            ci, qi = np.nonzero(keep)
            if pair_counter is not None:
                # the matmul scored the full cross product
                pair_counter.add(int(v.shape[0]) * int(b_qids.size))
            yield _local_topk(
                pd.DataFrame(
                    {
                        "query_id": b_qids[qi],
                        "neighbor_id": c_ids[ci],
                        "cosine": cos[ci, qi],
                    }
                ),
                k,
            )

    scored = (
        ensure_min_parallelism(
            corpus.select(id_col, vec_col).filter(F.col(vec_col).isNotNull())
        )
        .mapInPandas(
            score_batches,
            schema="query_id long, neighbor_id long, cosine double",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def make_hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    """Seeded Gaussian hyperplanes.  PREFIX-STABLE in ``n_planes``: the
    generator fills row-major, so the first k rows of a wider draw
    equal the k-row draw — widening a plane set never changes the
    planes (and therefore the band keys) an existing configuration
    already uses.  Auto-widened banding depends on this."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def adaptive_band_geometry(
    n: int,
    n_planes: int,
    bands: int,
    target_bucket: int,
    min_bits: int,
    auto_widen: bool = True,
) -> tuple[int, int, int]:
    """Resolve the density-adaptive banding geometry from one corpus
    count: returns ``(segment, bits_per_band, n_planes_eff)`` where
    each band owns a ``segment``-plane slice of the (possibly widened)
    plane set and its LOW ``bits_per_band`` sign bits form the bucket
    key — ``bits = clamp(ceil(log2(n / target_bucket)), min_bits,
    segment)``, the same one-clamp formula a SQL oracle derives from
    its own COUNT(*).

    ``auto_widen`` (the r13 cliff fix, DEFAULT): when the demanded
    bits exceed the configured segment width (past n ≈ target_bucket ·
    2^segment — ~262k rows at 64·2^12) the segment WIDENS to the
    demanded width and the plane set grows to ``bands * segment``
    planes, so bucket sizes keep tracking ~target_bucket instead of
    silently re-entering the n²/2^bits quadratic regime the clamp was
    built to kill (SCALE.md r12 documented this as a manual upgrade;
    the 96-plane control run proved the mechanics).  Widening is
    prefix-stable in the plane draw but SHIFTS bands 1.. onto new
    segment boundaries, so results below the cliff are bit-identical
    to the unwidened form while past it the key space keeps growing.
    With ``auto_widen=False`` the demanded width is clamped to the
    segment (the pre-r13 behavior) and a LOUD warning marks the
    envelope edge instead."""
    import warnings

    segment = n_planes // bands
    needed = (
        max(min_bits, math.ceil(math.log2(max(n, 1) / target_bucket)))
        if n > target_bucket
        else min_bits
    )
    if needed > segment:
        if auto_widen:
            segment = needed
            n_planes = bands * segment
        else:
            warnings.warn(
                f"adaptive LSH banding: corpus size n={n} demands "
                f"{needed}-bit band keys but the configured geometry "
                f"({n_planes} planes / {bands} bands) caps at "
                f"{segment} bits — candidate volume grows ~n^2/2^"
                f"{segment} past this point.  Pass auto_widen=True "
                f"(the default) or widen n_planes to >= "
                f"{bands * needed}.",
                RuntimeWarning,
                stacklevel=3,
            )
    return segment, min(segment, needed), n_planes


def resolve_n_centroids(
    corpus: DataFrame,
    n_centroids: int | str,
    vec_col: str = "embedding",
    min_centroids: int = 8,
    max_centroids: int = 65536,
) -> int:
    """Resolve ``n_centroids="auto"`` to ``clamp(round(sqrt(n)), min,
    max)`` from one count of the corpus — the standard IVF sizing rule
    (cluster size AND probe cost both O(sqrt n)).  The r11 one-decade
    bench measured the cost of NOT scaling this: a gate-sized fixed-8
    quantizer puts n/8 vectors in every list, so probes approach brute
    force as the corpus grows (q_ivf_ann_topk ran 12.6x at 10x rows).
    Like the adaptive LSH bits clamp, the formula is count-derived and
    engine-neutral, so a SQL oracle can mirror it — since r12 every
    PRODUCTION-shaped gated IVF query (q_ivf_auto_topk,
    q_ivf_trained_topk, q_ivf_served_topk, q_ivfpq_auto_topk) sizes its
    quantizer through this rule, with the fixed-8 forms kept only as
    documented yardsticks.  Integer values pass through untouched."""
    if isinstance(n_centroids, int):
        return n_centroids
    if n_centroids != "auto":
        raise ValueError(f"n_centroids must be an int or 'auto', got "
                         f"{n_centroids!r}")
    n = corpus.filter(F.col(vec_col).isNotNull()).count()
    return min(max_centroids, max(min_centroids, round(math.sqrt(max(n, 1)))))


def seed_centroids(
    corpus: DataFrame,
    n_centroids: int | str = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "cent",
) -> np.ndarray:
    """Deterministic IVF quantizer seeds: the ``n_centroids`` corpus
    vectors ranked first by ``md5(salt:id)`` (id tie-break).  A
    hash-ranked draw is a uniform sample that any engine can rebuild
    from the table alone — which makes an *approximate* IVF probe
    exactly oracle-checkable (the quantizer is a pure function of the
    data, unlike k-means whose iterations only NumPy reproduces).

    Plan shape: orderBy + limit compiles to TakeOrderedAndProject — a
    distributed per-partition top-n with only ``n_centroids`` rows ever
    reaching the driver, so the training read is O(n_centroids), not a
    corpus collect.  Quality: hash-seeded centroids are k-means|| step
    0; pass them to ``train_ivf_centroids`` when list balance matters
    more than oracle exactness."""
    n_centroids = resolve_n_centroids(corpus, n_centroids, vec_col)
    h = F.substring(
        F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
        1,
        15,
    )
    rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .filter(F.col(vec_col).isNotNull())
        .withColumn("__h", h)
        .orderBy("__h", id_col)
        .limit(n_centroids)
        .collect()
    )
    if not rows:
        # keep 2-D shape: every consumer does axis-1 math on this
        return np.zeros((0, 0), dtype=np.float64)
    return np.array([r[1] for r in rows], dtype=np.float64)


def spherical_kmeans_core(
    ids: np.ndarray,
    mat: np.ndarray,
    n_centroids: int = 16,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """The pure-NumPy spherical k-means ``train_ivf_centroids`` runs,
    exposed separately so an oracle builder can retrain the IDENTICAL
    quantizer from the same (id, vector) set without Spark: rows are
    sorted by id first, making the float-op sequence — and therefore
    the centroids, bit for bit — a pure function of the set, not of
    scan or collect order."""
    order = np.argsort(ids, kind="stable")
    mat = np.asarray(mat, dtype=np.float64)[order]
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    unit = np.divide(mat, norms, out=np.zeros_like(mat), where=norms != 0)
    rng = np.random.default_rng(seed)
    cents = unit[rng.choice(len(unit), size=min(n_centroids, len(unit)),
                            replace=False)]
    for _ in range(iters):
        assign = (unit @ cents.T).argmax(axis=1)
        for c in range(len(cents)):
            members = unit[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cents[c] = m / n
    return cents


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int | str = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float = 1.0,
    max_train_rows: int = 1_000_000,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Coarse quantizer for IVF: spherical k-means on a (sampled)
    corpus, fitted driver-side on unit-normalized vectors.  Determinism:
    seeded init, fixed iteration count, hash-stable sampling (md5 of
    the id — reproducible across runs and partitionings, unlike
    ``df.sample``), and an id-sorted training matrix
    (``spherical_kmeans_core``) so the result does not depend on
    collect order — any engine holding the same (id, vector) set
    retrains the same centroids bit for bit.

    The training read is BUDGETED, never the full corpus: an optional
    hash-stable ``sample_fraction`` plus a hard ``max_train_rows`` cap
    (``limit`` stops the scan early).  Centroid quality saturates far
    below 1M rows, so at 100 TB the driver still only ever pulls a
    bounded sample — the corpus itself never leaves the executors
    during *search*, only this capped training read."""
    n_centroids = resolve_n_centroids(corpus, n_centroids, vec_col)
    df = corpus.select(id_col, vec_col).filter(F.col(vec_col).isNotNull())
    if sample_fraction < 1.0:
        bucket = F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
        ).cast("long") % 1_000_000
        df = df.filter(bucket < int(sample_fraction * 1_000_000))
    if max_train_rows is not None:
        df = df.limit(max_train_rows)
    rows = df.collect()
    if not rows:
        return np.zeros((0, 0), dtype=np.float64)
    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    return spherical_kmeans_core(ids, mat, n_centroids, iters, seed)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pair_counter=None,
) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) index.

    Each corpus vector belongs to its nearest centroid's list; a query
    probes its ``n_probe`` nearest centroids and scores only vectors in
    those lists.  Recall/cost dial: n_probe = n_centroids degrades to
    exact brute force.

    Local plan mirrors lsh_topk: queries broadcast with their probe
    sets; each corpus Arrow batch assigns itself to centroids (one
    matmul), masks to (corpus row in a probed list), scores, and a
    window ranks.  At scale, materialize the corpus assignment once
    (partitionBy centroid) so probes prune partitions instead of
    re-assigning per scan.

    Determinism contract (what the SQL oracle reproduces): assignment
    and probe order are by ROUND(cosine(v, centroid), 6) descending,
    ties to the LOWER centroid index — argmax/stable-argsort on the
    rounded matrix here, ``ROW_NUMBER() OVER (ORDER BY d DESC, c ASC)``
    there."""
    cents = np.asarray(centroids, dtype=np.float64)
    if cents.size == 0:  # empty corpus/quantizer: nothing can match
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    cent_norms = np.sqrt((cents * cents).sum(axis=1))

    def assign(mat: np.ndarray, norms: np.ndarray) -> np.ndarray:
        # argmax returns the FIRST max: ties go to the lower centroid
        return _rounded_cosines(mat, norms, cents, cent_norms).argmax(axis=1)

    q_ids, q_mat, q_norms = _collect_matrix(queries, id_col, vec_col)
    if q_ids.size == 0:
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    # (nq, n_probe) probed centroid ids per query; stable sort so equal
    # rounded scores keep ascending centroid order
    q_d = _rounded_cosines(q_mat, q_norms, cents, cent_norms)
    probes = np.argsort(-q_d, axis=1, kind="stable")[:, :n_probe]
    # INVERTED probe index (r12): query indices grouped by probed
    # centroid, so each corpus row finds its candidate queries with one
    # O(1) slice lookup on its own cell — work is O(|candidates|).  The
    # previous (batch x queries x n_probe) equality tensor was
    # brute-force-shaped no matter how sparse the candidates: the r12
    # sf10 bench measured the whole sqrt(n)-quantized family at 20-27x
    # for 10x rows on exactly that mask.
    flat_c = probes.ravel()
    flat_q = np.repeat(np.arange(len(q_ids), dtype=np.int64),
                       probes.shape[1])
    order = np.argsort(flat_c, kind="stable")
    inv_q = flat_q[order]
    cell_bounds = np.searchsorted(
        flat_c[order], np.arange(len(cents) + 1)
    ).astype(np.int64)
    bc = corpus.sparkSession.sparkContext.broadcast(
        (q_ids, q_mat, q_norms, inv_q, cell_bounds)
    )

    # n_probe >= n_centroids probes every list: every pair is a
    # candidate, so per-pair gathers only add overhead — one BLAS
    # matmul is cheaper.
    full_probe = n_probe >= len(cents)

    def score_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_qids, b_qmat, b_qnorms, b_inv_q, b_bounds = bc.value
        for pdf in it:
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            v = np.array(list(pdf[vec_col]), dtype=np.float64)
            v_norms = np.sqrt((v * v).sum(axis=1))
            if full_probe:
                cand = c_ids[:, None] != b_qids[None, :]
                cosm = _rounded_cosines(v, v_norms, b_qmat, b_qnorms)
                ci, qi = np.nonzero(cand)
                cos = cosm[ci, qi]
                if pair_counter is not None:
                    pair_counter.add(int(v.shape[0]) * int(b_qids.size))
            else:
                c_assign = assign(v, v_norms)  # (m,)
                # candidates = queries whose probe set contains the
                # row's cell: slice the inverted index per row
                starts = b_bounds[c_assign]
                counts = b_bounds[c_assign + 1] - starts
                ci, flat = _slice_gather(starts, counts)
                qi = b_inv_q[flat]
                keep = c_ids[ci] != b_qids[qi]
                ci, qi = ci[keep], qi[keep]
                # distance math only on probed pairs — never the full matmul
                cos = _pair_cosines(v, v_norms, b_qmat, b_qnorms, ci, qi)
                if pair_counter is not None:
                    # + m x n_cents for the batch's own centroid assign
                    pair_counter.add(
                        int(ci.size) + int(v.shape[0]) * len(cents)
                    )
            yield _local_topk(
                pd.DataFrame(
                    {
                        "query_id": b_qids[qi],
                        "neighbor_id": c_ids[ci],
                        "cosine": cos,
                    }
                ),
                k,
            )

    scored = (
        ensure_min_parallelism(
            corpus.select(id_col, vec_col).filter(F.col(vec_col).isNotNull())
        )
        .mapInPandas(
            score_batches,
            schema="query_id long, neighbor_id long, cosine double",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    pair_counter=None,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH.

    Signature = ``n_planes`` sign bits (bit set where ``v·plane > 0``);
    split into ``bands`` bands; candidate = shares >= 1 band with the
    query.  Exact cosine + rank within candidates only.

    Local plan: queries are collected/broadcast (ids, vectors, band
    keys); each corpus Arrow batch computes its own sign signatures and
    scores only band-matching (corpus row, query) pairs — recall is
    decided by the SAME band pigeonhole a join-based formulation uses.
    At 100 TB with a huge query set, trade the broadcast for the
    equivalent banded self-join on (band, key): explode both sides into
    ``bands`` rows and equi-join — same candidates, shuffle on small
    integer bucket keys (the shape dedup.minhash_lsh_pairs keeps).
    """
    planes_np = np.asarray(make_hyperplanes(dim, n_planes, seed))
    bits_per_band = n_planes // bands
    mask = (1 << bits_per_band) - 1
    shifts = np.arange(bands) * bits_per_band

    def band_keys(mat: np.ndarray) -> np.ndarray:
        """(n, bands) int band keys from sign signatures."""
        bits = (mat @ planes_np.T) > 0  # strict >, matches the expr form
        sigs = (bits.astype(np.int64) << np.arange(n_planes)).sum(axis=1)
        return (sigs[:, None] >> shifts[None, :]) & mask

    q_ids, q_mat, q_norms = _collect_matrix(queries, id_col, vec_col)
    if q_ids.size == 0:
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    # per-band SORTED query keys + the sort permutation (r12): corpus
    # rows find band-matching queries via searchsorted ranges — an
    # O(|collisions|) hash-join shape per batch, replacing the
    # (batch x queries x bands) equality tensor whose cost was the
    # cross product even when collisions were sparse (the same
    # brute-force-shaped mask the sf10 bench caught on the IVF family)
    q_keys = band_keys(q_mat)  # (nq, bands)
    q_sort = np.argsort(q_keys, axis=0, kind="stable").astype(np.int64)
    q_keys_sorted = np.take_along_axis(q_keys, q_sort, axis=0)
    bc = corpus.sparkSession.sparkContext.broadcast(
        (q_ids, q_mat, q_norms, q_keys_sorted, q_sort)
    )

    def score_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_qids, b_qmat, b_qnorms, b_qkeys, b_qsort = bc.value
        nq = b_qids.size
        for pdf in it:
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            v = np.array(list(pdf[vec_col]), dtype=np.float64)
            v_norms = np.sqrt((v * v).sum(axis=1))
            c_keys = band_keys(v)  # (m, bands)
            # candidate where ANY band key matches (pigeonhole): gather
            # per band, then dedup pairs that collide in several bands
            parts = []
            for b in range(bands):
                lo = np.searchsorted(b_qkeys[:, b], c_keys[:, b], "left")
                hi = np.searchsorted(b_qkeys[:, b], c_keys[:, b], "right")
                ci_b, flat = _slice_gather(
                    lo.astype(np.int64), (hi - lo).astype(np.int64)
                )
                if ci_b.size:
                    parts.append(ci_b * nq + b_qsort[flat, b])
            if parts:
                pair_key = np.unique(np.concatenate(parts))
                ci, qi = pair_key // nq, pair_key % nq
                keep = c_ids[ci] != b_qids[qi]
                ci, qi = ci[keep], qi[keep]
            else:
                ci = qi = np.zeros(0, dtype=np.int64)
            # distance math only on colliding pairs — never the full matmul
            cos = _pair_cosines(v, v_norms, b_qmat, b_qnorms, ci, qi)
            if pair_counter is not None:
                # + m x n_planes sign projections for the batch's keys
                pair_counter.add(
                    int(ci.size) + int(v.shape[0]) * n_planes
                )
            yield _local_topk(
                pd.DataFrame(
                    {
                        "query_id": b_qids[qi],
                        "neighbor_id": c_ids[ci],
                        "cosine": cos,
                    }
                ),
                k,
            )

    scored = (
        ensure_min_parallelism(
            corpus.select(id_col, vec_col).filter(F.col(vec_col).isNotNull())
        )
        .mapInPandas(
            score_batches,
            schema="query_id long, neighbor_id long, cosine double",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    method: str = "exact",
    n_centroids: int | str = "auto",
    n_probe: int = 4,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """k-NN majority-vote classification: label each query vector with
    the most frequent label among its ``k`` nearest labeled neighbors
    by rounded cosine (ties: more votes wins, then the smaller label —
    fully deterministic, so the whole classifier admits an exact SQL
    oracle).

    Returns (query_id, pred_label, n_votes).

    ``method`` picks the neighbor search:

    * ``"exact"`` — ``brute_force_topk``.  YARDSTICK: every corpus
      vector scores against every query (one BLAS matmul per Arrow
      batch), so per-search work is O(n · |queries| · d) — measured
      13.9x wall-clock at 10x rows (BENCH_FULL_SF1 r12).  Keep it as
      the recall-1 baseline; classify at corpus scale with the ANN
      sibling below.
    * ``"ivf"`` — the scale path: the vote runs over ``ivf_topk``
      candidates behind a hash-seeded coarse quantizer sized
      ``clamp(round(sqrt n), 8, 65536)`` (``resolve_n_centroids``), so
      per-query work is O(n_probe · sqrt(n) · d).  The quantizer is a
      pure function of the corpus (``seed_centroids``), which keeps
      the approximate classifier exactly oracle-checkable
      (q_knn_classify_ivf); pass ``centroids`` (e.g. k-means-trained)
      to trade oracle exactness for list balance, and note
      ``n_probe >= n_centroids`` provably degrades to the exact vote
      (the q_ivf_exhaustive trick).

    Plan shape: the neighbor search streams the corpus with queries
    broadcast; the surviving top-k table is tiny (k x |queries|) and
    BROADCASTS back against the corpus's (id, label) projection, so
    attaching labels costs no corpus shuffle; one small groupBy + rank
    window finishes the vote."""
    if method == "exact":
        topk = brute_force_topk(
            corpus, queries, k=k, id_col=id_col, vec_col=vec_col
        )
    elif method == "ivf":
        cents = (
            np.asarray(centroids, dtype=np.float64)
            if centroids is not None
            else seed_centroids(
                corpus, n_centroids=n_centroids, id_col=id_col,
                vec_col=vec_col,
            )
        )
        topk = ivf_topk(
            corpus, queries, cents, k=k, n_probe=n_probe,
            id_col=id_col, vec_col=vec_col,
        )
    else:
        raise ValueError(
            f"method must be 'exact' or 'ivf', got {method!r}"
        )
    labels = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("__nl")
    )
    votes = (
        labels.join(F.broadcast(topk), "neighbor_id")
        .groupBy("query_id", "__nl")
        .agg(F.count("*").alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("__nl").asc()
    )
    return (
        votes.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select(
            "query_id",
            F.col("__nl").cast("long").alias("pred_label"),
            F.col("n_votes").cast("long").alias("n_votes"),
        )
    )


def label_centroids(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label mean embedding in long format: (label, dim, n_vecs,
    mean_val) — the class-centroid statistic behind embedding-space
    monitoring (cluster drift, label purity) and nearest-centroid
    classification.

    Long format on purpose: no array column in the result, so the gate
    hashes scalars, and at 100 TB the aggregation is a single
    (label, dim) shuffle of narrow rows with map-side partial sums —
    never a width-64 array carried through a shuffle.

    Exactness: per-value contributions are rounded to 9 decimals and
    cast to DECIMAL before summing, making the mean independent of
    aggregation order in any engine (same discipline as unigram_nll)."""
    x = (
        emb.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(label_col),
            F.posexplode(F.col(vec_col)).alias("pos", "val"),
        )
    )
    return (
        x.groupBy(label_col, "pos")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(
                F.round(F.col("val").cast("double"), 9).cast(
                    "decimal(18,9)"
                )
            ).alias("__s"),
        )
        .select(
            F.col(label_col).cast("long").alias("label"),
            (F.col("pos") + 1).cast("long").alias("dim"),
            F.col("n_vecs").cast("long").alias("n_vecs"),
            F.round(
                F.col("__s").cast("double") / F.col("n_vecs"), 6
            ).alias("mean_val"),
        )
    )


def kmeans_step(
    corpus: DataFrame,
    centroids: "np.ndarray",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "arrow",
) -> DataFrame:
    """One distributed Lloyd iteration: assign every vector to its
    nearest centroid (squared L2 against broadcast centroid literals,
    first-minimum tie rule), then emit the UPDATED centroids in long
    (cluster, dim) format — ``(cluster, dim, n_vecs, mean_val)``.

    This is the full-corpus counterpart of ``train_ivf_centroids``'s
    driver-side NumPy loop: there the sample fits one machine; here
    each iteration is one map-side assignment projection plus one
    narrow-row (cluster, dim) shuffle with partial sums — the shape an
    actual 100 TB k-means must take.  Iterate by feeding the returned
    means back in as the next ``centroids``.

    Exactness: both impls evaluate the IDENTICAL left-associated double
    arithmetic the SQL oracle generates (same literals, same term
    order; IEEE ops are correctly rounded, so identical order ⇒
    identical bits), with the first-minimum tie rule — assignments are
    bit-reproducible across engines.  Per-dim contributions round to 9
    decimals and sum as DECIMAL, so means are aggregation-order
    independent (``label_centroids`` discipline).

    ``arrow`` (default) runs the k·dim fused multiply-adds as NumPy
    row-vector ops with an explicit per-dim accumulation loop (which
    preserves the left-assoc order pairwise ``np.sum`` would break) —
    a k·dim-term column expression exceeds codegen limits and falls
    back to interpreted evaluation (measured 8s → sub-second at sf0.1).
    ``expr`` is the pure-expression twin the oracle mirrors.

    Contract: vectors must have exactly ``dim`` components — null or
    off-length vectors are filtered (both impls, mirrored by the oracle
    WHERE), never crashed on or partially scored.
    """
    k, dim = len(centroids), len(centroids[0])
    if impl == "arrow":
        c_np = np.asarray(centroids, dtype=np.float64)

        def assign_batches(it: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
            for pdf in it:
                vecs = pdf[vec_col].dropna()
                if not len(vecs):
                    yield pd.DataFrame(
                        {"__cl": pd.array([], dtype="int64"),
                         "pos": pd.array([], dtype="int32"),
                         "val": pd.array([], dtype="float64")}
                    )
                    continue
                x_np = np.array(vecs.tolist(), dtype=np.float64)
                n = len(x_np)
                dists = np.empty((k, n))
                for j in range(k):
                    acc = np.zeros(n)
                    for d in range(dim):
                        t = x_np[:, d] - c_np[j, d]
                        acc = acc + t * t  # left-assoc, matches the SQL tree
                    dists[j] = acc
                cl = np.argmin(dists, axis=0) + 1  # first min, 1-based
                yield pd.DataFrame(
                    {
                        "__cl": np.repeat(cl.astype(np.int64), dim),
                        "pos": np.tile(
                            np.arange(dim, dtype=np.int32), n
                        ),
                        "val": x_np.ravel(),
                    }
                )

        from conte_to_fresco_etl_spark.parallelism import (
            DENSE_BYTES_PER_TASK,
            ensure_min_parallelism,
        )

        assigned = ensure_min_parallelism(
            corpus.filter(
                F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
            ).select(vec_col),
            DENSE_BYTES_PER_TASK,
        ).mapInPandas(assign_batches, schema="__cl long, pos int, val double")
    else:
        x = [F.col(vec_col)[d].cast("double") for d in range(dim)]

        def dist_sq(c):
            terms = [
                (x[d] - F.lit(float(c[d]))) * (x[d] - F.lit(float(c[d])))
                for d in range(dim)
            ]
            out = terms[0]
            for t in terms[1:]:
                out = out + t
            return out

        ds = F.array(*[dist_sq(centroids[j]) for j in range(k)])
        assigned = (
            corpus.filter(
                F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
            )
            .select(
                F.array_position(ds, F.array_min(ds)).alias("__cl"),
                F.posexplode(F.col(vec_col)).alias("pos", "val"),
            )
        )
    return (
        assigned.groupBy("__cl", "pos")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(
                F.round(F.col("val").cast("double"), 9).cast("decimal(18,9)")
            ).alias("__s"),
        )
        .select(
            F.col("__cl").cast("long").alias("cluster"),
            (F.col("pos") + 1).cast("long").alias("dim"),
            F.col("n_vecs").cast("long").alias("n_vecs"),
            F.round(F.col("__s").cast("double") / F.col("n_vecs"), 6).alias(
                "mean_val"
            ),
        )
    )


def deterministic_centroids(k: int = 8, dim: int = 64, seed: int = 7):
    """Seed centroids as PURE LITERALS: k x dim uniform values in
    [-1, 1] from a seeded PRNG — a function of (k, dim, seed) alone, so
    any engine (or the SQL oracle) rebuilds the identical doubles.
    Literal seeds make a k-means STEP exactly gateable; for quality
    seeding on real data use ``seed_centroids`` (hash-ranked corpus
    draw) or k-means|| and gate the step function instead."""
    import random

    rng = random.Random(seed)
    return np.array(
        [[rng.uniform(-1.0, 1.0) for _ in range(dim)] for _ in range(k)]
    )


# ---------------------------------------------------------------------------
# Product quantization (Jegou et al. 2011) — compressed-domain ANN
# ---------------------------------------------------------------------------

def pq_codebooks(
    corpus: DataFrame,
    m_sub: int = 8,
    k_sub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "pq",
) -> np.ndarray:
    """Deterministic product-quantization codebooks: the ``k_sub``
    corpus vectors ranked first by ``md5(salt:id)`` (the
    ``seed_centroids`` draw), each sliced into ``m_sub`` subvectors —
    codebook[m][c] is the m-th slice of the c-th selected vector.
    Returns (m_sub, k_sub, dim/m_sub) float64.

    A hash-ranked draw keeps the quantizer a pure function of the
    table, so the whole compressed-domain search is exactly
    oracle-checkable; per-subspace Lloyd iterations (the production
    refinement, same trade as ``train_ivf_centroids`` vs
    ``seed_centroids``) would improve code quality at the cost of a
    NumPy-only oracle.  Training reads ``k_sub`` rows via
    TakeOrderedAndProject — never a corpus collect."""
    seeds = seed_centroids(
        corpus, n_centroids=k_sub, id_col=id_col, vec_col=vec_col, salt=salt
    )
    if seeds.size == 0:  # empty corpus: no quantizer to train
        return np.zeros((m_sub, 0, 0), dtype=np.float64)
    dim = seeds.shape[1]
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    sub = dim // m_sub
    # (k, M, sub) -> (M, k, sub)
    return seeds.reshape(len(seeds), m_sub, sub).transpose(1, 0, 2).copy()


def _pq_assign(x: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """(B, D) float64 -> (B, M) int32 codes: per subspace, argmin of the
    ROUNDED squared L2 distance to each codeword (round-to-6 before
    argmin keeps the winner — and its lowest-index tie-break — stable
    across engines whose float-op order differs)."""
    m_sub, k_sub, sub = codebooks.shape
    codes = np.empty((x.shape[0], m_sub), dtype=np.int32)
    for m in range(m_sub):
        xm = x[:, m * sub : (m + 1) * sub]
        diff = xm[:, None, :] - codebooks[m][None, :, :]
        d2 = np.round((diff * diff).sum(axis=2), 6)
        codes[:, m] = d2.argmin(axis=1)  # first occurrence = lowest c
    return codes


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    pair_counter=None,
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC) over
    PQ codes: each query precomputes an (m_sub x k_sub) table of
    subspace distances to every codeword, and a corpus vector's
    approximate distance is the sum of M table lookups at its codes —
    M adds per pair instead of a D-dim dot product (8 vs 64 FLOPs/pair
    here; the gap widens with dim).

    Returns (query_id, neighbor_id, approx_d2, rank) with rank <= k by
    approximate squared L2 ascending, ties by neighbor id.  Distances
    are rounded to 6 before and after the M-term sum so ranking is
    reproducible across engines.

    Plan shape: queries collect + broadcast (the serving shape, as
    brute_force_topk); the corpus is encoded AND scored in ONE
    map-side Arrow pass (codes never materialize unless you persist
    ``pq_encode`` output yourself — the production pattern at 100 TB,
    where encode runs once at ingest and search scans only the 32x
    smaller code table); per-partition local top-k pre-reduction
    shrinks the rank shuffle to k * |queries| * |partitions|."""
    qid = query_id_col or id_col
    q_ids, q_mat, _ = _collect_matrix(queries, qid, vec_col)
    if q_ids.size == 0 or codebooks.size == 0:
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, approx_d2 double, rank int"
        )
    m_sub, k_sub, sub = codebooks.shape
    # (Q, M, K) rounded subspace distance tables
    tables = np.empty((len(q_ids), m_sub, k_sub))
    for m in range(m_sub):
        qm = q_mat[:, m * sub : (m + 1) * sub]
        diff = qm[:, None, :] - codebooks[m][None, :, :]
        tables[:, m, :] = np.round((diff * diff).sum(axis=2), 6)
    bc = corpus.sparkSession.sparkContext.broadcast(
        (q_ids, tables, codebooks)
    )

    def score_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_qids, b_tables, cb = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            v = np.array(list(pdf[vec_col]), dtype=np.float64)
            codes = _pq_assign(v, cb)
            # ADC: acc[q, b] = sum_m tables[q, m, codes[b, m]]
            acc = np.zeros((b_qids.size, len(c_ids)))
            for m in range(cb.shape[0]):
                acc += b_tables[:, m, codes[:, m]]
            acc = np.round(acc, 6)
            if pair_counter is not None:
                pair_counter.add(int(len(c_ids)) * int(b_qids.size))
            qi, ci = np.nonzero(c_ids[None, :] != b_qids[:, None])
            out = pd.DataFrame(
                {
                    "query_id": b_qids[qi],
                    "neighbor_id": c_ids[ci],
                    "approx_d2": acc[qi, ci],
                }
            )
            # local pre-reduction under the global order (d2 asc, id asc)
            yield (
                out.sort_values(
                    ["query_id", "approx_d2", "neighbor_id"],
                    ascending=[True, True, True],
                )
                .groupby("query_id", sort=False)
                .head(k)
            )

    scored = (
        ensure_min_parallelism(
            corpus.select(id_col, vec_col).filter(F.col(vec_col).isNotNull())
        )
        .mapInPandas(
            score_batches,
            schema="query_id long, neighbor_id long, approx_d2 double",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    pair_counter=None,
) -> DataFrame:
    """IVF + PQ composed search (the FAISS-IVFPQ shape): the coarse
    quantizer prunes WHICH vectors are scored (only inverted lists the
    query probes), product quantization compresses HOW each surviving
    pair is scored (M table lookups instead of a D-dim dot).  The two
    prunings multiply: candidates drop by ~n_probe/n_centroids and
    per-pair FLOPs by D/M.

    Assignment/probing use rounded cosine (ties to lowest centroid
    index), scoring uses rounded ADC squared-L2 — each identical to the
    standalone ``ivf_topk`` / ``pq_topk`` conventions, so the SQL
    oracle composes the same two CTE families verbatim.

    Returns (query_id, neighbor_id, approx_d2, rank), rank <= k.

    Plan shape: queries/centroids/codebooks broadcast; the corpus is
    assigned, encoded AND scored in ONE map-side Arrow pass;
    per-partition local top-k pre-reduction bounds the rank shuffle.
    At 100 TB, materialize assignment+codes once (partitioned by
    centroid) so probes prune partitions — the ``ivf_topk`` note
    composed with the stored-code table from ``pq_encode``."""
    qid = query_id_col or id_col
    q_ids, q_mat, q_norms = _collect_matrix(queries, qid, vec_col)
    cents = np.asarray(centroids, dtype=np.float64)
    if q_ids.size == 0 or cents.size == 0 or codebooks.size == 0:
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, approx_d2 double, rank int"
        )
    c_norms = np.sqrt((cents * cents).sum(axis=1))
    # per-query probe sets: top-n_probe centroids by rounded cosine,
    # ties broken toward the lower centroid index
    qcos = _rounded_cosines(q_mat, q_norms, cents, c_norms)  # (nq, nc)
    order = np.lexsort(
        (np.broadcast_to(np.arange(cents.shape[0]), qcos.shape), -qcos),
        axis=1,
    )
    probe_sets = order[:, : min(n_probe, cents.shape[0])]
    m_sub, k_sub, sub = codebooks.shape
    tables = np.empty((len(q_ids), m_sub, k_sub))
    for m in range(m_sub):
        qm = q_mat[:, m * sub : (m + 1) * sub]
        diff = qm[:, None, :] - codebooks[m][None, :, :]
        tables[:, m, :] = np.round((diff * diff).sum(axis=2), 6)
    # inverted probe index, exactly as ivf_topk (r12): candidate
    # generation is an O(|candidates|) slice gather per batch, never an
    # O(batch x queries) mask
    flat_c = probe_sets.ravel()
    flat_q = np.repeat(np.arange(len(q_ids), dtype=np.int64),
                       probe_sets.shape[1])
    porder = np.argsort(flat_c, kind="stable")
    inv_q = flat_q[porder]
    cell_bounds = np.searchsorted(
        flat_c[porder], np.arange(cents.shape[0] + 1)
    ).astype(np.int64)
    bc = corpus.sparkSession.sparkContext.broadcast(
        (q_ids, tables, inv_q, cell_bounds, cents, c_norms, codebooks)
    )

    def score_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_qids, b_tables, b_inv_q, b_bounds, b_cents, b_cnorms, cb = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            v = np.array(list(pdf[vec_col]), dtype=np.float64)
            v_norms = np.sqrt((v * v).sum(axis=1))
            ccos = _rounded_cosines(v, v_norms, b_cents, b_cnorms)
            assign = ccos.argmax(axis=1)  # first max = lowest index
            codes = _pq_assign(v, cb)
            # candidates = queries probing the row's cell
            starts = b_bounds[assign]
            counts = b_bounds[assign + 1] - starts
            ci, flat = _slice_gather(starts, counts)
            qi = b_inv_q[flat]
            keep = c_ids[ci] != b_qids[qi]
            ci, qi = ci[keep], qi[keep]
            if qi.size == 0:
                continue
            if pair_counter is not None:
                # coarse assignment + table build are broadcast-side;
                # per-pair cost is the M lookups on candidates only
                pair_counter.add(int(qi.size))
            # ADC on candidate pairs only: gather rows, sum M lookups
            d2 = np.zeros(qi.size)
            for m in range(cb.shape[0]):
                d2 += b_tables[qi, m, codes[ci, m]]
            out = pd.DataFrame(
                {
                    "query_id": b_qids[qi],
                    "neighbor_id": c_ids[ci],
                    "approx_d2": np.round(d2, 6),
                }
            )
            yield (
                out.sort_values(
                    ["query_id", "approx_d2", "neighbor_id"],
                    ascending=[True, True, True],
                )
                .groupby("query_id", sort=False)
                .head(k)
            )

    scored = (
        ensure_min_parallelism(
            corpus.select(id_col, vec_col).filter(F.col(vec_col).isNotNull())
        )
        .mapInPandas(
            score_batches,
            schema="query_id long, neighbor_id long, approx_d2 double",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: np.ndarray,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic deduplication (the SemDeDup recipe, Abbas et al. 2023):
    cluster embeddings with a coarse quantizer, then WITHIN each
    cluster drop any item that has a near-neighbor (rounded cosine >=
    ``threshold``) with a smaller id — keeping one representative per
    tight semantic neighborhood without ever comparing across
    clusters.

    Output: (id, cluster, keep).

    Scale shape: assignment is one map-side Arrow pass against
    broadcast centroids; the near-neighbor probe SHUFFLES ONCE on the
    cluster key and scores each cluster's pairs as one vectorized
    NumPy matmul inside ``applyInPandas`` (pairwise work is sum of
    cluster-size squared, the quantity the clustering exists to bound
    — never corpus squared; an expression-join formulation measured
    ~25x slower: 3M candidate pairs x 64-dim interpreted array
    lambdas).  Skewed clusters are the failure mode: one giant cluster
    is one giant task — cap cluster size upstream (more centroids) or
    salt the hot cluster."""
    cents = np.asarray(centroids, dtype=np.float64)
    if cents.size == 0:  # empty corpus: no clusters, nothing to prune
        return corpus.sparkSession.createDataFrame(
            [], f"{id_col} long, cluster long, keep boolean"
        )
    c_norms = np.sqrt((cents * cents).sum(axis=1))
    bc = corpus.sparkSession.sparkContext.broadcast((cents, c_norms))

    def assign_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_cents, b_cnorms = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            v = np.array(list(pdf[vec_col]), dtype=np.float64)
            v_norms = np.sqrt((v * v).sum(axis=1))
            cos = _rounded_cosines(v, v_norms, b_cents, b_cnorms)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(dtype=np.int64),
                    "cluster": cos.argmax(axis=1).astype(np.int32),
                    vec_col: pdf[vec_col],
                }
            )

    vec_type = dict(corpus.dtypes)[vec_col]
    assigned = ensure_min_parallelism(
        corpus.select(id_col, vec_col).filter(F.col(vec_col).isNotNull())
    ).mapInPandas(
        assign_batches,
        schema=f"{id_col} long, cluster int, {vec_col} {vec_type}",
    )
    def prune_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        v = np.array(list(pdf[vec_col]), dtype=np.float64)
        norms = np.sqrt((v * v).sum(axis=1))
        cos = _rounded_cosines(v, norms, v, norms)
        # drop i if any j with ids[j] < ids[i] and cos[i, j] >= t
        smaller = ids[None, :] < ids[:, None]
        keep = ~((cos >= threshold) & smaller).any(axis=1)
        return pd.DataFrame(
            {
                id_col: ids,
                "cluster": pdf["cluster"].to_numpy(dtype=np.int64),
                "keep": keep,
            }
        )

    return assigned.groupBy("cluster").applyInPandas(
        prune_cluster, schema=f"{id_col} long, cluster long, keep boolean"
    )


def centroid_similarity(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pairwise cosine similarity between label centroids — the
    class-separability matrix embedding-space monitoring watches: two
    labels whose centroids drift together are collapsing (label noise,
    domain shift) long before a classifier notices.

    Consumes :func:`label_centroids`' long (label, dim, mean_val)
    table, so the corpus collapses ONCE; the pairwise pass is a
    |labels|²·dims self-join of a dimension-sized table.  Cosine
    contributions are ROUND(12)-pinned decimal sums over the ROUND(6)
    centroid means — engine-exact.

    Output: ``(label_a, label_b, cosine)``, a < b, ROUND(6)."""
    cent = label_centroids(emb, label_col=label_col, vec_col=vec_col)
    a = cent.select(
        F.col(label_col).alias("label_a"),
        F.col("dim"),
        F.col("mean_val").alias("ma"),
    )
    b = cent.select(
        F.col(label_col).alias("label_b"),
        F.col("dim"),
        F.col("mean_val").alias("mb"),
    )
    dot = F.round(F.col("ma") * F.col("mb"), 12).cast("decimal(28,12)")
    na = F.round(F.col("ma") * F.col("ma"), 12).cast("decimal(28,12)")
    nb = F.round(F.col("mb") * F.col("mb"), 12).cast("decimal(28,12)")
    return (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(dot).cast("double").alias("__dot"),
            F.sum(na).cast("double").alias("__na"),
            F.sum(nb).cast("double").alias("__nb"),
        )
        .select(
            "label_a",
            "label_b",
            F.round(
                F.col("__dot")
                / F.sqrt(F.col("__na") * F.col("__nb")),
                6,
            ).alias("cosine"),
        )
    )


def _expr_dot(a, b):
    """Sequential left-fold dot product as a pure Column expression —
    the same summation order DuckDB's list_dot_product uses, so both
    engines produce identical doubles before the ROUND(6) pin."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def embedding_outliers(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k_per_label: int = 5,
) -> DataFrame:
    """Per-label embedding outliers: squared L2 distance of every
    vector to its OWN label's centroid, top-``k_per_label`` farthest
    per label — the review queue for mislabeled / off-distribution
    examples (the CLIP-filtering shape: points far from their class
    centroid are the ones a human or a stricter model should re-check
    before the pairs enter training).

    Returns (label, vec_id, dist2, rk) with rk ≤ k_per_label, ranked
    by (dist2 desc, vec_id asc) on ROUND(6) distances.

    Scale posture: centroids via ``label_centroids`` (narrow
    (label, dim) shuffle, dimension-table-sized result, broadcast back);
    distances are one map-side join + decimal-summed per-vector
    reduction; the rank window partitions by label and sees only
    per-label rows.  Per-dim contributions ROUND(12)→DECIMAL so the
    distance is aggregation-order independent across engines.
    """
    cent = label_centroids(emb, label_col, vec_col)
    x = (
        emb.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col),
            F.col(label_col).cast("long").alias("label"),
            F.posexplode(F.col(vec_col)).alias("pos", "val"),
        )
        .select(
            id_col,
            "label",
            (F.col("pos") + 1).cast("long").alias("dim"),
            F.col("val").cast("double").alias("val"),
        )
    )
    diff = F.col("val") - F.col("mean_val")
    d2 = (
        x.join(F.broadcast(cent.select("label", "dim", "mean_val")), ["label", "dim"])
        .groupBy("label", id_col)
        .agg(
            F.round(
                F.sum(
                    F.round(diff * diff, 12).cast("decimal(28,12)")
                ).cast("double"),
                6,
            ).alias("dist2")
        )
    )
    w = Window.partitionBy("label").orderBy(
        F.col("dist2").desc(), F.col(id_col).asc()
    )
    return (
        d2.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k_per_label)
        .select("label", id_col, "dist2", "rk")
    )


def hard_negative_topk(
    emb: DataFrame,
    query_pred,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the ``k`` most-cosine-similar vectors carrying a DIFFERENT
    label — the near-miss negatives that actually move a contrastive
    loss (random negatives are trivially separable).

    ``query_pred`` is a boolean Column selecting the query rows from
    ``emb`` itself (anchor set).

    Returns (query_id, neighbor_id, neighbor_label, cosine, rank),
    cosine ROUND(6) before ranking, ties by neighbor id.

    Plan shape: the query side is a broadcast cross join (anchors are
    batch-sized in contrastive training); the corpus streams through
    one codegen projection computing the fold-ordered dot product, and
    the rank shuffle carries only per-query candidates.  Unlike
    ``brute_force_topk`` this is pure Column expression — no driver
    collect, so the anchor set may itself be a DataFrame-defined
    subset at any scale AQE can broadcast."""
    base = (
        emb.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col),
            F.col(label_col),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "__e"
            ),
        )
        .withColumn("__nrm", F.sqrt(_expr_dot(F.col("__e"), F.col("__e"))))
    )
    q = (
        base.filter(query_pred)
        .select(
            F.col(id_col).alias("__qid"),
            F.col(label_col).alias("__qlabel"),
            F.col("__e").alias("__qe"),
            F.col("__nrm").alias("__qnrm"),
        )
    )
    cos = F.round(
        F.when(F.col("__qnrm") * F.col("__nrm") == 0, F.lit(0.0)).otherwise(
            _expr_dot(F.col("__e"), F.col("__qe"))
            / (F.col("__qnrm") * F.col("__nrm"))
        ),
        6,
    )
    pairs = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("__qid"))
        .filter(F.col(label_col) != F.col("__qlabel"))
        .select(
            F.col("__qid").alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            F.col(label_col).alias("neighbor_label"),
            cos.alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def hard_negative_topk_lsh(
    emb: DataFrame,
    query_pred,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = 64,
    n_planes: int = 48,
    bands: int = 4,
    seed: int = 42,
    adaptive_bits: bool = True,
    target_bucket: int = 64,
    min_bits: int = 4,
    auto_widen: bool = True,
) -> DataFrame:
    """Hard-negative mining at corpus scale: LSH band candidates
    instead of anchors x corpus.  ``hard_negative_topk`` scores every
    (anchor, vector) pair — with an anchor set that is a FRACTION of
    the corpus (the gated query's ``vec_id % 100``) that is O(n²) and
    measured 55x wall-clock at 10x rows in the r11 one-decade bench.
    Here both sides band into the density-adaptive sign-LSH buckets of
    ``dedup.embedding_lsh_neardup_pairs`` (bits = clamp(ceil(log2(n /
    target_bucket)), min_bits, segment) — candidates O(n), one count
    job, the SAME clamp a SQL oracle derives from COUNT(*)), and only
    candidates get the exact cosine + different-label filter + per-
    anchor top-k.  Approximate w.r.t. the exact miner exactly as LSH
    top-k is approximate w.r.t. brute force: DETERMINISTIC given the
    plane literals, so the candidate sets, scores, and ranking stay
    oracle-gated bit-for-bit.

    Plan shape: sign signatures (Arrow matmul, one long per vector) →
    band explode (narrow int keys) → anchor-bands equi-join corpus-
    bands → distinct (query, neighbor) → re-attach vectors/labels by id
    → exact cosine (Arrow batch einsum) → rank window per anchor.
    Nothing is collected to the driver; the shuffle carries bucket keys
    and id pairs, never vectors.

    Block hygiene: this operator persists NOTHING — the banded
    signature table feeds both join sides, so its one-matmul-per-vector
    scan is recomputed once per side rather than cached (r11 persisted
    it and leaked a block per invocation in long-lived sessions;
    tests/test_cleanup.py pins the leak-free contract).  A caller
    mining repeatedly against the same corpus should stage the
    signature table themselves (write it out, or persist + unpersist
    around the batch of calls).

    ``auto_widen`` (r13, default): the band geometry widens past the
    segment cap exactly as ``dedup.embedding_lsh_neardup_pairs`` does
    (``adaptive_band_geometry``) — past n ≈ target_bucket · 2^segment
    the demanded key width used to clamp silently and candidates
    re-entered the quadratic regime.  The q_hard_negatives_lsh oracle
    embeds plane literals for the unwidened regime (gate tables sit
    far below the cliff); the widened mechanics are gated by
    q_neardup_lsh_autowiden over the shared geometry helper."""
    base = emb.select(
        F.col(id_col), F.col(label_col), F.col(vec_col)
    ).filter(F.col(vec_col).isNotNull())
    segment = n_planes // bands
    if adaptive_bits:
        n = base.count()
        segment, bits_per_band, n_planes = adaptive_band_geometry(
            n, n_planes, bands, target_bucket, min_bits, auto_widen
        )
    else:
        bits_per_band = segment
    planes_np = np.asarray(make_hyperplanes(dim, n_planes, seed))

    def key_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
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

    sigs = ensure_min_parallelism(base.select(id_col, vec_col)).mapInPandas(
        key_batches, schema=f"{id_col} long, keys array<bigint>"
    )
    exploded = sigs.select(
        F.col(id_col), F.posexplode("keys").alias("band", "key")
    ).select(F.col(id_col), F.struct("band", "key").alias("b"))
    anchors = base.filter(query_pred).select(F.col(id_col).alias("__qid"))
    qb = exploded.join(
        F.broadcast(anchors), exploded[id_col] == anchors["__qid"]
    ).select(F.col("__qid"), F.col("b").alias("qb"))
    cand = (
        exploded.alias("c")
        .join(
            qb.alias("q"),
            (F.col("c.b.band") == F.col("q.qb.band"))
            & (F.col("c.b.key") == F.col("q.qb.key"))
            & (F.col(f"c.{id_col}") != F.col("q.__qid")),
        )
        .select(
            F.col("q.__qid").alias("query_id"),
            F.col(f"c.{id_col}").alias("neighbor_id"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qv = base.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("__qlabel"),
        F.col(vec_col).alias("__qe"),
    )
    nv = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).alias("__ne"),
    )
    pairs = (
        cand.join(nv, "neighbor_id")
        .join(qv, "query_id")
        .filter(F.col("neighbor_label") != F.col("__qlabel"))
    )

    def cos_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            a = np.array(list(pdf["__qe"]), dtype=np.float64)
            b = np.array(list(pdf["__ne"]), dtype=np.float64)
            num = np.einsum("ij,ij->i", a, b)
            den = np.sqrt((a * a).sum(axis=1)) * np.sqrt((b * b).sum(axis=1))
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.round(np.where(den != 0, num / den, 0.0), 6)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(dtype=np.int64),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(
                        dtype=np.int64
                    ),
                    "neighbor_label": pdf["neighbor_label"].to_numpy(
                        dtype=np.int64
                    ),
                    "cosine": cos,
                }
            )

    scored = pairs.mapInPandas(
        cos_batches,
        schema="query_id long, neighbor_id long, neighbor_label long, "
        "cosine double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# ANN index persistence: trained quantizers as parquet tables
# ---------------------------------------------------------------------------

def corpus_fingerprint(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> str:
    """Order-independent identity of an embedding corpus, used to
    detect a stale persisted quantizer: ``count:decimal-sum of
    xxhash64(id, vector)``.  The sum is carried in DECIMAL(38,0) so it
    is exact and independent of partitioning/aggregation order; the
    whole check is one distributed aggregate — nothing leaves the
    executors but two numbers."""
    row = (
        df.select(
            F.xxhash64(
                F.col(id_col), F.col(vec_col).cast("string")
            ).alias("__h")
        )
        .agg(
            F.count("*").alias("__n"),
            F.sum(F.col("__h").cast("decimal(38,0)")).alias("__s"),
        )
        .collect()[0]
    )
    return f"{row['__n']}:{row['__s'] if row['__s'] is not None else 0}"


def assign_cells(
    corpus: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vector, cell): each corpus vector labeled with its IVF
    cell — argmax of ROUND(cosine, 6) with ties to the lower centroid
    index, byte-identical to the assignment ``ivf_topk`` computes
    inline.  One map-side Arrow pass, no shuffle.

    This is the INGEST half of the stored-assignment serving shape:
    computing cells costs O(n * n_centroids * d) — with the sqrt(n)
    quantizer that is the n^1.5 term of the whole IVF family (the r12
    sf10 bench measured it at 13-15x per decade when re-paid on every
    search).  Pay it once here, store the labeled corpus partitioned
    by cell, and every later search is candidate-gather + rescoring
    only (``served_ivf_topk`` warm path)."""
    cents = np.asarray(centroids, dtype=np.float64)
    cent_norms = np.sqrt((cents * cents).sum(axis=1))
    bc = corpus.sparkSession.sparkContext.broadcast((cents, cent_norms))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_cents, b_cnorms = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            v = np.array(list(pdf[vec_col]), dtype=np.float64)
            v_norms = np.sqrt((v * v).sum(axis=1))
            cell = _rounded_cosines(v, v_norms, b_cents, b_cnorms).argmax(
                axis=1
            )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(dtype=np.int64),
                    vec_col: pdf[vec_col],
                    "cell": cell.astype(np.int32),
                }
            )

    return ensure_min_parallelism(
        corpus.select(id_col, vec_col).filter(F.col(vec_col).isNotNull())
    ).mapInPandas(
        batches, schema=f"{id_col} long, {vec_col} array<double>, cell int"
    )


def ivf_topk_preassigned(
    assigned: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """IVF top-k over a corpus whose cell assignment is STORED (one
    ``assign_cells`` pass at ingest, partitioned by cell) instead of
    recomputed per search: each Arrow batch reads its ``cell`` column,
    slice-gathers candidate queries from the inverted probe index, and
    rescores only candidates — per-search work drops from
    O(n * n_centroids * d) to O(|candidates| * d).  Results are
    bit-identical to ``ivf_topk`` over the same centroids (same rounded
    assignment, same probe order, same rescoring), pinned by the
    serve-twice test and the q_ivf_served_topk gate.  When the probed
    cell set is small relative to n_centroids (few queries), the
    cell-partitioned layout also prunes whole partitions via the
    pushed ``cell IN (...)`` filter."""
    cents = np.asarray(centroids, dtype=np.float64)
    if cents.size == 0:
        return assigned.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    cent_norms = np.sqrt((cents * cents).sum(axis=1))
    q_ids, q_mat, q_norms = _collect_matrix(queries, id_col, vec_col)
    if q_ids.size == 0:
        return assigned.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    q_d = _rounded_cosines(q_mat, q_norms, cents, cent_norms)
    probes = np.argsort(-q_d, axis=1, kind="stable")[:, :n_probe]
    flat_c = probes.ravel()
    flat_q = np.repeat(np.arange(len(q_ids), dtype=np.int64),
                       probes.shape[1])
    order = np.argsort(flat_c, kind="stable")
    inv_q = flat_q[order]
    cell_bounds = np.searchsorted(
        flat_c[order], np.arange(len(cents) + 1)
    ).astype(np.int64)
    probed_cells = [int(c) for c in np.unique(flat_c)]
    bc = assigned.sparkSession.sparkContext.broadcast(
        (q_ids, q_mat, q_norms, inv_q, cell_bounds)
    )

    # n_probe >= n_centroids probes every list (the q_ivf_exhaustive
    # exactness configuration): every pair is a candidate, so per-pair
    # gathers only add overhead — one BLAS matmul per batch is cheaper
    # (the same branch ivf_topk takes; results identical either way).
    full_probe = n_probe >= len(cents)

    def score_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_qids, b_qmat, b_qnorms, b_inv_q, b_bounds = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            v = np.array(list(pdf[vec_col]), dtype=np.float64)
            v_norms = np.sqrt((v * v).sum(axis=1))
            if full_probe:
                cosm = _rounded_cosines(v, v_norms, b_qmat, b_qnorms)
                ci, qi = np.nonzero(c_ids[:, None] != b_qids[None, :])
                cos = cosm[ci, qi]
            else:
                cell = pdf[cell_col].to_numpy(dtype=np.int64)
                starts = b_bounds[cell]
                counts = b_bounds[cell + 1] - starts
                ci, flat = _slice_gather(starts, counts)
                qi = b_inv_q[flat]
                keep = c_ids[ci] != b_qids[qi]
                ci, qi = ci[keep], qi[keep]
                cos = _pair_cosines(v, v_norms, b_qmat, b_qnorms, ci, qi)
            yield _local_topk(
                pd.DataFrame(
                    {
                        "query_id": b_qids[qi],
                        "neighbor_id": c_ids[ci],
                        "cosine": cos,
                    }
                ),
                k,
            )

    # When the probe sets cover every cell the isin filter keeps all
    # rows anyway — skip it: under the sqrt(n) auto quantizer the
    # literal list can reach 65536 entries, which costs plan size and
    # per-row evaluation for zero pruning.
    if len(probed_cells) >= len(cents):
        pruned = assigned
    else:
        pruned = assigned.filter(F.col(cell_col).isin(probed_cells))
    scored = ensure_min_parallelism(
        pruned.select(id_col, vec_col, cell_col)
    ).mapInPandas(
        score_batches,
        schema="query_id long, neighbor_id long, cosine double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _cell_write_tasks(raw, fallback: int) -> int:
    """Shuffle-partition conf parsed defensively: managed deployments
    may set ``spark.sql.shuffle.partitions`` to a non-integer value
    such as ``"auto"`` (AQE-managed), where a bare ``int()`` would
    break every index save — fall back to the cluster's default
    parallelism."""
    try:
        return int(raw)
    except (TypeError, ValueError):
        return fallback


def _write_small_table(spark, rows, schema: str, path: str) -> None:
    """Write a driver-local handful of rows (centroids / codebooks /
    meta) as ONE parquet file via a single-slice parallelize.  The
    previous ``createDataFrame(rows).coalesce(1)`` shape parallelized
    the list into ``defaultParallelism`` pickled Python partitions and
    then made ONE task evaluate all of them sequentially — ~150 ms of
    Python-worker round-trip per partition, ~5 s per tiny write on
    local[32] (measured r13; guide §4 — the boundary cost is per
    partition, not per row).  One slice = one evaluation, same single
    output file, byte-identical table."""
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    ).write.mode("overwrite").parquet(path)


def _write_cell_layout(assigned: DataFrame, path: str, mode: str) -> None:
    """Write a cell-labeled corpus hash-repartitioned ON the cell key
    (one file per cell per write — see the save_index comment)."""
    n_tasks = _cell_write_tasks(
        assigned.sparkSession.conf.get("spark.sql.shuffle.partitions", None),
        assigned.sparkSession.sparkContext.defaultParallelism,
    )
    assigned.repartition(n_tasks, "cell").write.mode(mode).partitionBy(
        "cell"
    ).parquet(path)


def save_index(
    spark,
    path: str,
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    fingerprint: str | None = None,
    assigned: DataFrame | None = None,
) -> None:
    """Persist trained ANN state (IVF centroids and/or PQ codebooks) as
    plain parquet tables under ``path``:

      * ``{path}/centroids``  — (idx int, vec array<double>)
      * ``{path}/codebooks``  — (m int, idx int, vec array<double>)
      * ``{path}/meta``       — (key string, value string)

    Rationale: without persistence every query session retrains the
    quantizer (a budgeted-but-real corpus sample read + driver k-means);
    at 100 TB serving repeated queries that is real money.  Parquet
    doubles round-trip float64 exactly, so a loaded quantizer is
    bit-identical to the trained one — ``ivf_topk``/``pq_topk`` return
    identical results either way (pinned by the serve-twice test and
    the q_ivf_served_topk gate).  ``fingerprint`` (from
    ``corpus_fingerprint``) records which corpus trained the state so a
    serving session can detect staleness instead of silently probing a
    drifted index."""
    meta = [("format_version", "1")]
    if fingerprint is not None:
        meta.append(("fingerprint", fingerprint))
    if centroids is not None:
        cents = np.asarray(centroids, dtype=np.float64)
        rows = [(i, [float(x) for x in c]) for i, c in enumerate(cents)]
        _write_small_table(
            spark, rows, "idx int, vec array<double>", f"{path}/centroids"
        )
        meta.append(("n_centroids", str(len(cents))))
    if codebooks is not None:
        cbs = np.asarray(codebooks, dtype=np.float64)
        rows = [
            (m, i, [float(x) for x in cbs[m, i]])
            for m in range(cbs.shape[0])
            for i in range(cbs.shape[1])
        ]
        _write_small_table(
            spark, rows, "m int, idx int, vec array<double>",
            f"{path}/codebooks",
        )
        meta.append(("m_sub", str(cbs.shape[0])))
        meta.append(("k_sub", str(cbs.shape[1])))
    if assigned is not None:
        # the cell-labeled corpus, partitioned by cell: the stored-
        # assignment serving layout (ivf_topk_preassigned) — probed
        # cells prune partitions, and no search re-pays the
        # O(n * n_centroids * d) assignment.  Hash-repartition ON the
        # cell key first so every cell directory gets exactly ONE file
        # (without it, each of the W write tasks drops a fragment into
        # every cell it touches — W x n_centroids small files, and the
        # r12 warm-serve measurement was file-listing-bound instead of
        # candidate-bound).
        _write_cell_layout(assigned, f"{path}/corpus", mode="overwrite")
        meta.append(("assigned", "1"))
    _write_small_table(
        spark, meta, "key string, value string", f"{path}/meta"
    )


def load_index(spark, path: str) -> dict:
    """Load ANN state written by ``save_index``.  Returns a dict with
    ``centroids`` (np.ndarray | None), ``codebooks`` (np.ndarray |
    None) and ``fingerprint`` (str | None).  Arrays are rebuilt in
    index order, so they are bit-identical to what was saved."""
    import os

    out: dict = {
        "centroids": None,
        "codebooks": None,
        "fingerprint": None,
        "assigned_path": None,
    }
    meta_path = f"{path}/meta"
    if not os.path.exists(meta_path.replace("file:", "")):
        raise FileNotFoundError(f"no ANN index at {path}")
    meta = {
        r["key"]: r["value"] for r in spark.read.parquet(meta_path).collect()
    }
    # the raw rows ride along so a writer (append_index) can rewrite
    # meta without a second read job over the same tiny table
    out["meta"] = dict(meta)
    out["fingerprint"] = meta.get("fingerprint")
    if meta.get("assigned") == "1":
        out["assigned_path"] = f"{path}/corpus"
    if "n_centroids" in meta:
        rows = sorted(
            spark.read.parquet(f"{path}/centroids").collect(),
            key=lambda r: r["idx"],
        )
        out["centroids"] = np.array(
            [r["vec"] for r in rows], dtype=np.float64
        )
    if "m_sub" in meta:
        rows = spark.read.parquet(f"{path}/codebooks").collect()
        m_sub, k_sub = int(meta["m_sub"]), int(meta["k_sub"])
        sub = len(rows[0]["vec"]) if rows else 0
        cbs = np.zeros((m_sub, k_sub, sub), dtype=np.float64)
        for r in rows:
            cbs[r["m"], r["idx"]] = r["vec"]
        out["codebooks"] = cbs
    return out


def _merge_fingerprints(a: str | None, b: str) -> str | None:
    """Combine two ``corpus_fingerprint`` values over DISJOINT row
    sets: the fingerprint is ``count:sum(xxhash64(id, vec))`` with an
    exact decimal sum, so the union's fingerprint is the component-wise
    integer sum — an O(batch) incremental update that keeps the stored
    index's identity equal to ``corpus_fingerprint(full corpus)``
    without ever rescanning the historical corpus."""
    if a is None:
        return None
    n_a, s_a = a.split(":")
    n_b, s_b = b.split(":")
    return f"{int(n_a) + int(n_b)}:{int(s_a) + int(s_b)}"


def append_index(
    spark,
    path: str,
    new_rows: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally append a batch of vectors to a stored IVF serving
    index (``save_index`` with ``assigned=``): assign the NEW rows to
    cells under the index's existing centroids and append them into the
    cell-partitioned corpus layout.  The quantizer is FROZEN at first
    build (the FAISS add-after-train convention) — appending never
    retrains or re-assigns the historical corpus, so ingest cost is
    O(|batch| * n_centroids * d), and a serve over the appended layout
    is bit-identical to a one-shot build of the full corpus under the
    same centroids (cell assignment is a pure per-row function of the
    centroids; pinned by tests/test_incremental_index.py and the
    q_ivf_served_incremental gate).

    The meta fingerprint is updated to the MERGED corpus identity
    (``_merge_fingerprints`` — the count:sum form is additive over
    disjoint batches), so a later ``served_ivf_topk(full_corpus, ...)``
    recognizes the appended index as fresh and serves warm instead of
    rebuilding.  Callers appending rows whose ids already exist must
    dedup first (``incremental_neardup`` is the gate-shaped tool) —
    like FAISS ``add``, this operator does not upsert.

    Mirrors the reference's monthly incremental staging
    (conte-etl-step-2-manager.py:61-149: new files land next to the
    processed set, never re-deriving it) for the ANN serving layout."""
    state = load_index(spark, path)
    if state["centroids"] is None or not state["centroids"].size:
        raise ValueError(
            f"index at {path} has no centroids to assign against; "
            "build it with save_index(centroids=..., assigned=...) first"
        )
    if not state.get("assigned_path"):
        raise ValueError(
            f"index at {path} has no stored corpus layout (assigned=1) "
            "to append to"
        )
    assigned = assign_cells(
        new_rows, state["centroids"], id_col=id_col, vec_col=vec_col
    )
    _write_cell_layout(assigned, state["assigned_path"], mode="append")
    batch_fp = corpus_fingerprint(new_rows, id_col, vec_col)
    merged = _merge_fingerprints(state["fingerprint"], batch_fp)
    # rewrite meta with the merged identity, preserving every other key
    # (rows reused from load_index above — no second read job)
    meta = [
        (k, v) for k, v in state["meta"].items() if k != "fingerprint"
    ]
    if merged is not None:
        meta.append(("fingerprint", merged))
    _write_small_table(
        spark, meta, "key string, value string", f"{path}/meta"
    )


def served_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    index_path: str,
    n_centroids: int | str = "auto",
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 10,
    seed: int = 42,
) -> DataFrame:
    """IVF search through a PERSISTED quantizer: load the centroids
    from ``index_path`` if present and fingerprint-fresh for this
    corpus; otherwise train (budgeted, driver-side), save, and reload
    through the parquet round trip so the serving path is exercised
    even on a cold start.  Search results are identical to
    ``ivf_topk`` over freshly trained centroids — persistence changes
    WHEN training costs are paid, never the answer.

    ``n_centroids`` defaults to ``"auto"`` (r12): the quantizer is
    sized clamp(round(sqrt n), 8, 65536) by ``resolve_n_centroids``
    from one count of the corpus, so probe cost stays O(sqrt n) per
    query — the r11 one-decade bench measured the fixed-8 serving path
    at 10.5x wall-clock for 10x rows (every probe scanned n/8
    vectors).

    The index also stores the CELL-LABELED corpus (``assign_cells``,
    partitioned by cell): a warm serve runs
    ``ivf_topk_preassigned`` over the stored layout, skipping the
    O(n * n_centroids * d) per-search assignment — with the sqrt(n)
    quantizer that matmul is the family's n^1.5 term (13-15x per
    decade in the r12 sf10 bench when re-paid each search).  A legacy
    index without the stored corpus still serves through ``ivf_topk``.
    """
    spark = corpus.sparkSession
    fp = corpus_fingerprint(corpus, id_col, vec_col)
    state = None
    try:
        state = load_index(spark, index_path)
        if state["fingerprint"] != fp or state["centroids"] is None:
            state = None  # stale or incomplete: retrain
    except Exception:  # noqa: BLE001 — missing/corrupt index: retrain
        state = None
    if state is None:
        cents = train_ivf_centroids(
            corpus,
            n_centroids=n_centroids,
            id_col=id_col,
            vec_col=vec_col,
            iters=iters,
            seed=seed,
        )
        save_index(
            spark,
            index_path,
            centroids=cents,
            fingerprint=fp,
            assigned=assign_cells(
                corpus, cents, id_col=id_col, vec_col=vec_col
            ),
        )
        state = load_index(spark, index_path)
    cents_arr = np.asarray(
        state["centroids"] if state["centroids"] is not None else []
    )
    # empty corpus -> empty quantizer: the assigned-corpus parquet has
    # zero part files (nothing to partition), so the stored layout is
    # unreadable by construction — fall through to ivf_topk, which
    # returns the canonical empty result for an empty quantizer
    if state.get("assigned_path") and cents_arr.size:
        # degrade, don't raise: an index whose meta says assigned=1 but
        # whose corpus/ dir is missing or unlistable (partial copy,
        # hand-pruned dir) serves through the corpus-side path instead
        # of failing the search
        try:
            # explicit schema: assign_cells writes exactly this shape,
            # so the read skips footer-based inference over the
            # many-small-files cell layout.  The read is lazy, so only a
            # missing or unlistable dir fails inside this try; a column
            # name/type drift in the stored files raises when the query
            # runs, outside it.
            assigned = spark.read.schema(
                f"{id_col} long, {vec_col} array<double>, cell int"
            ).parquet(state["assigned_path"])
            return ivf_topk_preassigned(
                assigned,
                queries,
                state["centroids"],
                k=k,
                n_probe=n_probe,
                id_col=id_col,
                vec_col=vec_col,
            )
        except Exception:  # noqa: BLE001 — stale/partial layout
            pass
    return ivf_topk(
        corpus,
        queries,
        state["centroids"],
        k=k,
        n_probe=n_probe,
        id_col=id_col,
        vec_col=vec_col,
    )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.5,
    max_benchmark: int = 200_000,
) -> DataFrame:
    """Embedding-space decontamination: for every corpus vector, its
    best cosine match in the BENCHMARK set and the ≥ threshold verdict
    — the semantic complement to the n-gram ``decontaminate`` /
    ``decontaminate_bloom`` pair (paraphrased eval items share no
    n-grams but land next to the benchmark in embedding space).

    Output per corpus vector: ``(vec_id, best_match_id, best_cosine,
    contaminated)``.  Cosines round(6) BEFORE the argmax; ties break
    to the lowest benchmark id; zero-norm vectors score 0.

    Scale posture: the benchmark is the SMALL side by construction
    (eval suites are thousands of items) — it broadcasts as a dense
    float64 matrix (budgeted driver read, hard-capped at
    ``max_benchmark`` with a loud error) while the corpus streams
    through one BLAS matmul per Arrow batch.  No shuffle at all: the
    verdict is map-side, the usual decontamination shape at 100 TB."""
    capped = benchmark.select(id_col, vec_col).limit(max_benchmark + 1)
    b_ids, b_mat, b_norms = _collect_matrix(capped, id_col, vec_col)
    if b_ids.size > max_benchmark:
        raise ValueError(
            f"benchmark side exceeds max_benchmark={max_benchmark}; "
            "LSH-bucket the corpus against it instead "
            "(lsh_topk / embedding_neardup_lsh)"
        )
    if b_ids.size == 0:
        return corpus.sparkSession.createDataFrame(
            [],
            "vec_id long, best_match_id long, best_cosine double, "
            "contaminated boolean",
        )
    order = np.argsort(b_ids)  # id-ascending: argmax ties -> lowest id
    b_ids, b_mat, b_norms = b_ids[order], b_mat[order], b_norms[order]
    bc = corpus.sparkSession.sparkContext.broadcast(
        (b_ids, b_mat, b_norms)
    )
    thr = float(threshold)

    def score_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_b, mat_b, norms_b = bc.value
        for pdf in it:
            pdf = pdf[pdf[vec_col].notna()]
            if not len(pdf):
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            v_norms = np.sqrt((v * v).sum(axis=1))
            cos = _rounded_cosines(v, v_norms, mat_b, norms_b)
            best_idx = cos.argmax(axis=1)  # first max -> lowest id
            best = cos[np.arange(len(cos)), best_idx]
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy(),
                    "best_match_id": ids_b[best_idx],
                    "best_cosine": best,
                    "contaminated": best >= thr,
                }
            )

    return ensure_min_parallelism(
        corpus.select(id_col, vec_col)
    ).mapInPandas(
        score_batches,
        "vec_id long, best_match_id long, best_cosine double, "
        "contaminated boolean",
    )


def covariance_matrix(
    df: DataFrame,
    vec_col: str = "embedding",
    round_digits: int = 12,
) -> DataFrame:
    """(i, j, cv) — the d x d sample covariance matrix of a vector
    column, as a long-format dimension-sized table (1-based indices).

    Plan shape (the 100 TB path): one (dim, value) explode for the
    means (64-row aggregate), then a MAP-SIDE double explode of the
    centered vectors into (i, j, ci*cj) contributions feeding a
    partially-aggregated groupBy(i, j) — the only shuffle carries
    ~d^2 rows per map partition, never the corpus.  Every float step
    is ROUND(x, 12)-pinned with decimal sums so the unrolled SQL
    oracle (``_pca_sql``) is exact.
    """
    emb = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(vec_col).alias("__e")
    )
    # r14: the pair-contribution stage amplifies every input vector into
    # ~d^2/2 (i, j, ci*cj) rows — CPU work per INPUT byte is ~d/2 times a
    # normal scan, so the fan-out hint divides the default 64 KiB/task by
    # that amplification (d ~ 64 across the catalog embeddings).  Measured
    # at sf0.1/local[32]: the decimal pair aggregate ran on 12 partitions
    # (input-byte sizing) with 32 cores idle-waiting on stragglers.
    emb = ensure_min_parallelism(emb, 2 * 1024).persist()
    x = emb.select(F.posexplode("__e").alias("p", "xv")).select(
        (F.col("p") + 1).alias("dim"), F.col("xv").cast("double").alias("v")
    )
    n1 = emb.agg(F.count("*").cast("double").alias("__n"))
    mu = (
        x.groupBy("dim")
        .agg(
            F.sum(F.round(F.col("v"), 9).cast("decimal(18,9)"))
            .cast("double")
            .alias("__s")
        )
        .crossJoin(F.broadcast(n1))
        .select(
            "dim",
            F.round(F.col("__s") / F.col("__n"), round_digits).alias("mu"),
        )
    )
    # 1-row array of the d means, dim-ascending — broadcast onto the
    # corpus so centering is a pure map-side lambda.
    mu_row = mu.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "mu"))),
            lambda s: s["mu"],
        ).alias("__mu")
    )
    cen = emb.crossJoin(F.broadcast(mu_row)).select(
        F.transform(
            "__e",
            lambda v, i: F.round(
                v.cast("double") - F.element_at("__mu", i + 1),
                round_digits,
            ),
        ).alias("__c")
    )
    # Symmetry halving: emit only the upper triangle j >= i (slice from
    # the i-th element onward), mirror the off-diagonal entries after
    # the aggregate — the decimal sum for (i, j) IS the (j, i) value,
    # so the mirror is exact and the contribution volume halves.
    e1 = cen.select("__c", F.posexplode("__c").alias("i0", "ci"))
    e2 = e1.select(
        "i0",
        "ci",
        F.posexplode(
            F.slice(F.col("__c"), F.col("i0") + 1, F.size("__c"))
        ).alias("joff", "cj"),
    )
    upper = (
        e2.groupBy(
            (F.col("i0") + 1).cast("int").alias("i"),
            (F.col("i0") + 1 + F.col("joff")).cast("int").alias("j"),
        )
        .agg(
            F.sum(
                F.round(F.col("ci") * F.col("cj"), round_digits).cast(
                    "decimal(28,12)"
                )
            )
            .cast("double")
            .alias("__s")
        )
        .crossJoin(F.broadcast(n1))
        .select(
            "i",
            "j",
            F.round(
                F.col("__s") / (F.col("__n") - F.lit(1.0)), round_digits
            ).alias("cv"),
        )
    )
    # Mirror via a single explode (r14): the previous spelling
    # union'd ``upper`` with its own transposed filter — two consumers
    # of the corpus-sized aggregate, which needed a session-lived
    # persist to avoid running it twice (persist-hygiene debt: the
    # block leaked into library callers' sessions).  Emitting the
    # off-diagonal transpose inline makes the aggregate single-consumer
    # — no persist, no second branch, same (i, j, cv) row set (the
    # decimal sum for (i, j) IS the (j, i) value, so the mirror is
    # exact either way).
    ent = F.struct(F.col("i"), F.col("j"), F.col("cv"))
    swp = F.struct(
        F.col("j").alias("i"), F.col("i").alias("j"), F.col("cv")
    )
    return upper.select(
        F.explode(
            F.when(F.col("i") == F.col("j"), F.array(ent)).otherwise(
                F.array(ent, swp)
            )
        ).alias("__e")
    ).select("__e.i", "__e.j", "__e.cv")


def pca_top_component(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    iterations: int = 8,
    round_digits: int = 12,
) -> DataFrame:
    """Top principal component of a vector column by power iteration
    over the long-format covariance matrix — the embedding-space
    decomposition step a curation pipeline runs before whitening,
    drift attribution, or SemDeDup-style clustering (which direction
    carries the corpus's variance, and how much of it).

    Output: one row per dimension —
    ``(dim, loading, eigval, var_share)`` where ``loading`` is the
    unit eigenvector component, ``eigval`` the converged Rayleigh
    estimate (the L2 norm of the last un-normalized iterate) and
    ``var_share = eigval / trace(C)``.

    Scale posture: the covariance build is the only corpus pass (see
    :func:`covariance_matrix`).  The eigen-iterate itself runs on the
    DRIVER over the collected d^2-row matrix — the matrix is 4096
    numbers at d=64 no matter how big the corpus is, which is exactly
    how Spark MLlib's RowMatrix PCA works (distributed Gramian,
    driver-side eigensolve); keeping it in-plan cost ~0.4s of pure
    scheduler overhead per round.  Driver arithmetic is engine-exact:
    products/divisions are IEEE doubles in both, every ROUND(x, 12)
    pin is reproduced with ``Decimal(repr(x)).quantize(HALF_UP)``
    (== Spark/DuckDB HALF_UP rounding of the shortest-repr double),
    and sums run over exact Decimals (== the DECIMAL(28,12) sums in
    the unrolled DuckDB oracle).  The FINAL round plus the output
    projection stay in the returned plan, so the emitted values are
    engine-computed.
    """
    # One partition: the matrix is d^2 rows; the final-round aggregate
    # reads it whole, and 64 near-empty cache partitions cost more
    # scheduler overhead than the data.  localCheckpoint (not persist):
    # the collect() below materializes it anyway, the truncated lineage
    # prints FLAT (Scan ExistingRDD) so the downstream scalar-cross
    # BNLJs are structurally provable as bounded, and no window ever
    # sits above this table (the persist-keeps-lineage concern does
    # not apply).
    cov = (
        covariance_matrix(df, vec_col, round_digits)
        .repartition(1)
        .localCheckpoint()
    )
    q12 = _Decimal(1).scaleb(-round_digits)

    def _r12(x: float) -> _Decimal:
        return _Decimal(repr(x)).quantize(q12, rounding=_ROUND_HALF_UP)

    v0 = float(_r12(1.0 / math.sqrt(float(dim))))
    cmat = {(r["i"], r["j"]): r["cv"] for r in cov.collect()}
    v_lits = [v0] * dim
    for _ in range(iterations - 1):
        u = [
            float(
                sum(
                    (
                        _r12(cmat[(i, j)] * v_lits[j - 1])
                        for j in range(1, dim + 1)
                        if (i, j) in cmat
                    ),
                    _Decimal(0),
                )
            )
            for i in range(1, dim + 1)
        ]
        nm = math.sqrt(
            float(sum((_r12(x * x) for x in u), _Decimal(0)))
        )
        v_lits = [float(_r12(x / nm)) for x in u]

    v_arr = F.array(*[F.lit(x) for x in v_lits])
    u_fin = cov.groupBy(F.col("i").alias("dim")).agg(
        F.sum(
            F.round(
                F.col("cv") * F.element_at(v_arr, F.col("j")),
                round_digits,
            ).cast("decimal(28,12)")
        )
        .cast("double")
        .alias("u")
    )
    norm_row = u_fin.agg(
        F.sqrt(
            F.sum(
                F.round(F.col("u") * F.col("u"), round_digits).cast(
                    "decimal(28,12)"
                )
            ).cast("double")
        ).alias("__nm")
    )
    trace = cov.filter(F.col("i") == F.col("j")).agg(
        F.sum(F.round(F.col("cv"), round_digits).cast("decimal(28,12)"))
        .cast("double")
        .alias("__tr")
    )
    return (
        u_fin.crossJoin(F.broadcast(norm_row))
        .crossJoin(F.broadcast(trace))
        .select(
            F.col("dim").cast("int").alias("dim"),
            F.round(
                F.round(F.col("u") / F.col("__nm"), round_digits), 6
            ).alias("loading"),
            F.round(F.col("__nm"), 6).alias("eigval"),
            F.round(F.col("__nm") / F.col("__tr"), 6).alias("var_share"),
        )
    )


def random_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    in_dim: int = 64,
    out_dim: int = 16,
    seed: str = "rp",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: map ``in_dim``-d vectors
    to ``out_dim``-d with a seeded Rademacher (+1/-1) matrix, scaled by
    1/sqrt(out_dim) — the cheap distance-preserving reducer that fronts
    ANN indexing or clustering when the raw embedding width is the cost
    driver.

    Output: long format ``(id, k, y)`` (k 1-based), ROUND(y, 6).

    Determinism/scale: the sign matrix is a pure function of
    ``(seed, k, j)`` (md5 parity — any worker or engine regenerates
    it), entering the plan as a broadcast (k, j, s) table: the
    projection is one codegen'd broadcast join + a partially
    aggregated groupBy(id, k) whose per-term ROUND(s*x, 12) decimal
    sum is order-independent, so the shuffle carries only
    ``out_dim`` rows per vector and the DuckDB oracle is exact.
    (A literal 1024-term expression chain was tried first: Spark
    drops whole-stage codegen above the expression-count limit and
    interprets it — measured ~6x slower than this join.)  Rows whose
    vector is NULL or shorter than ``in_dim`` are dropped."""
    signs = rademacher_signs(seed, out_dim, in_dim)
    scale = math.sqrt(float(out_dim))
    spark = df.sparkSession
    sgn = spark.createDataFrame(
        # single-slice parallelize: a plain createDataFrame(list) fans
        # the literal table into |defaultParallelism| pickled Python
        # partitions, each costing a worker round-trip when the
        # broadcast side is built (r13; guide §4)
        spark.sparkContext.parallelize(
            [
                (k, j, float(signs[k - 1][j - 1]))
                for k in range(1, out_dim + 1)
                for j in range(1, in_dim + 1)
            ],
            1,
        ),
        "k int, j int, s double",
    )
    vecs = df.filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) >= in_dim)
    ).select(F.col(id_col).alias("id"), F.col(vec_col).alias("__e"))
    x = ensure_min_parallelism(vecs, 64 * 1024).select(
        "id", F.posexplode("__e").alias("j0", "xv")
    ).select("id", (F.col("j0") + 1).alias("j"), F.col("xv").cast("double").alias("xv"))
    return (
        x.join(F.broadcast(sgn), "j")
        .groupBy("id", "k")
        .agg(
            F.round(
                F.sum(
                    F.round(F.col("s") * F.col("xv"), 12).cast(
                        "decimal(28,12)"
                    )
                ).cast("double")
                / F.lit(scale),
                6,
            ).alias("y")
        )
        .select("id", F.col("k").cast("int").alias("k"), "y")
    )


def rademacher_signs(
    seed: str, out_dim: int, in_dim: int
) -> list[list[int]]:
    """out_dim x in_dim +1/-1 matrix from md5 parity of
    ``'{seed}:{k}:{j}'`` — regenerable by any engine (DuckDB twin:
    ``CAST('0x' || substr(md5(...), 1, 15) AS BIGINT) % 2``)."""
    import hashlib

    return [
        [
            (
                1
                if int(
                    hashlib.md5(
                        f"{seed}:{k}:{j}".encode()
                    ).hexdigest()[:15],
                    16,
                )
                % 2
                == 0
                else -1
            )
            for j in range(1, in_dim + 1)
        ]
        for k in range(1, out_dim + 1)
    ]


def margin_mining(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 4,
    threshold: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based candidate-pair mining — the ratio-margin criterion
    bitext/contrastive-pair miners use (Artetxe & Schwenk, "Margin-based
    Parallel Corpus Mining", public literature): a candidate neighbor y
    for query x scores

        margin(x, y) = cos(x, y) / ((fwd_k(x) + bwd_k(y)) / 2)

    where fwd_k(x) is the mean cosine of x's k nearest corpus rows and
    bwd_k(y) the mean cosine of y's k nearest queries.  Dividing by the
    local similarity scale suppresses hubness: a raw-cosine top-1 that
    is barely above x's OTHER neighbors is rejected, while a moderate
    cosine that towers over both sides' neighborhoods is kept.  Output:
    ``(query_id, neighbor_id, cosine, margin)`` — the top-margin
    candidate per query with ``margin >= threshold`` (margin rounded to
    6 before ranking/threshold; ties break by neighbor id).

    Plan shape: ONE corpus scan (queries broadcast, the serving shape):
    each Arrow batch scores against the query matrix and emits BOTH the
    per-query forward candidates (locally top-k pre-reduced, the
    brute_force_topk discipline) and each corpus row's exact backward
    top-k statistics (the full query matrix is present per batch, so
    bwd is exact map-side — no second shuffle).  Cross-engine exactness:
    rounded cosines become integer micro-units (x1e6), neighborhood
    sums are integer, and the margin is a single double division of two
    int64 expressions — no float accumulation anywhere."""
    qid_ids, q_mat, q_norms = _collect_matrix(queries, id_col, vec_col)
    spark = corpus.sparkSession
    if qid_ids.size == 0:
        return spark.createDataFrame(
            [],
            "query_id long, neighbor_id long, cosine double, margin double",
        )
    bc = spark.sparkContext.broadcast((qid_ids, q_mat, q_norms))
    kk = int(k)

    def score_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_qids, b_qmat, b_qnorms = bc.value
        nq = b_qids.size
        for pdf in it:
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            if c_ids.size == 0:
                continue
            v = np.array(list(pdf[vec_col]), dtype=np.float64)
            v_norms = np.sqrt((v * v).sum(axis=1))
            cos = _rounded_cosines(v, v_norms, b_qmat, b_qnorms)
            cosm = np.rint(cos * 1e6).astype(np.int64)
            keep = c_ids[:, None] != b_qids[None, :]
            # backward stats: per corpus row, exact top-min(k, nq)
            # over the (complete) query set
            bkeep = np.where(keep, cosm, np.iinfo(np.int64).min)
            take = min(kk, nq)
            top = np.sort(bkeep, axis=1)[:, -take:]
            valid = top > np.iinfo(np.int64).min
            bs = np.where(valid, top, 0).sum(axis=1)
            bcnt = valid.sum(axis=1)
            # the backward-stat rows ride the same stream as the
            # forward candidates; an explicit marker column (not an id
            # sentinel) routes them so NO query id value is reserved
            frames = [
                pd.DataFrame(
                    {
                        "query_id": np.full(c_ids.size, -1, dtype=np.int64),
                        "neighbor_id": c_ids,
                        "cosine": np.zeros(c_ids.size),
                        "bs": bs,
                        "bc": bcnt.astype(np.int64),
                        "is_bwd": np.ones(c_ids.size, dtype=bool),
                    }
                )
            ]
            ci, qi = np.nonzero(keep)
            cand = _local_topk(
                pd.DataFrame(
                    {
                        "query_id": b_qids[qi],
                        "neighbor_id": c_ids[ci],
                        "cosine": cos[ci, qi],
                    }
                ),
                kk,
            )
            cand["bs"] = np.int64(0)
            cand["bc"] = np.int64(0)
            cand["is_bwd"] = False
            frames.append(cand)
            yield pd.concat(frames, ignore_index=True)

    out = ensure_min_parallelism(
        corpus.select(id_col, vec_col).filter(F.col(vec_col).isNotNull())
    ).mapInPandas(
        score_batches,
        schema=(
            "query_id long, neighbor_id long, cosine double, "
            "bs long, bc long, is_bwd boolean"
        ),
    )
    bwd = out.filter(F.col("is_bwd")).select(
        "neighbor_id", "bs", "bc"
    )
    cand = out.filter(~F.col("is_bwd")).select(
        "query_id",
        "neighbor_id",
        "cosine",
        F.round(F.col("cosine") * 1e6, 0).cast("long").alias("cosm"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    fwd = cand.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= kk
    )
    fstat = fwd.groupBy("query_id").agg(
        F.sum("cosm").alias("fs"), F.count("*").alias("fc")
    )
    denom = F.col("fs") * F.col("bc") + F.col("bs") * F.col("fc")
    margin = F.round(
        (F.lit(2) * F.col("cosm") * F.col("fc") * F.col("bc"))
        .cast("double")
        / denom.cast("double"),
        6,
    )
    scored = (
        fwd.join(fstat, "query_id")
        .join(bwd, "neighbor_id")
        .filter(denom > 0)
        .select("query_id", "neighbor_id", "cosine", margin.alias("margin"))
    )
    mw = Window.partitionBy("query_id").orderBy(
        F.col("margin").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("mr", F.row_number().over(mw))
        .filter(
            (F.col("mr") == 1)
            & (F.col("margin") >= F.lit(float(threshold)))
        )
        .select("query_id", "neighbor_id", "cosine", "margin")
    )


def _centroid_table(
    emb: DataFrame, label_col: str, vec_col: str
) -> DataFrame:
    """Long (label, dim, n_vecs, mean_val) centroid table with the
    label_centroids discipline (R9-pinned decimal sums, ROUND(6)
    means) — the shared input of the clustering-evaluation indices."""
    x = emb.filter(
        F.col(vec_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(label_col).alias("__g"),
        F.posexplode(F.col(vec_col)).alias("__dim", "__val"),
    )
    return (
        x.groupBy("__g", "__dim")
        .agg(
            F.count("*").alias("__ng"),
            F.sum(
                F.round(F.col("__val").cast("double"), 9).cast(
                    "decimal(18,9)"
                )
            ).alias("__s"),
        )
        .select(
            "__g",
            "__dim",
            "__ng",
            F.round(
                F.col("__s").cast("double") / F.col("__ng"), 6
            ).alias("__c"),
        )
    )


def _centroid_vectors(cent: DataFrame) -> DataFrame:
    """(label, centroid-array) view of the long ``_centroid_table``:
    the k·d narrow rows re-assembled into one ``array<double>`` per
    label (dim-sorted), so member-to-centroid distances can run as a
    per-row array expression instead of a (vector, dim) explode joined
    against the k·d table — the r13 optimization that removes the
    n·d(·k) intermediate from the clustering indices (guide §2.3:
    aggregate before you shuffle / don't explode what an array
    expression can walk in place)."""
    return cent.groupBy("__g").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__dim", "__c"))),
            lambda s: s["__c"],
        ).alias("__cvec")
    )


def _sq_dist_dec(vec_col, cvec_col):
    """Σ_dim ROUND((ROUND(v, 9) − c)², 12) as an EXACT decimal — the
    identical term set the exploded dim-join form aggregates, summed
    in place over the zipped arrays.  Exactness: each term is a
    decimal(20,12) (the ROUND(…,12) value is exact at scale 12 and
    |term| < 1e8 by construction); the running sum stays ≤
    decimal(33,12) (never hits Spark's precision-38 scale-reduction),
    and decimal addition is associative, so the result equals the
    decimal(38,12) SUM of the same terms bit for bit."""
    return F.aggregate(
        F.zip_with(
            vec_col,
            cvec_col,
            lambda v, c: F.round(
                (F.round(v.cast("double"), 9) - c)
                * (F.round(v.cast("double"), 9) - c),
                12,
            ).cast("decimal(20,12)"),
        ),
        F.lit(0).cast("decimal(32,12)"),
        lambda acc, t: (acc + t).cast("decimal(32,12)"),
    )


def calinski_harabasz(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Calinski-Harabasz index (variance-ratio criterion) of a
    labeling/clustering of an embedding corpus:
    CH = (B/(k-1)) / (W/(N-k)) with B the between-centroid and W the
    within-cluster dispersion — the clustering-quality score that
    needs NO pairwise distances, which is what makes it the first
    index to run at 100 TB ([[q_kmeans_step]] tells you the step
    moved; this tells you whether the clustering is any good).
    Output — ONE row: ``(n, k, b_disp, w_disp, ch_stat)`` (ROUND 6).

    Scale posture: centroids are one (label, dim) narrow-row collapse;
    the global centroid re-aggregates the k·d centroid rows; W joins
    each (vector, dim) value against the BROADCAST k·d centroid table
    by (label, dim) equi-join — all terms ROUND(12)-pinned decimal
    sums, nothing pairwise, nothing collected."""
    cent = _centroid_table(emb, label_col, vec_col).localCheckpoint(
        eager=False
    )
    # global per-dim centroid from the k-row-per-dim table
    glob = cent.groupBy("__dim").agg(
        (
            F.sum(
                F.round(
                    F.col("__ng").cast("double") * F.col("__c"), 6
                ).cast("decimal(38,6)")
            ).cast("double")
            / F.sum("__ng")
        ).alias("__gc")
    )
    b_tab = cent.join(F.broadcast(glob), "__dim").select(
        F.round(
            F.col("__ng").cast("double")
            * (F.col("__c") - F.col("__gc"))
            * (F.col("__c") - F.col("__gc")),
            12,
        ).cast("decimal(38,12)").alias("__bt")
    )
    b_agg = b_tab.agg(F.sum("__bt").alias("__b"))
    # W: per-row array expression against the broadcast per-label
    # centroid vector — the same ROUND(12) decimal terms the exploded
    # (vector, dim) ⋈ (label, dim) join summed, but with no n·d
    # intermediate and no join (r13; decimal addition is exact and
    # associative, so the total is bit-identical)
    # r14: the W projection folds one interpreted decimal aggregate of
    # d terms per row — fan by the ~d/8 work amplification (see
    # simplified_silhouette), not by input bytes.
    x = ensure_min_parallelism(
        emb.filter(
            F.col(vec_col).isNotNull() & F.col(label_col).isNotNull()
        ).select(
            F.col(label_col).alias("__g"), F.col(vec_col).alias("__v")
        ),
        8 * 1024,
    )
    w_tab = x.join(
        F.broadcast(_centroid_vectors(cent)), "__g"
    ).select(_sq_dist_dec(F.col("__v"), F.col("__cvec")).alias("__wt"))
    w_agg = w_tab.agg(F.sum("__wt").alias("__w"))
    sizes = emb.filter(
        F.col(vec_col).isNotNull() & F.col(label_col).isNotNull()
    ).agg(
        F.count("*").alias("n"),
        F.countDistinct(label_col).alias("k"),
    )
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    bd = F.col("__b").cast("double")
    wd = F.col("__w").cast("double")
    ch = (bd / (kd - F.lit(1.0))) / (wd / (nd - kd))
    return (
        sizes.join(F.broadcast(b_agg), F.lit(True))
        .join(F.broadcast(w_agg), F.lit(True))
        .select(
            F.col("n").cast("long").alias("n"),
            F.col("k").cast("long").alias("k"),
            F.round(bd, 6).alias("b_disp"),
            F.round(wd, 6).alias("w_disp"),
            F.when(
                (F.col("k") >= 2) & (F.col("n") > F.col("k")) & (wd > 0),
                F.round(ch, 6),
            ).alias("ch_stat"),
        )
    )


def davies_bouldin(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Davies-Bouldin index: DB = (1/k) Σ_g max_{h≠g} (s_g+s_h)/d_gh
    with s_g the mean member-to-centroid Euclidean distance and d_gh
    the centroid separation — LOWER is better (compact clusters, far
    apart).  The worst-neighbor structure makes it the diagnosis
    companion to [[q_calinski_harabasz]] (which cluster pair is
    confusable, not just a global score).  Output — ONE row:
    ``(k, db_index)`` (ROUND 6).

    Scale posture: member distances come from ONE (vector, dim) pass
    joined to the broadcast centroid table by (label, dim); centroid
    separations are a k²·d self-join of the k·d centroid table
    (dimension-sized); the max/mean collapse is k² → k → 1 rows."""
    cent = _centroid_table(emb, label_col, vec_col).localCheckpoint(
        eager=False
    )
    # member → own-centroid distance as a per-row array expression
    # against the broadcast per-label centroid vector (r13): the same
    # ROUND(12) decimal terms the exploded dim-join summed per
    # (__g, __rid) group, with no n·d intermediate (bit-identical —
    # decimal addition is exact and associative)
    # r14: fan by the ~d/8 decimal-fold amplification (see
    # simplified_silhouette), not by input bytes.
    d2 = (
        ensure_min_parallelism(
            emb.filter(
                F.col(vec_col).isNotNull() & F.col(label_col).isNotNull()
            ).select(
                F.col(label_col).alias("__g"), F.col(vec_col).alias("__v")
            ),
            8 * 1024,
        )
        .join(F.broadcast(_centroid_vectors(cent)), "__g")
        .select(
            "__g", _sq_dist_dec(F.col("__v"), F.col("__cvec")).alias("__d2")
        )
    )
    s = d2.groupBy("__g").agg(
        (
            F.sum(
                F.round(
                    F.sqrt(F.col("__d2").cast("double")), 9
                ).cast("decimal(38,9)")
            ).cast("double")
            / F.count("*")
        ).alias("__s")
    )
    # centroid separations from the k-row array view (k² zip_with
    # sums instead of the k²·d dim self-join; same ROUND(12) decimal
    # terms, exact sum — r13)
    cv = _centroid_vectors(cent)
    ca = cv.select(
        F.col("__g").alias("__ga"), F.col("__cvec").alias("__va")
    )
    cb = cv.select(
        F.col("__g").alias("__gb"), F.col("__cvec").alias("__vb")
    )
    sep = ca.join(
        F.broadcast(cb), F.col("__ga") != F.col("__gb")
    ).select(
        "__ga",
        "__gb",
        F.aggregate(
            F.zip_with(
                F.col("__va"),
                F.col("__vb"),
                lambda a, b: F.round((a - b) * (a - b), 12).cast(
                    "decimal(20,12)"
                ),
            ),
            F.lit(0).cast("decimal(32,12)"),
            lambda acc, t: (acc + t).cast("decimal(32,12)"),
        ).alias("__dd"),
    )
    sa = s.select(F.col("__g").alias("__ga"), F.col("__s").alias("__sa"))
    sb = s.select(F.col("__g").alias("__gb"), F.col("__s").alias("__sb"))
    ratios = (
        sep.join(F.broadcast(sa), "__ga")
        .join(F.broadcast(sb), "__gb")
        .select(
            "__ga",
            F.round(
                (F.col("__sa") + F.col("__sb"))
                / F.sqrt(F.col("__dd").cast("double")),
                9,
            ).alias("__r"),
        )
    )
    worst = ratios.groupBy("__ga").agg(F.max("__r").alias("__w"))
    return worst.agg(
        F.count("*").cast("long").alias("k"),
        F.round(
            F.sum(F.col("__w").cast("decimal(38,9)")).cast("double")
            / F.count("*"),
            6,
        ).alias("db_index"),
    )


def simplified_silhouette(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Simplified (centroid-based) silhouette per label: for each
    vector, a = distance to its OWN centroid, b = distance to the
    NEAREST OTHER centroid, s = (b-a)/max(a,b); emit the per-label
    mean — the member-level "is this point in the right cluster"
    score, at centroid cost instead of the classic silhouette's O(n²)
    pairwise cost (the standard scale substitution, e.g. in Spark
    MLlib's ClusteringEvaluator).  Output — one row per label:
    ``(label, n_vecs, mean_silhouette)`` (ROUND 6).

    Scale posture: each (vector, dim) value joins the BROADCAST k·d
    centroid table on dim (k-way fan-out — the k-class scoring shape,
    same as naive_bayes); per-(vector, centroid) distances collapse
    from n·k rows to n (min over others) to k (label means).  Nothing
    pairwise in the corpus."""
    cent = _centroid_table(emb, label_col, vec_col).localCheckpoint(
        eager=False
    )
    # all k centroids broadcast as ONE map row; each vector computes
    # its k distances as an array expression (r13) — the same
    # ROUND(12) decimal term sums the exploded (vector, dim) ⋈ cfan
    # join aggregated over n·d·k rows, now with no join, no explode
    # and no (g, rid, cg) shuffle (bit-identical: decimal addition is
    # exact; MIN over a decimal array equals MIN over the group)
    cmap = _centroid_vectors(cent).agg(
        F.map_from_entries(
            F.collect_list(F.struct("__g", "__cvec"))
        ).alias("__cm")
    )
    # r14: the per-vector distance projection evaluates k interpreted
    # decimal fold expressions (~k·d decimal ops per row) — CPU per
    # input byte is ~k·d/8 times a plain scan, so fan by amplified
    # work, not input bytes (2 KiB/task ≈ 64 KiB of evaluated terms;
    # measured: the silhouette stage ran on 12 input-sized partitions
    # with 20 of 32 cores idle).
    x = ensure_min_parallelism(
        emb.filter(
            F.col(vec_col).isNotNull() & F.col(label_col).isNotNull()
        ).select(
            F.col(label_col).alias("__g"),
            F.col(id_col).alias("__rid"),
            F.col(vec_col).alias("__v"),
        ),
        2 * 1024,
    )
    per_vec = x.join(F.broadcast(cmap), F.lit(True)).select(
        "__g",
        "__rid",
        _sq_dist_dec(
            F.col("__v"), F.element_at(F.col("__cm"), F.col("__g"))
        ).alias("__a2"),
        F.array_min(
            F.transform(
                F.filter(
                    F.map_entries(F.col("__cm")),
                    lambda e: e["key"] != F.col("__g"),
                ),
                lambda e: _sq_dist_dec(F.col("__v"), e["value"]),
            )
        ).alias("__b2"),
    )
    a = F.sqrt(F.col("__a2").cast("double"))
    b = F.sqrt(F.col("__b2").cast("double"))
    sil = F.when(
        F.greatest(a, b) > 0, F.round((b - a) / F.greatest(a, b), 9)
    ).otherwise(F.lit(0.0))
    return (
        per_vec.select("__g", sil.alias("__sil"))
        .groupBy("__g")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.round(
                F.sum(F.col("__sil").cast("decimal(38,9)")).cast("double")
                / F.count("*"),
                6,
            ).alias("mean_silhouette"),
        )
        .select(
            F.col("__g").cast("long").alias("label"),
            "n_vecs",
            "mean_silhouette",
        )
    )
