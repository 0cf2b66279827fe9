"""Data-quality validation utilities.

Spark port of the reference's statistical validation script
(utils/analyze-timestamps.py:13-89) plus the dropped-row accounting the
transforms log inline (transform_conte_ts_data.py:233-241):

  * P7  1% seeded job sample                (analyze-timestamps.py:23)
  * J4  semi-join ts rows to sampled jobs   (analyze-timestamps.py:53)
  * J5  per-job count of ts rows OUTSIDE [start, end]
                                            (analyze-timestamps.py:73-85)
  * A6  dropped-% metrics — via ``observe()`` so counters ride the same
        job instead of extra count() passes (SURVEY §2.2 P2)

The reference runs these as a standalone pandas script over full files;
here they are composable DataFrame functions usable on any scale tier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F


def sample_jobs(
    jobs: DataFrame,
    id_col: str = "jobID",
    fraction: float = 0.01,
    seed: int = 42,
    method: str = "hash",
) -> DataFrame:
    """P7: seeded sample of distinct job ids (analyze-timestamps.py:23 —
    frac=0.01, random_state=42).

    ``method='hash'`` (default) samples by key hash: ``md5(seed || id)``
    below the fraction cutoff.  Unlike ``df.sample`` (per-partition
    Bernoulli, so membership shifts whenever partitioning or
    intra-partition order shifts), the hash sample is a pure function of
    the id — stable across runs, cluster sizes, and AQE re-plans, which
    is what a validation sample needs.  ``method='bernoulli'`` keeps the
    reference-style draw."""
    distinct = jobs.select(id_col).distinct()
    if method == "bernoulli":
        return distinct.sample(fraction, seed=seed)
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(str(seed)), F.col(id_col))), 1, 8),
        16,
        10,
    ).cast("long")
    return distinct.filter(bucket < int(fraction * 0xFFFFFFFF))


def ts_rows_for_jobs(
    ts: DataFrame,
    job_ids: DataFrame,
    ts_key: str = "Job Id",
    job_key: str = "jobID",
) -> DataFrame:
    """J4: left-semi join — ts rows whose job id is in the sampled set
    (analyze-timestamps.py:53).  The sample is tiny → broadcast, so the
    ts side never shuffles."""
    return ts.join(
        F.broadcast(job_ids),
        ts[ts_key] == job_ids[job_key],
        "left_semi",
    )


def interval_violations(
    ts: DataFrame,
    jobs: DataFrame,
    ts_key: str = "Job Id",
    job_key: str = "jobID",
    ts_col: str = "Timestamp",
    start_col: str = "start",
    end_col: str = "end",
) -> DataFrame:
    """J5: per job, total ts rows and how many fall OUTSIDE the job's
    [start, end] — the data-quality probe on exactly the predicate the
    interval join enforces (analyze-timestamps.py:73-85).

    Returns (job id, n_ts, n_outside, pct_outside)."""
    j = jobs.select(
        F.col(job_key),
        F.col(start_col).alias("__start"),
        F.col(end_col).alias("__end"),
    )
    joined = ts.join(F.broadcast(j), ts[ts_key] == j[job_key], "inner")
    outside = (F.col(ts_col) < F.col("__start")) | (
        F.col(ts_col) > F.col("__end")
    )
    return (
        joined.groupBy(job_key)
        .agg(
            F.count("*").alias("n_ts"),
            F.sum(outside.cast("long")).alias("n_outside"),
        )
        .withColumn(
            "pct_outside",
            F.round(F.col("n_outside") * 100.0 / F.col("n_ts"), 4),
        )
    )


def cardinality_report(
    df: DataFrame, cols: list[str] | None = None, rsd: float = 0.05
) -> DataFrame:
    """A7: per-column cardinality probe (conte-etl-step-2-processor.py:
    447-448 uses nunique() to pick dictionary encodings).  Uses
    ``approx_count_distinct`` (HyperLogLog++) — one pass, no
    per-column shuffle, the scale-correct answer where the reference's
    exact nunique() needs the whole column in memory.  ``rsd`` is the
    target relative standard deviation."""
    cols = cols or df.columns
    return df.select(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.approx_count_distinct(f"`{c}`", rsd).alias(f"approx_{c}")
            for c in cols
        ],
    )


def drop_required_nulls_observed(
    df: DataFrame, required: list[str]
) -> tuple[DataFrame, Observation]:
    """P2 + A6: drop rows with nulls in required columns, with the
    dropped-% the reference logs (transform_conte_ts_data.py:233-241)
    captured by ``observe()`` — the counters ride the SAME job as the
    real work, where the reference needs separate len() passes.

    Read metrics after an action:
        out, obs = drop_required_nulls_observed(df, cols)
        out.write...; report = obs.get   # {'total': .., 'kept': ..}
    """
    obs = Observation("drop_required_nulls")
    keep = F.forall(
        F.array(*[F.col(f"`{c}`").isNotNull() for c in required]),
        lambda x: x,
    )
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("total"),
        F.sum(keep.cast("long")).alias("kept"),
    )
    return observed.filter(keep), obs


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    seed: int = 42,
    default_fraction: float = 1.0,
) -> DataFrame:
    """Hash-stable stratified sampling: per-stratum keep fractions (the
    data-mixture rebalancing step — e.g. downsample the dominant
    language).  Membership is a pure function of (seed, key): stable
    across runs, partitionings, and cluster sizes, unlike
    ``df.sampleBy``'s per-partition Bernoulli draw.

    Cutoffs are precomputed INTEGER literals: ``int(frac * 0xFFFFFFFF)``
    in Python — never ``CAST(frac * 2^32 AS BIGINT)`` in-engine, because
    Spark truncates double→long while SQL engines round, which would
    shift the boundary by one key in ~2^-32 of strata.  Map-side only:
    the predicate pushes to the scan, no shuffle."""
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(str(seed)), F.col(key_col).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    cutoff = F.lit(int(default_fraction * 0xFFFFFFFF))
    for stratum, frac in sorted(fractions.items()):
        cutoff = F.when(
            F.col(strata_col) == stratum, F.lit(int(frac * 0xFFFFFFFF))
        ).otherwise(cutoff)
    return df.filter(bucket < cutoff)


def cap_per_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
    cap: int,
    seed: int = 42,
    prefilter_safety: float | None = None,
) -> DataFrame:
    """Deterministic per-group frequency cap (repetition control for
    data mixtures — e.g. at most N documents per source/domain): keep
    each group's first ``cap`` rows under the total order
    (md5(seed:key), key).  Hash order makes the kept subset a uniform,
    run- and partitioning-stable sample of the group, and a pure
    function any engine can rebuild.

    Adds ``rk`` (1-based rank within the group) to the output.

    Scale path (``prefilter_safety``): a rank window partitioned by
    group sorts ENTIRE groups — at 100 TB a dominant domain is one
    giant window partition.  Because the sort key is a uniform hash,
    rows ranked <= cap almost surely sit below ``safety * cap/total``
    of the hash range, so: aggregate per-group totals (one small agg —
    group cardinality is dimension-sized), broadcast-join the per-group
    hash cutoff back onto the data, filter map-side, and rank only
    survivors.  The window then sees O(safety * cap) rows per group
    instead of the group.

    EXACTNESS IS VERIFIED, not assumed: any group whose survivor count
    fell below min(cap, total) (probability ~exp(-cap(s-1)^2/2s)) is
    re-ranked without the prefilter and unioned back, so the result is
    identical to the plain path on every input.

    Everything stays on the executors: cutoffs ride a broadcast join
    (not a collected ``when()`` literal chain, whose plan depth is
    O(|groups|) and whose collect is a driver bottleneck at high group
    cardinality), and the under-full "bad group" fix-up is a broadcast
    anti/semi join against a groups-sized frame — empty in the common
    case.  No ``collect()`` anywhere in the path."""
    h = F.substring(
        F.md5(F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string"))),
        1,
        15,
    )
    base = df.withColumn("__h", h)
    w = Window.partitionBy(group_col).orderBy("__h", key_col)

    def ranked(frame: DataFrame) -> DataFrame:
        return (
            frame.withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= cap)
            .drop("__h")
        )

    if prefilter_safety is None:
        return ranked(base)

    # Per-group totals and hash cutoffs as a groups-sized DataFrame.
    # __h is 15 lowercase hex chars, so the hash range is 16^15 = 2^60;
    # the cutoff fraction safety*cap/n is applied in double arithmetic
    # (rounding at ~2^7 of 2^60 is immaterial — exactness comes from the
    # fix-up below, not the cutoff).  Groups small enough that the
    # cutoff would reach the top of the range (n <= safety*cap) get a
    # NULL cutoff = keep everything.
    full_range = float(16**15)
    totals = base.groupBy(group_col).agg(F.count("*").alias("__n"))
    cutoffs = totals.select(
        group_col,
        "__n",
        F.when(
            F.col("__n") <= F.lit(float(prefilter_safety * cap)), F.lit(None)
        )
        .otherwise(
            F.lpad(
                F.lower(
                    F.hex(
                        (
                            F.lit(full_range * prefilter_safety * cap)
                            / F.col("__n")
                        ).cast("long")
                    )
                ),
                15,
                "0",
            )
        )
        .alias("__cut"),
    )
    pre = (
        base.join(F.broadcast(cutoffs), on=group_col, how="inner")
        .filter(F.col("__cut").isNull() | (F.col("__h") < F.col("__cut")))
        .drop("__cut", "__n")
    )
    # Distributed exactness check: groups whose prefilter survivors fell
    # under min(cap, total) must be re-ranked without the prefilter.
    survivors = pre.groupBy(group_col).agg(F.count("*").alias("__s"))
    bad = (
        cutoffs.join(survivors, on=group_col, how="left")
        .filter(
            F.coalesce(F.col("__s"), F.lit(0))
            < F.least(F.lit(cap).cast("long"), F.col("__n"))
        )
        .select(group_col)
    )
    good_part = ranked(pre.join(F.broadcast(bad), on=group_col, how="left_anti"))
    bad_part = ranked(base.join(F.broadcast(bad), on=group_col, how="left_semi"))
    return good_part.unionByName(bad_part)


def temperature_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    alpha: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Temperature-based mixture rebalancing: resample so group g's
    share is proportional to ``n_g ** alpha`` (alpha < 1 flattens the
    mixture toward uniform — the multilingual-sampling rule).  The
    smallest group keeps everything; group g keeps the fraction
    ``(n_min / n_g) ** (1 - alpha)``, membership decided by the same
    hash-stable rule as ``stratified_sample``.

    Cross-engine exactness: for the default ``alpha = 0.5`` the keep
    fraction is ``sqrt(n_min / n_g)`` — sqrt is correctly rounded under
    IEEE 754 in every engine, so an oracle recomputing the fractions
    from the table gets bit-identical cutoffs.  Other alphas go through
    ``pow``, which carries no such guarantee (fractions may differ in
    the last ulp across libms); they are fine for production sampling
    but not for an exact cross-engine gate.

    The group-count aggregation collects one row per group (dimension-
    sized); the sampling itself is a map-side predicate."""
    import math

    counts = {
        r[0]: r[1]
        for r in df.groupBy(group_col).agg(F.count("*").alias("n")).collect()
    }
    if not counts:  # empty input: nothing to rebalance
        return df
    n_min = min(counts.values())
    if alpha == 0.5:
        fracs = {
            g: round(math.sqrt(n_min / n), 6) for g, n in counts.items()
        }
    else:
        fracs = {
            g: round((n_min / n) ** (1.0 - alpha), 6)
            for g, n in counts.items()
        }
    return stratified_sample(
        df, strata_col=group_col, fractions=fracs, key_col=key_col, seed=seed
    )


def mixture_weights(
    df: DataFrame,
    group_col: str,
    weight_on: Column | str | None = None,
    alpha: float = 0.5,
    token_budget: int = 1_000_000,
) -> DataFrame:
    """Mixture-planning table: per group (source, language, domain...),
    the alpha-scaled sampling weight and the epoch count implied by a
    token budget — the planning artifact behind multi-corpus training
    mixes (weight_g proportional to tokens_g ** alpha; alpha < 1
    flattens toward uniform, alpha = 1 is natural frequency).

    Output: (group, n_docs, n_tokens, weight, epochs) where
    weight = tokens_g**alpha / sum(tokens**alpha) and
    epochs = weight * token_budget / tokens_g — epochs > 1 flags groups
    the budget would repeat (the memorization-risk signal).

    ``weight_on`` is the per-row token-count expression (defaults to
    whitespace token count of ``text``).

    Scale shape: ONE map-side-combined groupBy to dimension-sized rows;
    the normalizing sum runs over that tiny aggregate via an unpartitioned
    window (dimension-sized by construction — same posture as
    temperature_sample's group counts).  Nothing collects; the result
    broadcasts into whatever sampler consumes it.

    Cross-engine exactness: n_docs/n_tokens are exact integer sums; for
    the gate's alpha = 0.5 the power is sqrt (correctly rounded under
    IEEE 754), so weights agree with an oracle to float-sum noise.
    """
    from conte_to_fresco_etl_spark.functions.text import token_count

    if weight_on is None:
        tokens_expr = token_count("text")
    elif isinstance(weight_on, str):
        tokens_expr = F.col(weight_on)
    else:
        tokens_expr = weight_on
    per_group = df.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(tokens_expr).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy()
    scaled = F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))
    return (
        per_group.withColumn("__s", scaled)
        .withColumn("weight", F.col("__s") / F.sum("__s").over(w))
        .withColumn(
            "epochs",
            F.col("weight") * F.lit(float(token_budget))
            / F.col("n_tokens").cast("double"),
        )
        .drop("__s")
    )


def assign_splits(
    df: DataFrame,
    key_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    seed: int = 42,
) -> DataFrame:
    """Deterministic train/val/test assignment: each row lands in a
    split by the md5-hash of its key against cumulative weight cutoffs
    — reproducible across runs, partitionings, and engines (the same
    hash-stable rule as ``stratified_sample``), and stable under
    corpus growth: adding documents never moves an existing document's
    split, the property random shuffles lack and leakage audits need.

    Map-side only: one projection, no shuffle, no state."""
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(weights.values())
    bucket = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(f"{seed}:"), F.col(key_col).cast("string")
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("double") / float(16**15)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cond = bucket < acc
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (
        F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    )
    return df.withColumn("split", expr)


def score_proportional_sample(
    df: DataFrame,
    score_col: str,
    key_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Soft quality filtering: keep each row with probability equal to
    its score (0..1) — the smooth alternative to a hard threshold
    (low-quality docs survive occasionally, high-quality ones almost
    always; the shape quality-weighted corpus sampling uses).  The
    draw is the hash-stable unit uniform ``md5(seed:key) / 16^15``, so
    membership is a pure function of (seed, key, score): reproducible
    across runs, partitionings, and engines, and re-running over an
    appended corpus never flips an existing row's fate unless its
    score changed.

    Map-side predicate, no shuffle."""
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string"))
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("double") / float(16**15)
    # score >= 1.0 must ALWAYS survive: the top ~64 of 16^15 hash
    # values round to exactly 1.0 in double precision, where u < score
    # alone would drop a probability-1 row
    return df.filter((u < F.col(score_col)) | (F.col(score_col) >= 1.0))


def weighted_sample_topk(
    df: DataFrame,
    weight_col: str,
    key_col: str = "doc_id",
    k: int = 50,
    seed: int = 42,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES):
    each row draws the hash-stable unit uniform ``u = (h + 1) /
    (16^15 + 1)`` and gets the key ``ln(u) / w`` (the log form of
    ``u^(1/w)``); the k LARGEST keys are the sample.  Inclusion
    probability is proportional to weight in the without-replacement
    sense, and the draw is a pure function of (seed, row key), so the
    sample is reproducible across runs, partitionings, and engines —
    the property distributed reservoir implementations lose when they
    consume partition-order randomness.

    Distributed shape: map-side key computation + TakeOrdered(k) — the
    per-partition top-k pre-reduction means the driver sees only
    k × n_partitions candidates, never the corpus.

    Rows with non-positive weight are excluded (they have probability
    zero; ln(u)/w would flip sign and dominate the ranking)."""
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string"))
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("double")
    u = (h + F.lit(1.0)) / F.lit(float(16**15 + 1))
    es_key = F.round(
        F.log(u) / F.col(weight_col).cast("double"), 12
    )
    return (
        df.filter(F.col(weight_col).cast("double") > 0.0)
        .withColumn("es_key", es_key)
        .orderBy(F.col("es_key").desc(), F.col(key_col).asc())
        .limit(k)
    )


def group_reservoir(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int = 10,
    seed: int = 7,
) -> DataFrame:
    """Uniform k-per-group sample — the deterministic equivalent of
    running a size-k reservoir per group: rank rows inside each group
    by the hash-stable draw ``md5(seed:key)`` and keep the first
    ``k``.  Every subset of size k is equally likely (the hash order
    is a uniform random permutation), but unlike a true reservoir the
    result is independent of partitioning, scan order, and engine —
    re-running over an appended corpus only swaps rows whose hash
    outranks an incumbent, exactly a reservoir's behavior.

    Output: ``(group, key, rk)`` with rk ≤ k.

    Scale posture: one hash projection + one per-group rank window
    (single shuffle on the group key); groups larger than memory are
    fine — the window is a sort, not a buffer, and Spark's
    WindowGroupLimit pushes the rk ≤ k cut below the sort."""
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string"))
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy(group_col).orderBy(
        h.asc(), F.col(key_col).asc()
    )
    return (
        df.select(group_col, key_col)
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


def mixture_diversity(
    df: DataFrame,
    group_col: str,
) -> DataFrame:
    """Corpus concentration scorecard over a mixture dimension (source,
    domain, language): how dominated is the dataset by its largest
    groups?  The single-row dashboard number watched while caps,
    temperature sampling, and mixture weights are tuned.

    Output — ONE row: ``(n_rows, n_groups, gini, entropy,
    effective_groups)``:

      * ``gini``      — concentration of rows over groups (0 = uniform,
        →1 = one group holds everything), from the sorted-counts form
        Σ (2i − m − 1)·x_i / (m·Σx) — exact integer arithmetic until
        one final division.
      * ``entropy``   — Shannon entropy of the group shares (nats),
        ROUND(12)-pinned decimal-summed contributions.
      * ``effective_groups`` — exp(entropy): the "effective number of
        sources" (perplexity of the mixture), computed from the
        ROUND(6) entropy so both engines exponentiate the same double.

    Scale posture: one group-count shuffle collapses the corpus to
    |groups| rows; the rank window and both aggregates run on that
    dimension-sized table."""
    counts = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count("*").alias("x")
    )
    w = Window.orderBy(F.col("x").asc(), F.col("g").asc())
    ranked = counts.withColumn("i", F.row_number().over(w)).withColumn(
        "m", F.count("*").over(Window.partitionBy())
    )
    stats = ranked.agg(
        F.sum("x").alias("n_rows"),
        F.max("m").alias("m"),
        F.sum(
            (F.lit(2) * F.col("i") - F.col("m") - F.lit(1)) * F.col("x")
        ).alias("gini_num"),
    )
    ent = (
        ranked.crossJoin(F.broadcast(stats.select("n_rows")))
        .select(
            F.round(
                -(
                    F.col("x").cast("double")
                    / F.col("n_rows").cast("double")
                )
                * F.log(
                    F.col("x").cast("double")
                    / F.col("n_rows").cast("double")
                ),
                12,
            )
            .cast("decimal(18,12)")
            .alias("h_term")
        )
        .agg(F.sum("h_term").alias("h_sum"))
    )
    out = stats.crossJoin(F.broadcast(ent))
    entropy6 = F.round(F.col("h_sum").cast("double"), 6)
    return out.select(
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("m").cast("long").alias("n_groups"),
        F.round(
            F.col("gini_num").cast("double")
            / (F.col("m").cast("double") * F.col("n_rows").cast("double")),
            6,
        ).alias("gini"),
        entropy6.alias("entropy"),
        F.round(F.exp(entropy6), 6).alias("effective_groups"),
    )


def referential_audit(
    edges: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Referential-integrity audit: one row per foreign-key edge —
    ``(edge, n_rows, n_fk_keys, n_orphan_keys, n_orphan_rows,
    orphan_rate)`` — the dataset-wide FK health table a pipeline checks
    before joining fact to dimension (an orphan rate that jumps after an
    ingest is the classic silent-partial-load signal).

    ``edges`` is ``[(label, child_df, fk_col, parent_df, pk_col), ...]``.

    Scale shape: each child collapses to its DISTINCT fk-key counts
    FIRST (one key-partitioned aggregation over the narrow fk column),
    and only that key table left-joins the parent's key set — at 100 TB
    the join input is |distinct keys|, not |child rows|, and the final
    union is edge-count rows.  NULL fks are excluded (SQL FK semantics:
    NULL never violates).

    Edges whose fk and pk key TYPES match are fused into ONE plan per
    key type (r14): the per-edge spelling planned an independent
    collapse + join + 1-row aggregate PER EDGE — 10 edges drove ~37
    Spark jobs and ~40 Exchanges at sf0.1, almost all fixed scheduling
    cost.  The fused form tags every key row with its edge's index in
    ``edges``, runs one (edge, key) collapse, one left join against the
    unioned parent key set and one groupBy(edge) aggregate, then
    left-joins a literal (index, label) edge list so an edge with zero
    non-NULL fk keys still emits its all-zero row (the empty-aggregate
    semantics of the per-edge form) and each index gets its label back.
    Counts are unchanged: the index rides the join key, so no key ever
    matches across edges, even between two edges that share a label.
    Mixed-type edge lists keep the per-edge path for the odd edges (no
    cross-type key coercion is introduced)."""
    from collections import OrderedDict

    def _edge_stats(marked: DataFrame, group_cols: list[str]) -> DataFrame:
        orphan = F.col("__present").isNull()
        agg = [
            F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_rows"),
            F.count("*").alias("n_fk_keys"),
            F.count(F.when(orphan, 1)).alias("n_orphan_keys"),
            F.coalesce(F.sum(F.when(orphan, F.col("c"))), F.lit(0))
            .cast("long")
            .alias("n_orphan_rows"),
        ]
        grouped = (
            marked.groupBy(*group_cols).agg(*agg)
            if group_cols
            else marked.agg(*agg)
        )
        return grouped.withColumn(
            "orphan_rate",
            F.round(
                F.coalesce(
                    F.try_divide(
                        F.col("n_orphan_rows").cast("double"),
                        F.col("n_rows").cast("double"),
                    ),
                    F.lit(0.0),
                ),
                6,
            ),
        )

    out_cols = [
        "edge", "n_rows", "n_fk_keys", "n_orphan_keys", "n_orphan_rows",
        "orphan_rate",
    ]
    groups: "OrderedDict[str, list]" = OrderedDict()
    odd = []
    for i, edge in enumerate(edges):
        label, child, fk_col, parent, pk_col = edge
        fk_t = dict(child.dtypes).get(fk_col)
        pk_t = dict(parent.dtypes).get(pk_col)
        if fk_t is not None and fk_t == pk_t:
            groups.setdefault(fk_t, []).append((i, edge))
        else:
            odd.append(edge)

    outs = []
    for grp in groups.values():
        spark = grp[0][1][1].sparkSession
        child_keys = None
        parent_keys = None
        # key rows are tagged with the edge's INDEX, not its label: two
        # edges may share a label, and their key sets must stay apart
        for i, (label, child, fk_col, parent, pk_col) in grp:
            ck = child.select(
                F.lit(i).alias("__e"), F.col(fk_col).alias("k")
            ).filter(F.col("k").isNotNull())
            child_keys = ck if child_keys is None else child_keys.unionAll(ck)
            pkk = parent.select(
                F.lit(i).alias("__e"), F.col(pk_col).alias("k")
            ).distinct()
            parent_keys = (
                pkk if parent_keys is None else parent_keys.unionAll(pkk)
            )
        keys = child_keys.groupBy("__e", "k").agg(F.count("*").alias("c"))
        marked = keys.join(
            parent_keys.withColumn("__present", F.lit(1)),
            ["__e", "k"],
            "left",
        )
        stats = _edge_stats(marked, ["__e"])
        # literal (index, label) edge list as a pure expression (inline
        # of a lit struct array — no Python-partition parallelize for a
        # driver list); it projects each index back to its label
        edge_df = spark.range(1).select(
            F.inline(F.array(*[
                F.struct(F.lit(i).alias("__e"), F.lit(label).alias("edge"))
                for i, (label, *_) in grp
            ]))
        )
        filled = edge_df.join(stats, "__e", "left").select(
            "edge",
            F.coalesce("n_rows", F.lit(0).cast("long")).alias("n_rows"),
            F.coalesce("n_fk_keys", F.lit(0).cast("long")).alias(
                "n_fk_keys"
            ),
            F.coalesce("n_orphan_keys", F.lit(0).cast("long")).alias(
                "n_orphan_keys"
            ),
            F.coalesce("n_orphan_rows", F.lit(0).cast("long")).alias(
                "n_orphan_rows"
            ),
            F.coalesce("orphan_rate", F.lit(0.0)).alias("orphan_rate"),
        )
        outs.append(filled)

    for label, child, fk_col, parent, pk_col in odd:
        keys = (
            child.select(F.col(fk_col).alias("k"))
            .filter(F.col("k").isNotNull())
            .groupBy("k")
            .agg(F.count("*").alias("c"))
        )
        parent_keys = parent.select(F.col(pk_col).alias("k")).distinct()
        marked = keys.join(
            parent_keys.withColumn("__present", F.lit(1)), "k", "left"
        )
        outs.append(
            _edge_stats(marked, []).select(
                F.lit(label).alias("edge"), *out_cols[1:]
            )
        )

    result = outs[0]
    for df in outs[1:]:
        result = result.unionAll(df)
    return result


def compaction_plan(
    files: DataFrame,
    part_col: str,
    size_col: str,
    order_col: str,
    target: int,
) -> DataFrame:
    """Small-file compaction planner (the OPTIMIZE planning step): within
    each partition, files are walked in ``order_col`` order and greedily
    coalesced into sequential bins that close once the running size
    crosses ``target`` — ``bin = floor(bytes_before_this_file /
    target)``, the deterministic one-pass equivalent of first-fit on a
    sorted list.  Emits one row per planned output file: ``(partition,
    bin, n_files, total_size, first/last order key, undersized)`` with
    ``undersized`` marking tail bins below ``target/2`` (candidates to
    merge into a neighbor partition's plan or leave for the next cycle).

    Scale shape: one partition-keyed cumulative-sum window over the FILE
    manifest (manifest-sized, not data-sized — this never reads the
    files), then a (partition, bin) aggregation."""
    w = (
        Window.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = files.select(
        F.col(part_col),
        F.col(order_col),
        F.col(size_col),
        F.floor(
            (F.sum(size_col).over(w) - F.col(size_col))
            / F.lit(target).cast("long")
        )
        .cast("long")
        .alias("bin"),
    )
    return binned.groupBy(part_col, "bin").agg(
        F.count("*").alias("n_files"),
        F.sum(size_col).cast("long").alias("total_size"),
        F.min(order_col).alias("first_key"),
        F.max(order_col).alias("last_key"),
        (F.sum(size_col).cast("long") < F.lit(target // 2)).alias(
            "undersized"
        ),
    )


def priority_sample(
    df: DataFrame,
    weight_col: str,
    key_col: str = "doc_id",
    k: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Priority sampling (Duffield-Lund-Thorup): the weighted sample
    that supports UNBIASED subset-sum estimation — what
    ``weighted_sample_topk`` (A-ES) cannot give you.  Each row draws
    the hash-stable unit uniform u and the priority ``w / u``; the k
    highest-priority rows are the sample, and with τ = the (k+1)-th
    priority, ``est_w = max(w, τ)`` satisfies E[Σ_{sample∩S} est_w] =
    Σ_S w for EVERY subset S — so downstream aggregations over any
    slice of the sample estimate the full-corpus slice totals with no
    reweighting logic of their own.

    Output: the k sampled rows as ``(key, w, priority, est_w)`` with
    priority ROUND(12)-pinned (rank determinism) and est_w ROUND(6).
    When the population has ≤ k rows, τ = 0 and est_w = w exactly (the
    sample IS the population).  Non-positive weights are excluded.

    Distributed shape: map-side priority + TakeOrdered(k+1) — the
    per-partition top-(k+1) pre-reduction means the driver-side limit
    sees k+1 candidates per partition, never the corpus; τ derives
    from the (k+1)-row head IN-PLAN (1-row broadcast)."""
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string"))
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("double")
    u = (h + F.lit(1.0)) / F.lit(float(16**15 + 1))
    pri = F.round(F.col(weight_col).cast("double") / u, 12)
    head = (
        df.filter(F.col(weight_col).cast("double") > 0.0)
        .select(
            F.col(key_col).alias("key"),
            F.col(weight_col).cast("double").alias("w"),
            pri.alias("priority"),
        )
        .orderBy(F.col("priority").desc(), F.col("key").asc())
        .limit(k + 1)
    )
    head = head.localCheckpoint(eager=False)
    tau = head.agg(
        F.when(F.count("*") == k + 1, F.min("priority"))
        .otherwise(F.lit(0.0))
        .alias("tau")
    )
    return (
        head.orderBy(F.col("priority").desc(), F.col("key").asc())
        .limit(k)
        .join(F.broadcast(tau))
        .select(
            F.col("key").alias(key_col),
            "w",
            "priority",
            F.round(F.greatest(F.col("w"), F.col("tau")), 6).alias(
                "est_w"
            ),
        )
    )


def pareto_front(df: DataFrame, x: Column, y: Column) -> DataFrame:
    """Pareto-optimal rows maximizing two objectives — the skyline
    selection a curation pipeline runs when no single score exists
    ("longest AND lexically richest", "highest quality AND freshest"):
    a row survives iff NO other row is >= on both objectives and
    strictly better on one.  Duplicate (x, y) optima all survive
    (neither strictly dominates).  Output: the input columns plus
    ``__x``/``__y`` dropped — callers keep their own objective
    columns.

    Scale posture: collapse to the per-distinct-x best y (ONE
    map-combinable shuffle), then a DISTRIBUTED exclusive prefix-max
    scanning x descending (``parallelism.prefix_max`` — the skyline's
    "best y among strictly larger x", never a single-task global
    sort), and one equi-join back: a row survives iff its y equals
    its x-group's best AND beats every larger-x best.  All
    comparisons on the caller's raw objective values."""
    rows = df.withColumn("__x", x).withColumn("__y", y).filter(
        F.col("__x").isNotNull() & F.col("__y").isNotNull()
    )
    best = rows.groupBy("__x").agg(F.max("__y").alias("__my"))
    from conte_to_fresco_etl_spark.parallelism import prefix_max

    scan = prefix_max(
        best, "__x", "__my", out_col="__m", descending=True,
        exclusive=True,
    )
    front_x = scan.filter(
        F.col("__m").isNull() | (F.col("__my") > F.col("__m"))
    ).select("__x", "__my")
    out_cols = [c for c in df.columns]
    return (
        rows.join(front_x, "__x")
        .filter(F.col("__y") == F.col("__my"))
        .select(*out_cols)
    )
