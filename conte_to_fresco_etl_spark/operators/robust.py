"""Robust statistics: per-group median/MAD outlier detection.

The metric-quality screen the reference applies as fixed clips
(``validate_metric``, reference conte-etl-step-2-processor.py:480-511)
generalized to a data-driven rule: a value is anomalous when its
deviation from the per-group MEDIAN exceeds ``k`` scaled MADs (median
absolute deviation).  Median/MAD tolerate the exact pathology fixed
thresholds miss — a corrupted collector emitting a burst of garbage
moves the mean and stddev but barely moves the median.

At 100 TB: two aggregate passes over the fact table (median, then MAD
of the residuals) with dimension-sized per-group stat tables joined
back by broadcast — never a per-group sort window over the full data.
Exact ``percentile`` keeps the gate deterministic; the documented
sketch form swaps in ``approx_percentile`` for one-pass approximate
medians when two scans are too dear.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

#: Consistency constant: MAD * 1.4826 estimates sigma under normality,
#: so ``k`` is in familiar z-score units.
MAD_SIGMA = 1.4826


def mad_outliers(
    df: DataFrame,
    key_col: str,
    value_col: str,
    id_col: str,
    k: float = 3.5,
) -> DataFrame:
    """Rows whose ``|value - median(group)|`` exceeds ``k * 1.4826 *
    MAD(group)``.

    Returns the flagged rows with ``(id, key, value, med, mad,
    robust_z)`` where ``robust_z = |v - med| / (1.4826 * mad)`` rounded
    to 6 places (NULL when the group's MAD is exactly zero — then ANY
    deviation from the median flags, the standard MAD-rule degeneracy
    for >50%-constant groups).

    Determinism: exact linear-interpolated ``percentile`` on both
    passes; the flag predicate is multiplication-only (no division), so
    engines agree bit-for-bit on the boundary.
    """
    med = broadcast(
        df.groupBy(key_col).agg(
            F.expr(f"percentile({value_col}, 0.5)").alias("med")
        )
    )
    dev = df.join(med, key_col).withColumn(
        "absdev", F.abs(F.col(value_col) - F.col("med"))
    )
    mad = broadcast(
        dev.groupBy(key_col).agg(
            F.expr("percentile(absdev, 0.5)").alias("mad")
        )
    )
    flagged = dev.join(mad, key_col).filter(
        F.col("absdev") > F.lit(k) * F.lit(MAD_SIGMA) * F.col("mad")
    )
    score = F.when(
        F.col("mad") != 0.0,
        F.round(F.col("absdev") / (F.lit(MAD_SIGMA) * F.col("mad")), 6),
    )
    return flagged.select(
        id_col,
        key_col,
        value_col,
        "med",
        "mad",
        score.alias("robust_z"),
    )


def psi_drift(
    df: DataFrame,
    key_col: str,
    value_col: str,
    split_col,
    bin_width: float = 25.0,
) -> DataFrame:
    """Population stability index between the two halves a boolean
    ``split_col`` induces (False = reference, True = current) — the
    standard drift score monitoring puts on every model input:
    PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25 broken.

    Values are binned fixed-width (``floor(v / bin_width)``); the bin
    UNIVERSE per key is every bin either half occupies, and both
    halves are Laplace-smoothed over it (``p = (n+1) / (N+B)``) so
    empty-on-one-side bins contribute finitely instead of ±inf.

    Output: ``(key, n_ref, n_cur, n_bins, psi)``.

    Determinism: (p-q)·ln(p/q) contributions are ROUND(12)-pinned and
    summed as DECIMAL(28,12) — order-independent, engine-exact.

    Scale posture: one (key, bin, half) count shuffle with map-side
    partials collapses the corpus to |keys|·|bins|·2 rows; everything
    after is dimension-sized.  No quantile pass — fixed-width bins are
    the streaming-friendly choice (equi-depth bins need a per-key
    quantile pass; ``q_value_percentiles`` shows that form)."""
    binned = df.select(
        F.col(key_col).alias("key"),
        F.floor(F.col(value_col) / F.lit(bin_width)).alias("bin"),
        split_col.alias("cur"),
    )
    counts = binned.groupBy("key", "bin").agg(
        F.sum(F.when(~F.col("cur"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("cur"), 1).otherwise(0)).alias("n_cur"),
    )
    # Spark resolves column names case-insensitively by default, so the
    # per-key totals need names disjoint from the per-bin counts
    stats = counts.groupBy("key").agg(
        F.sum("n_ref").alias("tot_ref"),
        F.sum("n_cur").alias("tot_cur"),
        F.count("*").alias("n_bins"),
    )
    joined = counts.join(F.broadcast(stats), "key")
    p = (F.col("n_ref") + F.lit(1)).cast("double") / (
        F.col("tot_ref") + F.col("n_bins")
    ).cast("double")
    q = (F.col("n_cur") + F.lit(1)).cast("double") / (
        F.col("tot_cur") + F.col("n_bins")
    ).cast("double")
    contrib = F.round((q - p) * F.log(q / p), 12).cast("decimal(28,12)")
    return (
        joined.groupBy("key", "tot_ref", "tot_cur", "n_bins")
        .agg(F.sum(contrib).cast("double").alias("psi"))
        .select(
            F.col("key").alias(key_col),
            F.col("tot_ref").alias("n_ref"),
            F.col("tot_cur").alias("n_cur"),
            "n_bins",
            F.round("psi", 6).alias("psi"),
        )
    )


def grouped_corr(
    df: DataFrame,
    key_col: str,
    x_col,
    y_col,
) -> DataFrame:
    """Per-group Pearson correlation from DECIMAL-EXACT sufficient
    statistics: n, Σx, Σy, Σxy, Σx², Σy² accumulate as decimals
    (order-independent exact integers), then the textbook

        r = (n·Σxy − Σx·Σy) / sqrt((n·Σx²−(Σx)²) · (n·Σy²−(Σy)²))

    evaluates ONCE per group in doubles — so the result is reproducible
    under any partitioning and engine, unlike built-in ``corr()`` whose
    streaming co-moment accumulation is merge-order-dependent.

    Output: ``(key, n, r)`` with r ROUND(6)-pinned, NULL when either
    variance is zero (constant series).

    Scale posture: one partial-aggregated shuffle of 6 accumulators per
    group — the corpus never moves twice.  Inputs are expected to carry
    ≤ 2 fractional digits (metric readings); the decimal(18,4)/(38,8)
    lattice is exact for them."""
    x = (x_col if not isinstance(x_col, str) else F.col(x_col)).cast(
        "decimal(18,4)"
    )
    y = (y_col if not isinstance(y_col, str) else F.col(y_col)).cast(
        "decimal(18,4)"
    )
    agg = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count("*").alias("n"),
        F.sum(x).cast("decimal(38,8)").alias("sx"),
        F.sum(y).cast("decimal(38,8)").alias("sy"),
        F.sum((x * y).cast("decimal(38,8)")).alias("sxy"),
        F.sum((x * x).cast("decimal(38,8)")).alias("sxx"),
        F.sum((y * y).cast("decimal(38,8)")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    cov = n * F.col("sxy").cast("double") - sx * sy
    vx = n * F.col("sxx").cast("double") - sx * sx
    vy = n * F.col("syy").cast("double") - sy * sy
    r = F.when(
        (vx > 0.0) & (vy > 0.0),
        F.round(cov / F.sqrt(vx * vy), 6),
    )
    return agg.select(
        F.col("key").alias(key_col), "n", r.alias("r")
    )


def chi_square_independence(
    df: DataFrame,
    a_col,
    b_col,
) -> DataFrame:
    """Chi-square test of independence between two categorical columns
    — the association screen data-quality monitors run on label-vs-
    source style pairs (a high statistic means the categories leak
    into each other).

    Output: ONE row ``(n, n_a, n_b, dof, chi2)`` where dof =
    (n_a−1)(n_b−1) and chi2 = Σ_cells (o−e)²/e with e = row·col/N.

    Determinism: o, row, col, N are exact longs; each cell's (o−e)²/e
    is the identical double expression, ROUND(12)-pinned, decimal-
    summed — order-independent.

    Scale posture: one (a, b) count shuffle collapses the corpus to the
    contingency table; marginals re-aggregate the |cells| rows (window
    over the tiny counted table); the final sum is one scalar.  Only
    OBSERVED cells carry (o−e)²/e directly; the absent-cell mass
    Σ_absent e = N − Σ_observed e is added in closed form (for absent
    cells (0−e)²/e = e), so sparse pairs need no dense cell explosion."""
    a = a_col if not isinstance(a_col, str) else F.col(a_col)
    b = b_col if not isinstance(b_col, str) else F.col(b_col)
    cells = df.select(a.alias("a"), b.alias("b")).groupBy("a", "b").agg(
        F.count("*").alias("o")
    )
    wa = Window.partitionBy("a")
    wb = Window.partitionBy("b")
    wall = Window.partitionBy()
    with_marg = cells.select(
        "a",
        "b",
        "o",
        F.sum("o").over(wa).alias("row_tot"),
        F.sum("o").over(wb).alias("col_tot"),
        F.sum("o").over(wall).alias("grand"),
    )
    e = (
        F.col("row_tot").cast("double")
        * F.col("col_tot").cast("double")
        / F.col("grand").cast("double")
    )
    o = F.col("o").cast("double")
    cell_term = F.round((o - e) * (o - e) / e, 12).cast("decimal(28,12)")
    # expected mass sitting on absent cells, in closed form
    e_term = F.round(e, 12).cast("decimal(28,12)")
    return (
        with_marg.agg(
            F.max(F.col("grand")).alias("n"),
            F.count_distinct("a").alias("n_a"),
            F.count_distinct("b").alias("n_b"),
            F.sum(cell_term).cast("double").alias("observed_part"),
            F.sum(e_term).cast("double").alias("observed_e"),
        )
        .select(
            "n",
            "n_a",
            "n_b",
            ((F.col("n_a") - 1) * (F.col("n_b") - 1)).alias("dof"),
            F.round(
                F.col("observed_part")
                + (F.col("n").cast("double") - F.col("observed_e")),
                6,
            ).alias("chi2"),
        )
    )


def key_skew_report(
    df: DataFrame,
    key_col,
) -> DataFrame:
    """Partitioning-skew diagnostics for a prospective shuffle/join key:
    ONE row ``(n_rows, n_keys, max_n, p50_n, p99_n, skew_ratio)`` where
    ``skew_ratio = max_n / (n_rows / n_keys)`` — the multiplier the
    hottest key puts on a perfectly balanced partition.  This is the
    measurement that DECIDES the mitigation: ratio ≈ 1 → plain hash
    partitioning; 10-100 → AQE skew-split handles it; ≫ 100 → salt the
    key (operators/skew.py) or isolate the hot keys.

    One count shuffle collapses the corpus to |keys| rows; the exact
    percentiles run over that counted table, not the corpus."""
    k = key_col if not isinstance(key_col, str) else F.col(key_col)
    counts = df.select(k.alias("__k")).groupBy("__k").agg(
        F.count("*").alias("n")
    )
    return counts.agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.count("*").alias("n_keys"),
        F.max("n").alias("max_n"),
        F.expr("percentile(n, 0.5)").alias("p50_n"),
        F.expr("percentile(n, 0.99)").alias("p99_n"),
    ).select(
        "n_rows",
        "n_keys",
        "max_n",
        F.round("p50_n", 6).alias("p50_n"),
        F.round("p99_n", 6).alias("p99_n"),
        F.round(
            F.col("max_n").cast("double")
            / (F.col("n_rows").cast("double") / F.col("n_keys").cast("double")),
            6,
        ).alias("skew_ratio"),
    )


#: Benford expected first-digit probabilities log10(1 + 1/d), d = 1..9.
BENFORD_P = [0.0] + [float(__import__("math").log10(1.0 + 1.0 / d)) for d in range(1, 10)]


def benford_screen(
    df: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """First-digit (Benford's law) conformance screen per group — the
    fabrication detector auditors run on naturally-spanning positive
    quantities: hand-typed or synthesized numbers drift from the
    log-uniform first-digit law.

    Output per key: ``(key, n, chi2_stat, max_dev)`` where chi2_stat =
    Σ_d (o_d − n·p_d)²/(n·p_d) over digits 1..9 and max_dev is the
    largest |o_d/n − p_d| (the MAD-style effect size).  Zero-count
    digits contribute their full expected mass (o=0 term), handled
    densely — the digit domain is 9 cells, so no sparsity machinery.

    Determinism: digit counts are exact longs; expected masses are the
    identical double constants; per-digit terms ROUND(12), decimal-
    summed; outputs ROUND(6).

    Scale posture: one (key, digit) count shuffle collapses the corpus;
    the 9-row-per-key digit table is then joined to a broadcast
    literal table of Benford probabilities."""
    # least/greatest clamp: log10 is specified exact at powers of 10 in
    # both engines, but the clamp makes an off-by-one-ulp digit-0/10
    # impossible on any platform (and the oracle clamps identically)
    d = F.least(
        F.lit(9),
        F.greatest(
            F.lit(1),
            F.floor(
                F.col(value_col).cast("double")
                / F.pow(
                    F.lit(10.0),
                    F.floor(F.log10(F.col(value_col).cast("double"))),
                )
            ).cast("int"),
        ),
    )
    digits = (
        df.filter(F.col(value_col).cast("double") > 0.0)
        .select(F.col(key_col).alias("key"), d.alias("digit"))
        .groupBy("key", "digit")
        .agg(F.count("*").alias("o"))
    )
    totals = digits.groupBy("key").agg(F.sum("o").alias("n"))
    spark = df.sparkSession
    bp = spark.createDataFrame(
        # 1 slice: one Python-worker eval instead of 32 (r13)
        spark.sparkContext.parallelize(
            [(dd, BENFORD_P[dd]) for dd in range(1, 10)], 1
        ),
        "digit int, p double",
    )
    # dense digit domain: every (key, digit in 1..9) cell exists
    dense = totals.crossJoin(F.broadcast(bp))
    cells = dense.join(digits, ["key", "digit"], "left").select(
        "key",
        "n",
        "digit",
        "p",
        F.coalesce(F.col("o"), F.lit(0)).alias("o"),
    )
    e = F.col("n").cast("double") * F.col("p")
    o = F.col("o").cast("double")
    chi_term = F.round((o - e) * (o - e) / e, 12).cast("decimal(28,12)")
    dev = F.abs(o / F.col("n").cast("double") - F.col("p"))
    return (
        cells.groupBy("key", "n")
        .agg(
            F.round(F.sum(chi_term).cast("double"), 6).alias("chi2_stat"),
            F.round(F.max(dev), 6).alias("max_dev"),
        )
        .select(F.col("key").alias(key_col), "n", "chi2_stat", "max_dev")
    )


def grouped_linreg(
    df: DataFrame,
    key_col: str,
    x_col,
    y_col,
) -> DataFrame:
    """Per-group simple linear regression y = slope·x + intercept from
    the same decimal-exact sufficient statistics as
    :func:`grouped_corr` — the trend detector run per metric: a
    significantly nonzero slope on (time, value) is the "this counter
    is drifting" alert.

    Output: ``(key, n, slope, intercept, r2)``, each ROUND(6); NULL
    slope/intercept/r2 for constant-x groups, NULL r2 also for
    constant-y (vy = 0).  One partial-aggregated shuffle."""
    x = (x_col if not isinstance(x_col, str) else F.col(x_col)).cast(
        "decimal(18,4)"
    )
    y = (y_col if not isinstance(y_col, str) else F.col(y_col)).cast(
        "decimal(18,4)"
    )
    agg = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count("*").alias("n"),
        F.sum(x).cast("decimal(38,8)").alias("sx"),
        F.sum(y).cast("decimal(38,8)").alias("sy"),
        F.sum((x * y).cast("decimal(38,8)")).alias("sxy"),
        F.sum((x * x).cast("decimal(38,8)")).alias("sxx"),
        F.sum((y * y).cast("decimal(38,8)")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    cov = n * F.col("sxy").cast("double") - sx * sy
    vx = n * F.col("sxx").cast("double") - sx * sx
    vy = n * F.col("syy").cast("double") - sy * sy
    slope = cov / vx
    intercept = (sy - slope * sx) / n
    return agg.select(
        F.col("key").alias(key_col),
        "n",
        F.when(vx > 0.0, F.round(slope, 6)).alias("slope"),
        F.when(vx > 0.0, F.round(intercept, 6)).alias("intercept"),
        F.when(
            (vx > 0.0) & (vy > 0.0), F.round(cov * cov / (vx * vy), 6)
        ).alias("r2"),
    )


def winsorize(
    df: DataFrame,
    key_col: str,
    value_col: str,
    lower_q: float = 0.01,
    upper_q: float = 0.99,
) -> DataFrame:
    """Per-group winsorization: clamp values to the group's
    [lower_q, upper_q] exact quantiles — the tail-taming transform
    applied to metric features before anything mean-based sees them
    (the robust alternative to dropping outliers: rank information
    survives, leverage does not).

    Output: the input rows plus ``(lo, hi, value_w, clipped)``, with
    ``value_w`` ROUND(6) only when clamped (unclipped values pass
    through bit-identical).

    Scale posture: one exact-percentile aggregate to |keys| rows,
    broadcast back; the corpus itself never shuffles."""
    bounds = broadcast(
        df.groupBy(key_col).agg(
            F.expr(f"percentile({value_col}, {lower_q!r})").alias("lo"),
            F.expr(f"percentile({value_col}, {upper_q!r})").alias("hi"),
        )
    )
    joined = df.join(bounds, key_col)
    clipped = (F.col(value_col) < F.col("lo")) | (
        F.col(value_col) > F.col("hi")
    )
    value_w = F.when(
        F.col(value_col) < F.col("lo"), F.round(F.col("lo"), 6)
    ).when(
        F.col(value_col) > F.col("hi"), F.round(F.col("hi"), 6)
    ).otherwise(F.col(value_col))
    return joined.select(
        *df.columns,
        F.round("lo", 6).alias("lo"),
        F.round("hi", 6).alias("hi"),
        value_w.alias("value_w"),
        clipped.alias("clipped"),
    )


def classification_metrics(
    df: DataFrame,
    gold_col: str,
    pred_col: str,
) -> DataFrame:
    """Classifier evaluation summary from a (gold, predicted) label
    table: accuracy, macro-averaged precision/recall/F1, and Cohen's
    kappa — the scorecard kept next to every heuristic classifier in a
    data pipeline (language ID, quality classifiers, topic routers) so
    threshold changes are judged on numbers, not vibes.

    Output — ONE row: ``(n, n_classes, accuracy, macro_precision,
    macro_recall, macro_f1, kappa)``, all rates ROUND(6).

    Conventions (mirrored exactly by the SQL oracle): rows where EITHER
    label is NULL are excluded up front — an unlabeled/abstained row is
    not a class, and keeping NULL in the class universe while plain
    equi-joins drop it from every total silently undercounted ``n`` and
    skewed the kappa denominators (ADVICE r5).  The class universe is
    the UNION of gold and predicted labels over the surviving rows; a
    class with no predictions contributes precision 0 (and analogously
    recall 0 with no gold rows) — the standard macro-F1 penalty for
    never predicting a class.  Kappa's observed/expected agreement terms are exact
    integer ratios (Σ tp / n and Σ gold_c·pred_c / n²), so the only
    float summations are the macro averages, which accumulate
    ROUND(12) decimal terms — aggregation-order independent.

    Scale posture: one (gold, pred) count shuffle collapses the corpus
    to a |classes|² cell table; each cell then scatters its count onto
    its gold class and its predicted class (an explode, not four
    joins — the union class set falls out of the same aggregation),
    so the whole scorecard is ONE linear pipeline: scan → cell agg →
    scatter → class agg → 1-row final agg.  No persist, no join of
    the tiny tables, a single job (the previous 5-subplan join form
    measured ~2s of pure job/persist overhead at sf0.1)."""
    # NULL-label rows are excluded AFTER the cell aggregation, and NOT
    # via a Filter node: a key filter above the aggregation is pushed
    # BELOW it (and through the projection) by Catalyst, inlining a
    # projected classifier column's expression into a per-row scan
    # filter — measured ~2x the whole lang-id evaluation on
    # q_classifier_metrics (the guide §4.4 duplication, with pure
    # expressions instead of a UDF).  Guarding the scatter array
    # (explode drops empty arrays) expresses the same exclusion with no
    # Filter for the optimizer to move: null-keyed cells survive the
    # |classes|²-sized aggregation and scatter nothing.
    cells = df.groupBy(
        F.col(gold_col).alias("g"), F.col(pred_col).alias("p")
    ).agg(F.count("*").alias("n"))
    zero = F.lit(0).cast("long")
    scatter = F.array(
        F.struct(
            F.col("g").alias("cls"),
            F.col("n").alias("gold_n"),
            zero.alias("pred_n"),
            F.when(F.col("g") == F.col("p"), F.col("n"))
            .otherwise(zero)
            .alias("tp_n"),
        ),
        F.struct(
            F.col("p").alias("cls"),
            zero.alias("gold_n"),
            F.col("n").alias("pred_n"),
            zero.alias("tp_n"),
        ),
    )
    both = F.col("g").isNotNull() & F.col("p").isNotNull()
    scattered = cells.select(
        F.explode(
            F.when(both, scatter).otherwise(F.slice(scatter, 1, 0))
        ).alias("e")
    ).select("e.*")
    per_class = scattered.groupBy("cls").agg(
        F.sum("gold_n").alias("gold_n"),
        F.sum("pred_n").alias("pred_n"),
        F.sum("tp_n").alias("tp_n"),
    )
    prec = F.when(F.col("pred_n") == 0, F.lit(0.0)).otherwise(
        F.col("tp_n").cast("double") / F.col("pred_n").cast("double")
    )
    rec = F.when(F.col("gold_n") == 0, F.lit(0.0)).otherwise(
        F.col("tp_n").cast("double") / F.col("gold_n").cast("double")
    )
    f1 = F.when(prec + rec == 0, F.lit(0.0)).otherwise(
        F.lit(2.0) * prec * rec / (prec + rec)
    )
    stats = per_class.agg(
        F.count("*").alias("n_classes"),
        F.sum("tp_n").alias("tp_total"),
        F.sum("gold_n").alias("n_total"),
        F.sum(F.col("gold_n") * F.col("pred_n")).alias("pe_num"),
        F.sum(F.round(prec, 12).cast("decimal(18,12)")).alias("p_sum"),
        F.sum(F.round(rec, 12).cast("decimal(18,12)")).alias("r_sum"),
        F.sum(F.round(f1, 12).cast("decimal(18,12)")).alias("f_sum"),
    )
    nn = F.col("n_total").cast("double")
    po = F.col("tp_total").cast("double") / nn
    pe = F.col("pe_num").cast("double") / (nn * nn)
    kd = F.lit(1.0) - pe
    return stats.select(
        F.col("n_total").cast("long").alias("n"),
        F.col("n_classes").cast("long").alias("n_classes"),
        F.round(po, 6).alias("accuracy"),
        F.round(
            F.col("p_sum").cast("double") / F.col("n_classes"), 6
        ).alias("macro_precision"),
        F.round(
            F.col("r_sum").cast("double") / F.col("n_classes"), 6
        ).alias("macro_recall"),
        F.round(
            F.col("f_sum").cast("double") / F.col("n_classes"), 6
        ).alias("macro_f1"),
        F.when(kd == 0, F.lit(None).cast("double"))
        .otherwise(F.round((po - pe) / kd, 6))
        .alias("kappa"),
    )


def cusum_drift(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Page's CUSUM drift detector over daily means, per key: the
    sequential-change statistic that fires on a SUSTAINED small shift
    long before a per-window test (PSI compares two fixed windows;
    CUSUM accumulates evidence across every day since the last reset).

    Uses the max-invariance form — with S_t the running sum of
    centered daily means and S_0 = 0,

        cusum_pos_t = S_t − min(S_0..S_t)
        cusum_neg_t = max(S_0..S_t) − S_t

    which equals the classic recursive ``C_t = max(0, C_{t-1} + y_t)``
    fold exactly (the S_0 = 0 term is what makes day 1 read
    ``max(0, y_1)``, not 0) but is expressible as two plain windows
    (cumulative sum + running min/max clamped at zero) — order-serial
    recurrence, zero iteration, one shuffle on the key.

    Output per (key, day): ``(key, day, daily_mean, cusum_pos,
    cusum_neg)``, ROUND(6).  Centered values and running sums
    accumulate as DECIMAL over ROUND(6) terms — engine-exact.
    """
    daily = (
        df.groupBy(
            F.col(key_col).alias("k"),
            F.date_trunc("day", F.col(ts_col)).alias("day"),
        )
        .agg(
            F.round(
                F.sum(
                    F.round(F.col(value_col).cast("double"), 9).cast(
                        "decimal(18,9)"
                    )
                ).cast("double")
                / F.count("*"),
                6,
            ).alias("daily_mean")
        )
    )
    target = daily.groupBy("k").agg(
        F.round(
            F.sum(F.col("daily_mean").cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("target")
    )
    y = daily.join(target, "k").select(
        "k",
        "day",
        "daily_mean",
        (
            F.col("daily_mean").cast("decimal(18,6)")
            - F.col("target").cast("decimal(18,6)")
        ).alias("y"),
    )
    w = Window.partitionBy("k").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    s = y.withColumn("s", F.sum("y").over(w))
    zero = F.lit(0).cast("decimal(18,6)")
    return s.select(
        F.col("k").alias(key_col),
        F.col("day").cast("date").alias("day"),
        "daily_mean",
        F.round(
            (F.col("s") - F.least(zero, F.min("s").over(w))).cast(
                "double"
            ),
            6,
        ).alias("cusum_pos"),
        F.round(
            (F.greatest(zero, F.max("s").over(w)) - F.col("s")).cast(
                "double"
            ),
            6,
        ).alias("cusum_neg"),
    )


def mannwhitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Mann-Whitney U rank-sum test between two groups' value
    distributions — the nonparametric two-sample test a pipeline runs
    when a source's metric distribution looks shifted but is nowhere
    near normal (robust twin of the t-test, as MAD is to stddev).

    Output — ONE row: ``(n_a, n_b, u_a, u_b, z)``: the U statistics
    (with midranks for ties) and the tie-corrected normal
    approximation z, ROUND(6).

    Exactness: the corpus first collapses to the per-distinct-value
    count table ``(v, ca, cb)``; midranks derive from cumulative tie
    counts as exact halves (``cum_before + (tie_n+1)/2``), carried
    doubled as the INTEGER ``2·cum_before + tie_n + 1`` so the rank-sum
    is one exact bigint sum halved once in double.  U and the variance
    derive from integer counts, so z is one identical float expression
    in both engines.

    Scale posture: one (value) count shuffle collapses the corpus to
    |distinct values| rows — but a CONTINUOUS metric leaves that table
    data-sized, so the cumulative tie counts come from the distributed
    two-pass prefix sum (``parallelism.prefix_sums``: range-partition
    on v, per-partition cumsum, broadcast triangular offsets), never a
    single-task global window (same discipline as ``ks_test``; r8).
    Empty-group and nn≤1 inputs short-circuit z to an explicit NULL
    instead of NaN-poisoning the ordering."""
    two = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).alias("g"),
        F.col(value_col).cast("double").alias("v"),
    )
    per_v = two.groupBy("v").agg(
        F.sum(F.when(F.col("g") == group_a, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("g") == group_b, 1).otherwise(0)).alias("cb"),
    )
    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    tied = per_v.select(
        "v", "ca", "cb", (F.col("ca") + F.col("cb")).alias("tie_n")
    )
    ranked = prefix_sums(tied, "v", ["tie_n"]).select(
        "ca",
        "cb",
        "tie_n",
        # midrank of every row tied at v is cum_before + (tie_n+1)/2;
        # doubled it is the exact integer 2·cum_before + tie_n + 1
        (
            F.lit(2) * (F.col("cum_tie_n") - F.col("tie_n"))
            + F.col("tie_n")
            + F.lit(1)
        ).alias("midrank_x2"),
    )
    agg = ranked.agg(
        F.sum("ca").alias("n_a"),
        F.sum("cb").alias("n_b"),
        # Σ_{rows in group a} midrank, carried doubled as a bigint
        F.sum(F.col("ca") * F.col("midrank_x2")).alias("r_a2"),
        # Σ (t³ − t) over distinct tie groups
        F.sum(
            F.col("tie_n") * F.col("tie_n") * F.col("tie_n")
            - F.col("tie_n")
        ).alias("tie_term"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    nn = na + nb
    r_a = F.col("r_a2").cast("double") / F.lit(2.0)
    u_a = r_a - na * (na + F.lit(1.0)) / F.lit(2.0)
    u_b = na * nb - u_a
    var = (
        na * nb / F.lit(12.0)
        * (
            (nn + F.lit(1.0))
            - F.col("tie_term").cast("double")
            / (nn * (nn - F.lit(1.0)))
        )
    )
    z = (u_a - na * nb / F.lit(2.0)) / F.sqrt(var)
    degenerate = (
        (F.col("n_a") == 0) | (F.col("n_b") == 0) | (nn <= F.lit(1.0))
    )
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(u_a, 6).alias("u_a"),
        F.round(u_b, 6).alias("u_b"),
        F.when(degenerate | (var == 0), F.lit(None).cast("double"))
        .otherwise(F.round(z, 6))
        .alias("z"),
    )


def ks_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic: the maximum vertical
    gap between the two groups' empirical CDFs — the distribution-
    shape complement to ``mannwhitney_u`` (which only sees location:
    a variance doubling with equal medians is invisible to U but not
    to D).

    Output — ONE row: ``(n_a, n_b, d_stat, at_value)``: the supremum
    gap ROUND(6) and the (smallest) value where it is attained.

    Exactness: ECDF steps are exact integer cumulative counts over the
    per-distinct-value count table; the gap is one double division
    tree per distinct value, ROUND(12)-pinned before the argmax so
    both engines rank identically (ties to the smaller value).

    Scale posture: one (value) count shuffle collapses the corpus to
    |distinct values| rows — data-sized for a continuous metric, so
    the ECDF's cumulative counts come from the distributed two-pass
    prefix sum (``parallelism.prefix_sums``), never a single-task
    global window (r8); the argmax runs map-combinable over the same
    table.  A one-group input (n_a or n_b = 0) returns an explicit
    all-NULL d_stat row rather than NaN/NULL-ordering noise."""
    two = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).alias("g"),
        F.col(value_col).cast("double").alias("v"),
    )
    per_v = two.groupBy("v").agg(
        F.sum(F.when(F.col("g") == group_a, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("g") == group_b, 1).otherwise(0)).alias("cb"),
    )
    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    tot = per_v.agg(
        F.sum("ca").alias("n_a"), F.sum("cb").alias("n_b")
    )
    gaps = (
        prefix_sums(per_v, "v", ["ca", "cb"])
        .select(
            "v",
            F.col("cum_ca").alias("cum_a"),
            F.col("cum_cb").alias("cum_b"),
        )
        .crossJoin(broadcast(tot))
        .select(
            "v",
            "n_a",
            "n_b",
            # try_divide: a one-group input (n_a or n_b = 0) must not
            # NaN/Inf-poison the argmax ordering — the gap goes NULL
            # here and the final select makes the degradation explicit
            F.round(
                F.abs(
                    F.try_divide(
                        F.col("cum_a").cast("double"),
                        F.col("n_a").cast("double"),
                    )
                    - F.try_divide(
                        F.col("cum_b").cast("double"),
                        F.col("n_b").cast("double"),
                    )
                ),
                12,
            ).alias("gap"),
        )
    )
    degenerate = (F.col("n_a") == 0) | (F.col("n_b") == 0)
    return (
        gaps.orderBy(F.col("gap").desc(), F.col("v").asc())
        .limit(1)
        .select(
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.when(degenerate, F.lit(None).cast("double"))
            .otherwise(F.round(F.col("gap"), 6))
            .alias("d_stat"),
            F.when(degenerate, F.lit(None).cast("double"))
            .otherwise(F.col("v"))
            .alias("at_value"),
        )
    )


def welch_ttest(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Welch's unequal-variance t-test between two groups' means — the
    parametric sibling of ``mannwhitney_u`` for the near-normal metrics
    (latencies, revenue per event) where the mean IS the question.

    Output — ONE row: ``(n_a, n_b, mean_a, mean_b, t_stat, df)`` with
    the Welch-Satterthwaite degrees of freedom, ROUND(6).

    Exactness: the only data-dependent aggregates are n, Σv, and Σv²
    per group, BOTH moments over the same DECIMAL(18,4)-quantized
    values (Σv directly, Σv² as the exact decimal square — decimal
    addition/multiplication is exact integer math, order-independent),
    so every downstream float derives from identical operands via
    identical expression trees in any engine.  Quantizing only the
    first moment while summing raw v² (the original form) makes the
    two moments describe *different* samples — hypothesis testing
    caught a 1%-level t drift on sub-quantum values, and adversarial
    inputs near the quantum could even drive the mixed-moment variance
    negative.

    Scale posture: one map-side-combinable aggregation pass collapses
    the corpus to TWO rows; everything after is driver-free scalar
    algebra inside the plan.  Degenerate inputs (either n < 2, or both
    sample variances zero) short-circuit t/df to explicit NULLs."""
    two = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).alias("g"),
        F.col(value_col).cast("double").alias("v"),
    )
    vq = F.col("v").cast("decimal(18,4)")
    per_g = two.groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum(vq).alias("s1"),
        F.sum((vq * vq).cast("decimal(38,8)")).alias("s2"),
    )
    wide = per_g.agg(
        F.sum(F.when(F.col("g") == group_a, F.col("n"))).alias("n_a"),
        F.sum(F.when(F.col("g") == group_a, F.col("s1"))).alias("s1_a"),
        F.sum(F.when(F.col("g") == group_a, F.col("s2"))).alias("s2_a"),
        F.sum(F.when(F.col("g") == group_b, F.col("n"))).alias("n_b"),
        F.sum(F.when(F.col("g") == group_b, F.col("s1"))).alias("s1_b"),
        F.sum(F.when(F.col("g") == group_b, F.col("s2"))).alias("s2_b"),
    )
    na = F.coalesce(F.col("n_a"), F.lit(0)).cast("double")
    nb = F.coalesce(F.col("n_b"), F.lit(0)).cast("double")
    ma = F.col("s1_a").cast("double") / na
    mb = F.col("s1_b").cast("double") / nb
    va = (F.col("s2_a").cast("double") - na * ma * ma) / (na - F.lit(1.0))
    vb = (F.col("s2_b").cast("double") - nb * mb * mb) / (nb - F.lit(1.0))
    se2_a = va / na
    se2_b = vb / nb
    t = (ma - mb) / F.sqrt(se2_a + se2_b)
    dfw = (
        (se2_a + se2_b) * (se2_a + se2_b)
        / (
            se2_a * se2_a / (na - F.lit(1.0))
            + se2_b * se2_b / (nb - F.lit(1.0))
        )
    )
    degenerate = (na < F.lit(2.0)) | (nb < F.lit(2.0))
    zero_var = (va + vb) == F.lit(0.0)
    return wide.select(
        F.coalesce(F.col("n_a"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.col("n_b"), F.lit(0)).cast("long").alias("n_b"),
        F.when(na > 0, F.round(ma, 6)).alias("mean_a"),
        F.when(nb > 0, F.round(mb, 6)).alias("mean_b"),
        F.when(degenerate | zero_var, F.lit(None).cast("double"))
        .otherwise(F.round(t, 6))
        .alias("t_stat"),
        F.when(degenerate | zero_var, F.lit(None).cast("double"))
        .otherwise(F.round(dfw, 6))
        .alias("df"),
    )


#: Poisson(1) inverse-CDF thresholds (cumulative e^{-1}·Σ 1/k!): a
#: uniform u maps to the replicate weight w = #{thresholds below u}.
_POISSON_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
    0.9999897508033253,
]


def poisson_bootstrap_ci(
    df: DataFrame,
    key_col: str,
    value_col: str,
    id_col: str,
    n_replicates: int = 50,
    alpha: float = 0.05,
    seed: str = "boot",
) -> DataFrame:
    """Per-key bootstrap confidence interval for the mean via the
    POISSON bootstrap — the distributed form: instead of resampling n
    rows with replacement (a global operation), every row draws an
    independent Poisson(1) replicate weight, which converges to the
    multinomial bootstrap and needs only map-side math.  This is the
    bootstrap you can actually run at 100 TB.

    Output per key: ``(key, n, mean, ci_lo, ci_hi, n_replicates)`` —
    the percentile interval of the replicate means, ROUND(6).

    Exactness: replicate uniforms are hash-stable 12-bit md5 chunks —
    ONE ``md5(seed:g:id)`` yields TEN replicates via its 3-hex-char
    substrings (u = chunk/4096; one hash per ten replicates is the
    dominant cost lever: B hashes/row measured 7.2s at sf0.1, B/10
    measured ~2s), fed through a literal-threshold inverse-CDF ladder
    (the 12-bit quantization of Poisson(1) shifts each weight
    probability by < 2⁻¹², far inside bootstrap noise).  Replicate
    sums are DECIMAL(18,4)·w (exact), replicate means identical
    doubles in any engine, and the interval is the exact
    ``percentile`` both engines interpolate identically.

    Scale posture: the ×B explode is map-side (no shuffle until the
    (key, replicate) partial-aggregated groupBy, B·|keys| rows out);
    the quantile runs on the B-row-per-key replicate table.  B is a
    constant, so cost is B linear passes fused into one job."""
    chunks = 10
    if n_replicates % chunks:
        raise ValueError("n_replicates must be a multiple of 10")
    from conte_to_fresco_etl_spark.parallelism import (
        DENSE_BYTES_PER_TASK,
        ensure_min_parallelism,
    )

    # the ×B explode multiplies every input row: a single-row-group
    # scan would run the whole hash+weight pipeline as ONE task
    df = ensure_min_parallelism(df, DENSE_BYTES_PER_TASK)
    hashed = df.select(
        F.col(key_col).alias("key"),
        F.col(value_col).cast("decimal(18,4)").alias("v"),
        F.col(id_col).cast("string").alias("__id"),
        F.explode(
            F.sequence(F.lit(0), F.lit(n_replicates // chunks - 1))
        ).alias("g"),
    ).select(
        "key",
        "v",
        "g",
        F.md5(
            F.concat_ws(":", F.lit(seed), F.col("g"), F.col("__id"))
        ).alias("hx"),
    )
    # ten 12-bit uniforms per hash, materialized as named columns so
    # the 8-branch CDF ladder references each exactly once (lambda/CSE
    # pitfall: inlined subexpressions re-evaluate per branch)
    with_u = hashed.select(
        "key",
        "v",
        "g",
        *[
            (
                F.conv(
                    F.substring(F.col("hx"), 1 + 3 * c, 3), 16, 10
                ).cast("double")
                / F.lit(4096.0)
            ).alias(f"u{c}")
            for c in range(chunks)
        ],
    )

    def ladder(u):
        return sum(
            (F.when(u >= F.lit(p), 1).otherwise(0) for p in _POISSON_CDF),
            F.lit(0),
        )

    with_w = with_u.select(
        "key",
        "v",
        "g",
        *[ladder(F.col(f"u{c}")).alias(f"w{c}") for c in range(chunks)],
    )
    # column-wise replicate aggregation: the ten replicates of each
    # hash group stay as 2·chunks agg columns instead of exploding
    # rows×chunks tokens through the hash aggregate (measured 3.5s →
    # 2.6s at sf0.1); the dimension-sized result unpivots after
    per_g = with_w.groupBy("key", "g").agg(
        *[
            agg
            for c in range(chunks)
            for agg in (
                F.sum(F.col("v") * F.col(f"w{c}")).alias(f"sw{c}"),
                F.sum(f"w{c}").cast("long").alias(f"nw{c}"),
            )
        ]
    )
    reps = per_g.select(
        "key",
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("g") * chunks + F.lit(c)).alias("b"),
                        F.col(f"sw{c}").alias("sw"),
                        F.col(f"nw{c}").alias("nw"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("p"),
    )
    rep_means = reps.select(
        "key",
        F.try_divide(
            F.col("p.sw").cast("double"), F.col("p.nw").cast("double")
        ).alias("m"),
    )
    ci = rep_means.groupBy("key").agg(
        F.round(F.percentile(F.col("m"), alpha / 2.0), 6).alias("ci_lo"),
        F.round(F.percentile(F.col("m"), 1.0 - alpha / 2.0), 6).alias(
            "ci_hi"
        ),
        F.count("*").alias("n_replicates"),
    )
    base = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col(value_col).cast("decimal(18,4)")).cast("double")
            / F.count("*"),
            6,
        ).alias("mean"),
    )
    return base.join(broadcast(ci), "key").select(
        "key", "n", "mean", "ci_lo", "ci_hi", "n_replicates"
    )


def changepoint_binary_seg(
    df: DataFrame,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Single-changepoint estimate on the daily total series (one step
    of binary segmentation): the split day maximizing the standardized
    mean gap ``|mean_left − mean_right| · sqrt(i·(n−i)/n)`` — the
    LOCATION complement to ``cusum_drift``'s drift ALARM (CUSUM says
    "something moved"; this says "it moved HERE"; full binary
    segmentation recurses on the halves).

    Output — ONE row: ``(n_days, split_day, mean_left, mean_right,
    score)``, ROUND(6), ties broken to the earliest day.

    Exactness: daily sums and their running prefix are DECIMAL (exact,
    order-independent); every mean/score is one identical float tree;
    the argmax orders by (rounded score, day).

    Scale posture: the corpus collapses to the daily table FIRST (one
    map-combinable aggregation); the cumulative and total windows run
    on that dimension-sized series, and the corpus total enters as an
    unbounded window over the same collapsed table — no raw-row global
    window, no driver collect, no 1-row broadcast join."""
    daily = df.groupBy(F.to_date(F.col(ts_col)).alias("day")).agg(
        F.sum(F.col(value_col).cast("decimal(18,4)")).alias("s")
    )
    w_cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = daily.select(
        "day",
        F.sum("s").over(w_cum).alias("c"),
        F.row_number().over(Window.orderBy("day")).alias("i"),
        F.sum("s").over(w_all).alias("tot"),
        F.count("*").over(w_all).alias("n"),
    )
    i_d = F.col("i").cast("double")
    n_d = F.col("n").cast("double")
    ml = F.col("c").cast("double") / i_d
    mr = (F.col("tot") - F.col("c")).cast("double") / (
        F.col("n") - F.col("i")
    ).cast("double")
    score = F.abs(ml - mr) * F.sqrt(i_d * (n_d - i_d) / n_d)
    return (
        cum.filter(F.col("i") < F.col("n"))
        .select(
            F.col("n").cast("long").alias("n_days"),
            F.col("day").alias("split_day"),
            F.round(ml, 6).alias("mean_left"),
            F.round(mr, 6).alias("mean_right"),
            F.round(score, 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("split_day"))
        .limit(1)
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability table for a probabilistic classifier: scores bucket
    into ``n_bins`` equal-width confidence bins; each bin reports its
    mean predicted probability next to the observed positive rate and
    their gap — the per-bin decomposition of Expected Calibration
    Error (ECE = Σ gap·n/N), the standard audit before a classifier's
    scores are used as sampling weights (``q_soft_quality_sample``
    trusts the score AS a probability; this table says whether it is
    one).

    Output per non-empty bin: ``(bin, n, mean_score, positive_rate,
    gap)``, ROUND(6).  Exactness: scores are pre-rounded(6) doubles,
    summed as DECIMAL(18,6); the positive rate is an integer ratio;
    the gap subtracts the two raw expressions in one tree.

    Scale posture: one map-side-combinable aggregation to ``n_bins``
    rows."""
    lbl = F.col(label_col).cast("int")
    binned = df.select(
        F.least(
            F.floor(F.col(score_col) * n_bins).cast("long"),
            F.lit(n_bins - 1),
        ).alias("bin"),
        F.col(score_col).alias("s"),
        lbl.alias("y"),
    )
    conf = F.sum(F.col("s").cast("decimal(18,6)")).cast(
        "double"
    ) / F.count("*")
    acc = F.sum("y").cast("double") / F.count("*")
    return binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.round(conf, 6).alias("mean_score"),
        F.round(acc, 6).alias("positive_rate"),
        F.round(F.abs(acc - conf), 6).alias("gap"),
    )


def cuped_adjustment(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """CUPED variance reduction audit: using each key's FIRST-half
    mean as the pre-experiment covariate x and its second-half mean as
    the metric y, estimate θ = cov(x,y)/var(x) and report how much
    variance the adjusted metric ``y − θ·(x − x̄)`` removes — the
    standard pre-experiment-data trick that shrinks A/B test
    confidence intervals without touching the treatment effect.

    Output — ONE row: ``(n_keys, theta, var_y, var_adj,
    reduction_pct)``, ROUND(6); θ/variances NULL when var(x) is zero.

    Exactness: per-key means are DECIMAL-sum ratios (identical
    doubles); the cross-moments round(·,12)→DECIMAL(38,12) before
    summing, so every downstream float derives from exact operands.
    Var(y_adj) uses the identity var(y) − cov²/var(x) — no second
    pass.

    Scale posture: one conditional aggregation per key (map-side
    combinable), then one 5-accumulator collapse of the key table —
    the corpus moves once, the key table once."""
    bounds_us = df.agg(
        F.min(F.unix_micros(F.col(ts_col))).alias("e0"),
        F.max(F.unix_micros(F.col(ts_col))).alias("e1"),
    )
    ev = df.select(
        F.col(key_col).alias("key"),
        F.unix_micros(F.col(ts_col)).alias("us"),
        F.col(value_col).cast("decimal(18,4)").alias("v"),
    )
    per_key = (
        ev.crossJoin(broadcast(bounds_us))
        .select(
            "key",
            (F.col("us") * 2 < F.col("e0") + F.col("e1")).alias("fh"),
            "v",
        )
        .groupBy("key")
        .agg(
            F.sum(F.when(F.col("fh"), F.col("v"))).alias("sx"),
            F.sum(F.when(F.col("fh"), 1).otherwise(0)).alias("nx"),
            F.sum(F.when(~F.col("fh"), F.col("v"))).alias("sy"),
            F.sum(F.when(~F.col("fh"), 1).otherwise(0)).alias("ny"),
        )
        .filter((F.col("nx") > 0) & (F.col("ny") > 0))
    )
    x = F.col("sx").cast("double") / F.col("nx").cast("double")
    y = F.col("sy").cast("double") / F.col("ny").cast("double")
    moments = per_key.select(
        F.round(x, 12).cast("decimal(38,12)").alias("xd"),
        F.round(y, 12).cast("decimal(38,12)").alias("yd"),
        F.round(x * y, 12).cast("decimal(38,12)").alias("xy"),
        F.round(x * x, 12).cast("decimal(38,12)").alias("xx"),
        F.round(y * y, 12).cast("decimal(38,12)").alias("yy"),
    ).agg(
        F.count("*").alias("n"),
        F.sum("xd").alias("sx"),
        F.sum("yd").alias("sy"),
        F.sum("xy").alias("sxy"),
        F.sum("xx").alias("sxx"),
        F.sum("yy").alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    cov = n * F.col("sxy").cast("double") - sx * sy
    vx = n * F.col("sxx").cast("double") - sx * sx
    vy = n * F.col("syy").cast("double") - sy * sy
    var_y = vy / (n * n)
    var_adj = (vy - cov * cov / vx) / (n * n)
    degenerate = (vx <= F.lit(0.0)) | (F.col("n") < 2)
    return moments.select(
        F.col("n").cast("long").alias("n_keys"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(F.round(cov / vx, 6))
        .alias("theta"),
        F.when(F.col("n") < 2, F.lit(None).cast("double"))
        .otherwise(F.round(var_y, 6))
        .alias("var_y"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(F.round(var_adj, 6))
        .alias("var_adj"),
        F.when(
            degenerate | (vy <= F.lit(0.0)), F.lit(None).cast("double")
        )
        .otherwise(
            F.round(
                F.lit(100.0) * (F.lit(1.0) - var_adj / var_y), 6
            )
        )
        .alias("reduction_pct"),
    )


def permutation_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    id_col: str,
    n_perms: int = 50,
    seed: str = "perm",
) -> DataFrame:
    """Monte-Carlo randomization test for the difference of means —
    the assumption-free member of the testing family (Welch assumes
    near-normality, Mann-Whitney tests stochastic dominance; this
    tests the sharp null 'labels don't matter' directly).  Each
    replicate relabels every row independently with P(a) = n_a/n
    (Bernoulli relabeling — the distributed-friendly form; an
    exact count-preserving permutation would need a global shuffle
    per replicate) and recomputes the mean difference; the p-value is
    the add-one-smoothed fraction of replicates at least as extreme
    as the observed difference.

    Output — ONE row: ``(n_a, n_b, obs_diff, p_value, n_perms)``,
    ROUND(6).

    Exactness: relabeling uniforms are the chunked md5 form (one hash
    per ten replicates, 12-bit substrings — the ``poisson_bootstrap_ci``
    machinery); all sums are DECIMAL(18,4); every replicate difference
    is the identical float tree in any engine, so the extremeness
    comparison is deterministic.

    Scale posture: the ×B relabeling is map-side with per-hash-group
    columnar partial sums (2·chunks agg columns, no rows×B explode
    before aggregation); group totals enter as a 1-row broadcast."""
    chunks = 10
    if n_perms % chunks:
        raise ValueError("n_perms must be a multiple of 10")
    two = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    ).select(
        (F.col(group_col) == group_a).alias("is_a"),
        F.col(value_col).cast("decimal(18,4)").alias("v"),
        F.col(id_col).cast("string").alias("__id"),
    )
    totals = two.agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("is_a"), F.col("v"))).alias("s_a"),
        F.sum("v").alias("s_tot"),
    )
    from conte_to_fresco_etl_spark.parallelism import (
        DENSE_BYTES_PER_TASK,
        ensure_min_parallelism,
    )

    hashed = (
        ensure_min_parallelism(two, DENSE_BYTES_PER_TASK)
        .select(
            "v",
            "__id",
            F.explode(
                F.sequence(F.lit(0), F.lit(n_perms // chunks - 1))
            ).alias("g"),
        )
        .select(
            "v",
            "g",
            F.md5(
                F.concat_ws(":", F.lit(seed), F.col("g"), F.col("__id"))
            ).alias("hx"),
        )
    )
    with_u = hashed.select(
        "v",
        "g",
        *[
            (
                F.conv(
                    F.substring(F.col("hx"), 1 + 3 * c, 3), 16, 10
                ).cast("double")
                / F.lit(4096.0)
            ).alias(f"u{c}")
            for c in range(chunks)
        ],
    ).crossJoin(broadcast(totals.select("n_a", "n_b")))
    frac_a = F.col("n_a").cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    per_g = with_u.groupBy("g").agg(
        *[
            agg
            for c in range(chunks)
            for agg in (
                F.sum(
                    F.when(F.col(f"u{c}") < frac_a, F.col("v"))
                ).alias(f"sa{c}"),
                F.sum(
                    F.when(F.col(f"u{c}") < frac_a, 1).otherwise(0)
                )
                .cast("long")
                .alias(f"na{c}"),
            )
        ]
    )
    reps = per_g.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.col(f"sa{c}").alias("sa"),
                        F.col(f"na{c}").alias("na"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("p")
    ).crossJoin(broadcast(totals))
    n_tot = F.col("n_a") + F.col("n_b")
    perm_diff = F.try_divide(
        F.col("p.sa").cast("double"), F.col("p.na").cast("double")
    ) - F.try_divide(
        (F.col("s_tot") - F.col("p.sa")).cast("double"),
        (n_tot - F.col("p.na")).cast("double"),
    )
    obs = F.col("s_a").cast("double") / F.col("n_a").cast(
        "double"
    ) - (F.col("s_tot") - F.col("s_a")).cast("double") / F.col(
        "n_b"
    ).cast("double")
    scored = reps.select(
        F.when(F.abs(perm_diff) >= F.abs(obs), 1)
        .otherwise(0)
        .alias("extreme"),
        F.col("n_a"),
        F.col("n_b"),
        obs.alias("obs"),
    )
    return scored.groupBy("n_a", "n_b", "obs").agg(
        F.round(
            (F.sum("extreme") + F.lit(1)).cast("double")
            / (F.count("*") + F.lit(1)).cast("double"),
            6,
        ).alias("p_value"),
        F.count("*").cast("long").alias("n_perms"),
    ).select(
        "n_a",
        "n_b",
        F.round(F.col("obs"), 6).alias("obs_diff"),
        "p_value",
        "n_perms",
    )


def bh_fdr(
    df: DataFrame,
    p_col: str,
    key_cols: list[str],
    q: float = 0.05,
) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate correction over a table
    of hypotheses: ranks p-values ascending (ties broken by the key
    columns — fully deterministic), computes the step-up adjusted
    p-value ``min_{j>=i}(p_j * m / j)`` capped at 1, and flags
    discoveries at level ``q``.  The multiple-testing control every
    scan over many segments needs before declaring 'significant'
    segments — without it, 5% of segments light up by chance alone.

    Returns the input keys + (p_value, rank, p_adjusted, discovery).

    Scale posture: the input is a HYPOTHESIS table (one row per tested
    segment — dimension-sized by construction), so the two global
    windows (rank, reverse running-min) run over collapsed rows, never
    the raw corpus."""
    m_row = df.agg(F.count("*").alias("__m"))
    order = [F.col(p_col).asc(), *[F.col(c).asc() for c in key_cols]]
    w_rank = Window.orderBy(*order)
    ranked = df.crossJoin(F.broadcast(m_row)).select(
        *key_cols,
        F.col(p_col),
        F.col("__m"),
        F.row_number().over(w_rank).alias("rank"),
    )
    w_rev = Window.orderBy(F.col("rank").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    raw = (
        F.col(p_col)
        * F.col("__m").cast("double")
        / F.col("rank").cast("double")
    )
    return ranked.select(
        *key_cols,
        F.col(p_col).alias("p_value"),
        F.col("rank").cast("long").alias("rank"),
        F.round(
            F.least(F.min(F.round(raw, 12)).over(w_rev), F.lit(1.0)), 6
        ).alias("p_adjusted"),
    ).withColumn(
        "discovery", F.col("p_adjusted") <= F.lit(float(q))
    )


def mann_kendall_trend(
    df: DataFrame,
    group_col: str,
    bucket_col: str,
    value_col: str,
) -> DataFrame:
    """Mann-Kendall trend test + Theil-Sen slope per group — the
    nonparametric "is this metric drifting" monitor a pipeline runs on
    per-bucket (daily) series where a least-squares slope would be
    wrecked by one outlier day (robust twin of ``grouped_linreg``, as
    ``mad_outliers`` is to z-scores).

    Input: one row per (group, bucket) — an already-collapsed series
    (compose with a bucketing aggregate).  ``bucket_col`` must be
    castable to a number (day index, epoch day).

    Output per group: ``(group, n_buckets, s_stat, var_s, z,
    sen_slope)`` — the Kendall S statistic, its tie-corrected variance,
    the continuity-corrected normal z (NULL when var = 0 or n < 2),
    and the Theil-Sen median of pairwise slopes (deterministic median:
    mean of the two middle slopes under a (slope, i, j) total order).

    Scale posture: the pairwise self-join runs on the COLLAPSED series
    (n buckets → n(n-1)/2 pairs per group, e.g. 30 days → 435 rows),
    never on raw events; the rank window for the median is partitioned
    by group over those dimension-sized pair sets.  Tie variance
    derives from per-distinct-value counts, a second dimension-sized
    aggregate."""
    ser = df.select(
        F.col(group_col).alias("g"),
        F.col(bucket_col).cast("double").alias("t"),
        F.col(value_col).cast("double").alias("v"),
    )
    a, b = ser.alias("a"), ser.alias("b")
    pairs = a.join(
        b,
        (F.col("a.g") == F.col("b.g")) & (F.col("a.t") < F.col("b.t")),
    ).select(
        F.col("a.g").alias("g"),
        F.col("a.t").alias("ti"),
        F.col("b.t").alias("tj"),
        F.signum(F.col("b.v") - F.col("a.v")).alias("sgn"),
        F.round(
            (F.col("b.v") - F.col("a.v")) / (F.col("b.t") - F.col("a.t")),
            6,
        ).alias("slope"),
    )
    w_rank = Window.partitionBy("g").orderBy("slope", "ti", "tj")
    ranked = pairs.select(
        "g", "sgn", "slope", F.row_number().over(w_rank).alias("rk")
    )
    # ONE pass over pairs yields both the S statistic and the pair
    # count m the median ranks need (fused so the pair join isn't
    # recomputed per statistic)
    pstats = pairs.groupBy("g").agg(
        F.sum("sgn").cast("long").alias("s_stat"),
        F.count("*").alias("m"),
    )
    # median = mean of the two middle slopes (ranks floor((m+1)/2) and
    # floor((m+2)/2), identical when m is odd): join the pair count
    # back and filter the middle ranks
    mid = (
        ranked.join(broadcast(pstats.select("g", "m")), "g")
        .filter(
            (F.col("rk") == F.floor((F.col("m") + 1) / 2))
            | (F.col("rk") == F.floor((F.col("m") + 2) / 2))
        )
        .groupBy("g")
        .agg(F.round(F.avg("slope"), 6).alias("sen_slope"))
    )
    # one pass over the collapsed series yields bucket count AND tie
    # variance (n_buckets = sum of per-value counts)
    nb_ties = (
        ser.groupBy("g", "v")
        .agg(F.count("*").alias("tn"))
        .groupBy("g")
        .agg(
            F.sum("tn").alias("n_buckets"),
            F.sum(
                F.col("tn") * (F.col("tn") - 1) * (2 * F.col("tn") + 5)
            ).alias("tie_term"),
        )
    )
    joined = (
        nb_ties.join(pstats.select("g", "s_stat"), "g", "left")
        .join(mid, "g", "left")
    )
    n = F.col("n_buckets").cast("double")
    var_s = (
        n * (n - 1) * (2 * n + 5)
        - F.coalesce(F.col("tie_term"), F.lit(0)).cast("double")
    ) / F.lit(18.0)
    s = F.coalesce(F.col("s_stat"), F.lit(0)).cast("double")
    z = F.when(s > 0, (s - 1) / F.sqrt(var_s)).when(
        s < 0, (s + 1) / F.sqrt(var_s)
    ).otherwise(F.lit(0.0))
    return joined.select(
        F.col("g").alias(group_col),
        F.col("n_buckets").cast("long").alias("n_buckets"),
        F.coalesce(F.col("s_stat"), F.lit(0)).cast("long").alias("s_stat"),
        F.round(var_s, 6).alias("var_s"),
        F.when(
            (F.col("n_buckets") < 2) | (var_s <= 0),
            F.lit(None).cast("double"),
        )
        .otherwise(F.round(z, 6))
        .alias("z"),
        F.col("sen_slope"),
    )


def roc_auc(
    df: DataFrame,
    group_col: str,
    label_col: str,
    score_col: str,
) -> DataFrame:
    """Per-group ROC AUC of a score against a binary label, computed
    exactly from midranks (the Mann-Whitney identity
    ``AUC = U_pos / (n_pos · n_neg)``) — the evaluation a quality-
    classifier pipeline runs to rank features/model versions, sibling
    of ``calibration_bins`` (which audits probabilities; AUC audits
    ordering).

    Output per group: ``(group, n_pos, n_neg, auc)`` with ties handled
    by midranks; AUC is NULL when either class is empty.

    Scale posture: the corpus collapses to the per-(group, distinct
    score) count table first; the cumulative midrank window is
    partitioned by group over that collapsed table (|distinct scores|
    rows), exactly the ``mannwhitney_u`` discipline — never a rank
    window over raw rows."""
    base = df.select(
        F.col(group_col).alias("g"),
        F.col(label_col).cast("int").alias("y"),
        F.col(score_col).cast("double").alias("s"),
    ).filter(F.col("y").isNotNull() & F.col("s").isNotNull())
    per_s = base.groupBy("g", "s").agg(
        F.sum(F.when(F.col("y") == 1, 1).otherwise(0)).alias("cp"),
        F.sum(F.when(F.col("y") == 0, 1).otherwise(0)).alias("cn"),
    )
    w = (
        Window.partitionBy("g")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tie_n = F.col("cp") + F.col("cn")
    ranked = per_s.select(
        "g",
        "cp",
        "cn",
        (
            F.lit(2) * (F.sum(tie_n).over(w) - tie_n) + tie_n + F.lit(1)
        ).alias("midrank_x2"),
    )
    agg = ranked.groupBy("g").agg(
        F.sum("cp").alias("n_pos"),
        F.sum("cn").alias("n_neg"),
        F.sum(F.col("cp") * F.col("midrank_x2")).alias("r_pos2"),
    )
    np_, nn_ = F.col("n_pos").cast("double"), F.col("n_neg").cast("double")
    u_pos = (
        F.col("r_pos2").cast("double") / F.lit(2.0)
        - np_ * (np_ + F.lit(1.0)) / F.lit(2.0)
    )
    return agg.select(
        F.col("g").alias(group_col),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        F.when(
            (F.col("n_pos") == 0) | (F.col("n_neg") == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(F.round(u_pos / (np_ * nn_), 6))
        .alias("auc"),
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan-Meier product-limit survival estimate with right
    censoring — the time-to-event summary a retention/reliability
    pipeline runs when not every subject has failed yet: subjects
    still alive at their last observation contribute risk exposure
    without biasing the failure rate downward the way a naive
    "fraction failed by t" does.

    Input: one row per subject with an integer ``duration_col`` and a
    boolean ``event_col`` (TRUE = the event was observed at that
    duration, FALSE = right-censored there).  NULL duration/flag rows
    are excluded up front.

    Output per distinct duration: ``(duration, n_risk, n_events,
    n_censored, survival, std_err)`` — survival is
    ``Π_{t_i ≤ t} (1 − d_i / n_i)`` ROUND(6), std_err the Greenwood
    variance estimate ``S(t)·sqrt(Σ d/(n(n−d)))`` ROUND(6); both pin
    to exactly 0 once ``d_i = n_i`` (everyone at risk fails) instead
    of routing ln(0) through the engine (Spark log(0) is NULL, DuckDB
    -inf — the explicit flag keeps the two engines identical).

    Scale posture: the subject table collapses to the per-distinct-
    duration (d, c) count table FIRST (one partial-aggregated
    shuffle); every window — reverse-cumulative at-risk counts,
    forward-cumulative log-survival and Greenwood sums — runs over
    that collapsed |distinct durations|-row table, the
    ``mannwhitney_u``/``ks_test`` discipline.  The product itself is
    exp(Σ ln(1 − d/n)): a sum, so it parallelizes and never
    underflows the way a literal running product would (plain ln, not
    log1p — the oracle's LN must walk the identical fp path)."""
    subj = df.select(
        F.col(duration_col).cast("long").alias("t"),
        F.col(event_col).cast("boolean").alias("obs"),
    ).filter(F.col("t").isNotNull() & F.col("obs").isNotNull())
    per_t = subj.groupBy("t").agg(
        F.sum(F.when(F.col("obs"), 1).otherwise(0)).alias("d"),
        F.sum(F.when(F.col("obs"), 0).otherwise(1)).alias("c"),
    )
    w_rev = Window.orderBy("t").rowsBetween(0, Window.unboundedFollowing)
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    at_risk = per_t.select(
        "t",
        "d",
        "c",
        F.sum(F.col("d") + F.col("c")).over(w_rev).alias("n_risk"),
    )
    d_ = F.col("d").cast("double")
    n_ = F.col("n_risk").cast("double")
    stepped = at_risk.select(
        "t",
        "n_risk",
        "d",
        "c",
        # log-survival term and Greenwood term, both 0 for censor-only
        # rows (d = 0) and deliberately 0 (not -inf/NaN) where d = n —
        # the dead flag below overrides those rows to exact 0 anyway
        F.when(
            (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
            F.log(F.lit(1.0) - d_ / n_),
        )
        .otherwise(F.lit(0.0))
        .alias("log_term"),
        F.when(
            (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
            d_ / (n_ * (n_ - d_)),
        )
        .otherwise(F.lit(0.0))
        .alias("gw_term"),
        F.when(F.col("d") >= F.col("n_risk"), 1)
        .otherwise(0)
        .alias("dead"),
    )
    cum = stepped.select(
        "t",
        "n_risk",
        "d",
        "c",
        F.sum("log_term").over(w_cum).alias("log_s"),
        F.sum("gw_term").over(w_cum).alias("gw"),
        F.max("dead").over(w_cum).alias("extinct"),
    )
    surv = F.exp(F.col("log_s"))
    return cum.select(
        F.col("t").cast("long").alias("duration"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("n_events"),
        F.col("c").cast("long").alias("n_censored"),
        F.when(F.col("extinct") == 1, F.lit(0.0))
        .otherwise(F.round(surv, 6))
        .alias("survival"),
        F.when(F.col("extinct") == 1, F.lit(0.0))
        .otherwise(F.round(surv * F.sqrt(F.col("gw")), 6))
        .alias("std_err"),
    )


def isotonic_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 20,
) -> DataFrame:
    """Isotonic calibration map for a probabilistic classifier: the
    monotone step function fitted to per-bin positive rates — what a
    pipeline applies when :func:`calibration_bins` shows systematic
    mis-calibration but re-training is off the table.  Where Platt
    scaling assumes a sigmoid shape, isotonic regression assumes only
    monotonicity ("a higher score never means a lower true-positive
    probability"), which is exactly the contract downstream soft
    samplers rely on.

    The fit is the weighted isotonic regression over score-bin
    positive rates, computed through the minimax identity
    ``iso(i) = max_{j ≤ i} min_{k ≥ i} rate(j..k)`` (the closed form
    of pool-adjacent-violators) rather than the sequential PAVA sweep:
    every term is a range aggregate, so the whole fit stays inside the
    engine as joins + windows over the BIN table — nothing iterates,
    nothing collects.

    Output per non-empty bin: ``(bin, n, pos, raw_rate, iso_rate)``,
    rates ROUND(6); ``iso_rate`` is non-decreasing in ``bin`` by
    construction.

    Scale posture: the corpus collapses to ≤ ``n_bins`` rows in ONE
    map-side-combinable aggregation; the O(n_bins²) range table and
    its min/max windows are dimension-sized (n_bins = 20 → 210 rows).
    Range rates are exact integer ratios ROUND(12)-pinned before the
    min/max lattice so both engines walk identical doubles."""
    lbl = F.col(label_col).cast("int")
    binned = df.select(
        F.least(
            F.floor(F.col(score_col) * n_bins).cast("long"),
            F.lit(n_bins - 1),
        ).alias("bin"),
        lbl.alias("y"),
    ).filter(F.col("y").isNotNull())
    bins = binned.groupBy("bin").agg(
        F.count("*").alias("n"), F.sum("y").alias("pos")
    )
    jb = bins.select(F.col("bin").alias("jb"))
    kb = bins.select(F.col("bin").alias("kb"))
    mid = bins.select(
        F.col("bin").alias("mb"),
        F.col("n").alias("mn"),
        F.col("pos").alias("mpos"),
    )
    ranges = (
        jb.join(broadcast(kb), F.col("jb") <= F.col("kb"))
        .join(
            broadcast(mid),
            (F.col("mb") >= F.col("jb")) & (F.col("mb") <= F.col("kb")),
        )
        .groupBy("jb", "kb")
        .agg(
            F.round(
                F.sum("mpos").cast("double") / F.sum("mn").cast("double"),
                12,
            ).alias("rate")
        )
    )
    w_rev = (
        Window.partitionBy("jb")
        .orderBy(F.col("kb").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    m = ranges.select(
        "jb", "kb", F.min("rate").over(w_rev).alias("mrate")
    )
    fit = m.groupBy(F.col("kb").alias("bin")).agg(
        F.max("mrate").alias("iso")
    )
    return (
        bins.join(fit, "bin")
        .select(
            F.col("bin").cast("long").alias("bin"),
            F.col("n").cast("long").alias("n"),
            F.col("pos").cast("long").alias("pos"),
            F.round(
                F.col("pos").cast("double") / F.col("n").cast("double"), 6
            ).alias("raw_rate"),
            F.round(F.col("iso"), 6).alias("iso_rate"),
        )
    )


def ips_offpolicy(
    df: DataFrame,
    slice_col: str,
    action_col: str,
    reward_col: str,
) -> DataFrame:
    """Off-policy evaluation of a UNIFORM target policy from logged
    bandit data via inverse propensity scoring — the estimate an
    experimentation/RLHF pipeline runs before shipping a new routing
    policy: "what reward would uniform exploration have earned, given
    only logs collected under the production policy?".  The logging
    propensity is estimated empirically per (slice, action) — the
    standard plug-in when the logger's true probabilities were not
    recorded.

    Output per slice: ``(slice, n, ips_value, snips_value, ess)`` —
    the unnormalized IPS mean Σ(w·r)/n, the self-normalized SNIPS
    Σ(w·r)/Σw (lower variance, slight bias), and the effective sample
    size (Σw)²/Σw² that says how many logged rows actually back the
    estimate (ESS ≪ n ⇒ the logger rarely took the actions uniform
    would).  Weights are w = (1/K)/p̂(a|slice) with K the number of
    distinct actions observed corpus-wide.  ROUND(6) outputs.

    Scale posture: propensities are ONE (slice, action) count shuffle
    joined back by broadcast (dimension-sized); K enters as a 1-row
    broadcast; the per-row weight/reward products are ROUND(12)-pinned
    and DECIMAL-summed so the per-slice reduce is order-independent —
    one partial-aggregated shuffle over the log, nothing global."""
    base = df.select(
        F.col(slice_col).alias("sl"),
        F.col(action_col).alias("a"),
        F.col(reward_col).cast("double").alias("r"),
    ).filter(F.col("a").isNotNull() & F.col("r").isNotNull())
    prop = base.groupBy("sl", "a").agg(F.count("*").alias("c_sa"))
    sl_tot = prop.groupBy("sl").agg(F.sum("c_sa").alias("c_s"))
    k_tot = prop.select("a").distinct().agg(
        F.count("*").cast("double").alias("k")
    )
    # w = (1/K) / (c_sa / c_s): exact integer ratio under one division
    weighted = (
        base.join(broadcast(prop), ["sl", "a"])
        .join(broadcast(sl_tot), "sl")
        .join(broadcast(k_tot))
        .select(
            "sl",
            "r",
            (
                F.col("c_s").cast("double")
                / (F.col("k") * F.col("c_sa").cast("double"))
            ).alias("w"),
        )
    )

    def _dsum(c, alias):
        return F.sum(F.round(c, 12).cast("decimal(38,12)")).alias(alias)

    agg = weighted.groupBy("sl").agg(
        F.count("*").alias("n"),
        _dsum(F.col("w"), "sw"),
        _dsum(F.col("w") * F.col("r"), "swr"),
        _dsum(F.col("w") * F.col("w"), "sw2"),
    )
    n_ = F.col("n").cast("double")
    sw = F.col("sw").cast("double")
    swr = F.col("swr").cast("double")
    sw2 = F.col("sw2").cast("double")
    return agg.select(
        F.col("sl").alias(slice_col),
        F.col("n").cast("long").alias("n"),
        F.round(swr / n_, 6).alias("ips_value"),
        F.round(F.try_divide(swr, sw), 6).alias("snips_value"),
        F.round(F.try_divide(sw * sw, sw2), 6).alias("ess"),
    )


def conformal_intervals(
    df: DataFrame,
    group_col: str,
    pred_col: str,
    value_col: str,
    split_col: str = "split",
    alpha: float = 0.1,
) -> DataFrame:
    """Split-conformal prediction intervals: from a calibration split's
    absolute residuals, the per-group quantile that guarantees
    ≥ (1−α) marginal coverage for ANY point predictor (no distribution
    or model assumptions — the finite-sample ceil((n+1)(1−α))-th order
    statistic is the whole method), validated on a held-out test
    split.  The uncertainty-quantification companion to
    :func:`calibration_bins`/:func:`isotonic_calibration`: those audit
    and repair probabilities; this wraps a regression score with an
    honest ± band before a pipeline acts on it.

    Input: rows carrying a prediction, the true value, and a
    ``split_col`` with 'cal' and 'test' values (other splits ignored).
    Output per group: ``(group, n_cal, n_test, q_alpha, coverage)`` —
    ``q_alpha`` the conformal half-width, ``coverage`` the observed
    test fraction with |value−pred| ≤ q_alpha (expected ≳ 1−α); both
    NULL when the calibration split is too small (k > n_cal).

    Residuals are ROUND(6)-pinned so both engines select the identical
    order statistic.

    Scale posture: the calibration split collapses to the per-(group,
    distinct residual) count table before the cumulative window (the
    ks_test discipline); group totals and the selected quantiles join
    back by broadcast (dimension-sized); the test pass is one
    map-side-combinable aggregation."""
    res = df.select(
        F.col(group_col).alias("g"),
        F.col(split_col).alias("sp"),
        F.round(
            F.abs(
                F.col(value_col).cast("double")
                - F.col(pred_col).cast("double")
            ),
            6,
        ).alias("r"),
    ).filter(F.col("r").isNotNull())
    cal = res.filter(F.col("sp") == "cal")
    per_r = cal.groupBy("g", "r").agg(F.count("*").alias("c"))
    tot = per_r.groupBy("g").agg(F.sum("c").alias("n_cal"))
    k = F.ceil(
        (F.col("n_cal") + F.lit(1)).cast("double") * F.lit(1.0 - alpha)
    ).cast("long")
    w = (
        Window.partitionBy("g")
        .orderBy("r")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = per_r.select("g", "r", F.sum("c").over(w).alias("cum"))
    q = (
        cum.join(broadcast(tot.select("g", "n_cal", k.alias("k"))), "g")
        .filter(F.col("cum") >= F.col("k"))
        .groupBy("g", "n_cal")
        .agg(F.min("r").alias("q_alpha"))
    )
    test = res.filter(F.col("sp") == "test")
    cover = (
        test.join(broadcast(q), "g")
        .groupBy("g", "n_cal", "q_alpha")
        .agg(
            F.count("*").alias("n_test"),
            F.sum(
                F.when(F.col("r") <= F.col("q_alpha"), 1).otherwise(0)
            ).alias("n_in"),
        )
    )
    return tot.join(cover.drop("n_cal"), "g", "left").select(
        F.col("g").alias(group_col),
        F.col("n_cal").cast("long").alias("n_cal"),
        F.coalesce(F.col("n_test"), F.lit(0)).cast("long").alias("n_test"),
        F.col("q_alpha"),
        F.round(
            F.try_divide(
                F.col("n_in").cast("double"), F.col("n_test").cast("double")
            ),
            6,
        ).alias("coverage"),
    )


def eb_shrinkage(
    df: DataFrame,
    key_col: str,
    success_col,
) -> DataFrame:
    """Empirical-Bayes beta-binomial shrinkage of per-key success
    rates: fit a Beta(α, β) prior to the observed per-key rates by
    method of moments, then report each key's posterior-mean rate
    ``(k + α) / (n + α + β)`` — the standard fix for the
    small-sample-leaderboard problem (a 1/1 key must not outrank a
    950/1000 key).

    Output per key: ``(key, n, k, raw_rate, shrunk_rate, alpha,
    beta)`` — α/β are corpus constants repeated per row (1-row
    broadcast) so the table is self-describing; ROUND(6) doubles.
    Degenerate priors (zero variance across keys, or moments outside
    the beta-feasible region ⇒ method-of-moments concentration ≤ 0)
    fall back to shrunk = raw with NULL α/β — explicit, never a
    negative pseudo-count.

    Scale posture: one map-side-combinable (key) aggregation collapses
    the corpus; the prior moments are ROUND(12)/DECIMAL sums over the
    per-key rate table (order-independent); the final projection joins
    the 1-row prior by broadcast."""
    succ = (
        F.col(success_col) if isinstance(success_col, str) else success_col
    ).cast("int")
    per_key = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count("*").alias("n"), F.sum(succ).alias("k")
    )
    rate = F.round(
        F.col("k").cast("double") / F.col("n").cast("double"), 12
    )

    def _dsum(c, alias):
        return F.sum(F.round(c, 12).cast("decimal(38,12)")).alias(alias)

    mom = per_key.select(rate.alias("r")).agg(
        F.count("*").cast("double").alias("nk"),
        _dsum(F.col("r"), "sr"),
        _dsum(F.col("r") * F.col("r"), "sr2"),
    )
    nk = F.col("nk")
    m = F.col("sr").cast("double") / nk
    v = F.col("sr2").cast("double") / nk - m * m
    common = m * (F.lit(1.0) - m) / v - F.lit(1.0)
    prior = mom.select(
        F.when((v > 0.0) & (common > 0.0), F.round(m * common, 12)).alias(
            "alpha"
        ),
        F.when(
            (v > 0.0) & (common > 0.0),
            F.round((F.lit(1.0) - m) * common, 12),
        ).alias("beta"),
    )
    k_ = F.col("k").cast("double")
    n_ = F.col("n").cast("double")
    shrunk = F.when(
        F.col("alpha").isNotNull(),
        (k_ + F.col("alpha")) / (n_ + F.col("alpha") + F.col("beta")),
    ).otherwise(k_ / n_)
    return per_key.join(F.broadcast(prior)).select(
        F.col("key").alias(key_col),
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        F.round(k_ / n_, 6).alias("raw_rate"),
        F.round(shrunk, 6).alias("shrunk_rate"),
        F.round(F.col("alpha"), 6).alias("alpha"),
        F.round(F.col("beta"), 6).alias("beta"),
    )


def msprt(
    df: DataFrame,
    variant_col: str,
    value_col: str,
    ts_col: str,
    variant_a,
    variant_b,
    tau2: float = 1.0,
    alpha: float = 0.05,
) -> DataFrame:
    """Mixture sequential probability ratio test (mSPRT) — the
    always-valid inference experimentation platforms run instead of a
    fixed-horizon t-test, so the experimenter may peek at every day
    without inflating false positives (Johari et al., "Always Valid
    Inference", public literature).  The daily mean difference
    d_t = mean_A(day) - mean_B(day) is modeled N(theta, sigma^2) with a
    N(0, tau2) mixture prior on theta; after n days with running sum
    S_n the mixture likelihood ratio is

        log Lambda_n = 0.5 * ln(sigma^2 / (sigma^2 + n*tau2))
                     + tau2 * S_n^2 / (2 * sigma^2 * (sigma^2 + n*tau2))

    and H0 rejects at level alpha once Lambda ever exceeds 1/alpha
    (the running-max decision is monotone: once rejected, always
    rejected).  Output per day: (day, n_days, cum_diff, log_lambda,
    reject_h0).

    sigma^2 at day n is the RUNNING sample variance of the first n
    daily diffs — each replayed decision conditions only on data seen
    so far, exactly what a live always-valid deployment would have
    done (an earlier draft estimated sigma^2 from the full series,
    which leaks post-decision days into the replay; ADVICE r7).  Days
    1..(n<2 or zero running variance) emit NULL log_lambda.

    Scale posture: the raw stream collapses to (variant, day) decimal
    sums in ONE map-combinable aggregation; both running moments
    (quantize-then-square on the SAME ROUND(6) value — the Welch/BH
    discipline) come from cumulative windows over the collapsed
    days-sized table only.  Cross-engine exactness: values quantize to
    DECIMAL(18,4) before any sum, daily diffs to DECIMAL(18,6) before
    the second moment and the cumulative sum, and log_lambda is one
    shared double expression tree, ROUND(6)."""
    vq = F.col(value_col).cast("decimal(18,4)")
    day = F.date_trunc("day", F.col(ts_col))
    daily = (
        df.filter(
            F.col(variant_col).isin([variant_a, variant_b])
            & F.col(value_col).isNotNull()
        )
        .groupBy(day.alias("day"))
        .agg(
            F.sum(F.when(F.col(variant_col) == variant_a, vq)).alias("sa"),
            F.count(
                F.when(F.col(variant_col) == variant_a, F.lit(1))
            ).alias("na"),
            F.sum(F.when(F.col(variant_col) == variant_b, vq)).alias("sb"),
            F.count(
                F.when(F.col(variant_col) == variant_b, F.lit(1))
            ).alias("nb"),
        )
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "day",
            F.round(
                F.col("sa").cast("double") / F.col("na").cast("double")
                - F.col("sb").cast("double") / F.col("nb").cast("double"),
                6,
            )
            .cast("decimal(18,6)")
            .alias("dq"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        F.sum("dq").over(w).cast("double").alias("sn"),
        F.sum(
            (F.col("dq") * F.col("dq")).cast("decimal(38,12)")
        ).over(w).cast("double").alias("s2"),
        F.row_number().over(Window.orderBy("day")).cast("long").alias("n"),
    )
    nd = F.col("n").cast("double")
    joined = cum.select(
        "day",
        "n",
        "sn",
        F.when(
            F.col("n") >= 2,
            (F.col("s2") - nd * (F.col("sn") / nd) * (F.col("sn") / nd))
            / (nd - F.lit(1.0)),
        ).alias("var2"),
    )
    t2 = F.lit(float(tau2))
    nd = F.col("n").cast("double")
    denom = F.col("var2") + nd * t2
    log_lambda = (
        F.lit(0.5) * F.log(F.col("var2") / denom)
        + t2 * F.col("sn") * F.col("sn")
        / (F.lit(2.0) * F.col("var2") * denom)
    )
    import math

    crit = F.lit(float(math.log(1.0 / alpha)))
    ll = F.when(
        (F.col("n") >= 2) & (F.col("var2") > 0),
        F.round(log_lambda, 6),
    )
    out = joined.select(
        "day",
        F.col("n").alias("n_days"),
        F.round(F.col("sn"), 6).alias("cum_diff"),
        ll.alias("log_lambda"),
    )
    wmax = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return out.select(
        "day",
        "n_days",
        "cum_diff",
        "log_lambda",
        (F.max("log_lambda").over(wmax) >= crit).alias("reject_h0"),
    )


def logistic_regression_gd(
    df: DataFrame,
    features: dict,
    label,
    lr: float = 0.5,
    steps: int = 3,
    standardize: bool = True,
) -> DataFrame:
    """Distributed logistic-regression training by full-batch gradient
    descent — the "training as aggregation" primitive (each GD step is
    ONE map-combinable pass emitting d+1 gradient sums), sibling to the
    kmeans step / PCA power iteration / BPE merge loop: the per-step
    driver collect is DIMENSION-sized (d+2 numbers), never data.

    ``features``: {name: Column} of real-valued feature expressions
    (rounded to 6 decimals before use); ``label``: boolean/0-1 Column.
    ``standardize`` (default) z-scores each feature first — one extra
    decimal-exact pass (quantize-then-square for the second moment) —
    the textbook conditioning without which raw-scale features stall
    full-batch GD.  Weights start at zero (step 1 is then exactly
    p = 0.5 everywhere — no float divergence at the first step) and
    update as w -= lr * mean((p - y) * x).

    Cross-engine exactness (the oracle unrolls the same steps in SQL):
    per-row gradient and loss contributions are ROUND(9) and summed in
    DECIMAL (order-independent); weight updates are the identical
    double expression both sides; the accuracy predicate compares the
    LOGIT sign (z >= 0 <=> p >= 0.5 exactly) so no sigmoid evaluation
    sits on a decision boundary.

    Output: one (term, value) row per weight ('intercept', feature
    names) plus 'log_loss' and 'accuracy' — weights ROUND(6), metrics
    from one final in-plan aggregation."""
    import math

    names = list(features)
    feats = df.select(
        F.when(label.cast("boolean"), 1).otherwise(0).alias("__y"),
        *[
            F.round(expr.cast("double"), 6).alias(n)
            for n, expr in features.items()
        ],
    )
    if standardize:
        d6 = "decimal(18,6)"
        srow = feats.agg(
            F.count("*").alias("__n"),
            *[F.sum(F.col(n).cast(d6)).alias(f"s_{n}") for n in names],
            *[
                F.sum(
                    (F.col(n).cast(d6) * F.col(n).cast(d6)).cast(
                        "decimal(38,12)"
                    )
                ).alias(f"q_{n}")
                for n in names
            ],
        ).collect()[0]
        cnt = float(srow["__n"])
        if cnt == 0:
            raise ValueError("empty training input")
        cols = [F.col("__y")]
        for n in names:
            mu = float(srow[f"s_{n}"]) / cnt
            var = (float(srow[f"q_{n}"]) - cnt * mu * mu) / cnt
            sd = max(math.sqrt(max(var, 0.0)), 1e-9)
            cols.append(
                F.round((F.col(n) - F.lit(mu)) / F.lit(sd), 6).alias(n)
            )
        feats = feats.select(*cols)
    feats = feats.localCheckpoint(eager=False)

    w = {n: 0.0 for n in names}
    b = 0.0

    def logit():
        z = F.lit(b)
        for n in names:
            z = z + F.lit(w[n]) * F.col(n)
        return z

    dec = "decimal(28,9)"
    for _ in range(int(steps)):
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit()))
        resid = p - F.col("__y").cast("double")
        row = feats.agg(
            F.count("*").alias("__n"),
            F.sum(F.round(resid, 9).cast(dec)).alias("__gb"),
            *[
                F.sum(F.round(resid * F.col(n), 9).cast(dec)).alias(n)
                for n in names
            ],
        ).collect()[0]
        n_rows = float(row["__n"])
        if n_rows == 0:
            raise ValueError("empty training input")
        b = b - lr * (float(row["__gb"]) / n_rows)
        for n in names:
            w[n] = w[n] - lr * (float(row[n]) / n_rows)

    z = logit()
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    yd = F.col("__y").cast("double")
    ll_row = F.round(
        -(yd * F.log(p) + (F.lit(1.0) - yd) * F.log(F.lit(1.0) - p)), 9
    ).cast(dec)
    correct = (z >= 0) == (F.col("__y") == 1)
    metrics = feats.agg(
        F.round(
            F.sum(ll_row).cast("double") / F.count("*").cast("double"), 6
        ).alias("log_loss"),
        F.round(
            F.sum(F.when(correct, 1).otherwise(0)).cast("double")
            / F.count("*").cast("double"),
            6,
        ).alias("accuracy"),
    )
    spark = df.sparkSession
    weights = spark.createDataFrame(
        # 1 slice: one Python-worker eval instead of 32 (r13)
        spark.sparkContext.parallelize(
            [("intercept", round(b, 6))]
            + [(n, round(w[n], 6)) for n in names],
            1,
        ),
        "term string, value double",
    )
    return weights.unionAll(
        metrics.selectExpr(
            "stack(2, 'log_loss', log_loss, 'accuracy', accuracy) "
            "AS (term, value)"
        )
    )


def cohens_kappa(
    df: DataFrame, rater_a: Column, rater_b: Column
) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between two
    categorical labelings (raters, annotation pipelines, a model vs a
    gold set): kappa = (p_o - p_e) / (1 - p_e) with p_o the observed
    agreement rate and p_e the agreement expected from the raters'
    marginal distributions.  Output — ONE row: ``(n, po, pe, kappa)``
    (ROUND 6; kappa NULL when p_e = 1, i.e. both raters constant).

    Scale posture: the corpus collapses to the |A|x|B| contingency
    table in ONE map-combinable shuffle; marginals and the expected
    agreement derive from that table (a category-keyed equi-join of
    the two marginal vectors), and the closing algebra crosses two
    1-row aggregates.  Exactness: every input to the kappa expression
    is an INTEGER count, so both engines evaluate one identical
    double tree."""
    cells = (
        df.select(rater_a.alias("ra"), rater_b.alias("rb"))
        .filter(F.col("ra").isNotNull() & F.col("rb").isNotNull())
        .groupBy("ra", "rb")
        .agg(F.count("*").alias("cnt"))
    )
    obs = cells.agg(
        F.sum("cnt").alias("n"),
        F.sum(F.when(F.col("ra") == F.col("rb"), F.col("cnt"))).alias(
            "agree"
        ),
    )
    rows = cells.groupBy("ra").agg(F.sum("cnt").alias("row_n"))
    colsums = cells.groupBy("rb").agg(F.sum("cnt").alias("col_n"))
    pe_num = (
        rows.join(colsums, rows["ra"] == colsums["rb"])
        .agg(F.sum(F.col("row_n") * F.col("col_n")).alias("pe_num"))
    )
    nd = F.col("n").cast("double")
    po = F.coalesce(F.col("agree"), F.lit(0)).cast("double") / nd
    pe = F.col("pe_num").cast("double") / (nd * nd)
    return obs.crossJoin(broadcast(pe_num)).select(
        F.col("n").cast("long").alias("n"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round(F.try_divide(po - pe, F.lit(1.0) - pe), 6).alias("kappa"),
    )


def fleiss_kappa(
    df: DataFrame, item_col: str, category_col: str
) -> DataFrame:
    """Fleiss' kappa (the unequal-raters generalization): agreement
    among MANY raters assigning categories to items, from a
    long-format ``(item, category)`` frame with one row per rating.
    Per item i with n_i >= 2 ratings and n_ik of category k:
    P_i = (sum_k n_ik^2 - n_i) / (n_i (n_i - 1)); the observed
    agreement is mean(P_i), the expected agreement sum_k p_k^2 with
    p_k the pooled category share.  Output — ONE row:
    ``(n_items, n_ratings, p_bar, p_e, kappa)`` (ROUND 6; kappa NULL
    when p_e = 1).

    Scale posture: one (item, category) count shuffle; per-item P_i
    collapses to |items| rows then one mean; category shares collapse
    to |categories| rows; the closing algebra crosses 1-row
    aggregates.  Exactness: P_i is ROUND(9) then DECIMAL-summed
    (order-independent); p_k^2 squares the SAME ROUND(9) share it
    sums (the Welch/BH quantization discipline)."""
    cells = (
        df.select(
            F.col(item_col).alias("item"),
            F.col(category_col).alias("cat"),
        )
        .filter(F.col("item").isNotNull() & F.col("cat").isNotNull())
        .groupBy("item", "cat")
        .agg(F.count("*").alias("nik"))
    )
    per_item = cells.groupBy("item").agg(
        F.sum("nik").alias("ni"),
        F.sum(F.col("nik") * F.col("nik")).alias("sq"),
    ).filter(F.col("ni") >= 2)
    nid = F.col("ni").cast("double")
    p_i = (F.col("sq").cast("double") - nid) / (nid * (nid - F.lit(1.0)))
    obs = per_item.agg(
        F.count("*").alias("n_items"),
        F.sum("ni").alias("n_ratings"),
        F.sum(F.round(p_i, 9).cast("decimal(28,9)")).alias("p_sum"),
    )
    tot = cells.agg(F.sum("nik").alias("tot_rat"))
    shares = cells.groupBy("cat").agg(F.sum("nik").alias("nk"))
    share = F.round(
        F.col("nk").cast("double") / F.col("tot_rat").cast("double"), 9
    )
    pe_row = (
        shares.crossJoin(broadcast(tot))
        .agg(
            F.sum(
                (share * share).cast("decimal(28,18)")
            ).alias("pe_sum")
        )
    )
    p_bar = F.col("p_sum").cast("double") / F.col("n_items").cast("double")
    p_e = F.col("pe_sum").cast("double")
    return obs.crossJoin(broadcast(pe_row)).select(
        F.col("n_items").cast("long").alias("n_items"),
        F.col("n_ratings").cast("long").alias("n_ratings"),
        F.round(p_bar, 6).alias("p_bar"),
        F.round(p_e, 6).alias("p_e"),
        F.round(
            F.try_divide(p_bar - p_e, F.lit(1.0) - p_e), 6
        ).alias("kappa"),
    )


def mcnemar_test(
    df: DataFrame, subject_col: str, cond_a: Column, cond_b: Column
) -> DataFrame:
    """McNemar's test for paired binary outcomes — did condition A's
    positive rate differ from condition B's ON THE SAME SUBJECTS
    (before/after a launch, two annotation prompts on one corpus)?
    Per subject the outcomes are a = max(cond_a), b = max(cond_b);
    only the DISCORDANT counts matter: n10 (a only) vs n01 (b only),
    chi2 = (|n10 - n01| - 1)^2 / (n10 + n01) with continuity
    correction, NULL when no subject is discordant.  Output — ONE
    row: ``(n_subjects, n01, n10, chi2)``.

    Scale posture: ONE subject-keyed map-combinable aggregation
    collapses the stream to per-subject outcome bits, ONE more to the
    2x2 table — no windows, no joins, no broadcast."""
    per = (
        df.groupBy(F.col(subject_col).alias("subj"))
        .agg(
            F.max(cond_a.cast("int")).alias("a"),
            F.max(cond_b.cast("int")).alias("b"),
        )
    )
    agg = per.agg(
        F.count("*").alias("n_subjects"),
        F.sum(
            F.when((F.col("a") == 0) & (F.col("b") == 1), 1).otherwise(0)
        ).alias("n01"),
        F.sum(
            F.when((F.col("a") == 1) & (F.col("b") == 0), 1).otherwise(0)
        ).alias("n10"),
    )
    d = (F.col("n10") - F.col("n01")).cast("double")
    tot = (F.col("n10") + F.col("n01")).cast("double")
    chi2 = (F.abs(d) - F.lit(1.0)) * (F.abs(d) - F.lit(1.0)) / tot
    return agg.select(
        F.col("n_subjects").cast("long").alias("n_subjects"),
        F.col("n01").cast("long").alias("n01"),
        F.col("n10").cast("long").alias("n10"),
        F.when(tot > 0, F.round(chi2, 6)).alias("chi2"),
    )


def cochran_q(
    df: DataFrame, subject_col: str, treatment_col: str, k: int
) -> DataFrame:
    """Cochran's Q — the k-treatment generalization of McNemar: do k
    related binary treatments (k prompt variants, k filter stages)
    have equal positive rates across subjects?  Input: one row per
    POSITIVE (subject, treatment) observation (duplicates collapse);
    a missing pair is a 0.  With L_i the per-subject positive count
    and G_j the per-treatment total,

        Q = (k-1) * (k * sum G_j^2 - (sum G_j)^2)
            / (k * sum L_i - sum L_i^2)

    which is chi-square with k-1 df under H0.  Subjects positive on
    all k or none contribute 0 to the denominator automatically.
    Output — ONE row: ``(n_subjects, k, q_stat)`` (NULL when the
    denominator is 0, i.e. no subject discriminates).

    Scale posture: two map-combinable collapses (per-subject,
    per-treatment) of the deduplicated pair stream, then 1-row
    algebra over integer sums — identical double tree both engines."""
    pairs = (
        df.select(
            F.col(subject_col).alias("subj"),
            F.col(treatment_col).alias("trt"),
        )
        .filter(F.col("subj").isNotNull() & F.col("trt").isNotNull())
        .distinct()
    )
    li = pairs.groupBy("subj").agg(F.count("*").alias("l"))
    subj_agg = li.agg(
        F.count("*").alias("n_subjects"),
        F.sum("l").alias("sum_l"),
        F.sum(F.col("l") * F.col("l")).alias("sum_l2"),
    )
    gj = pairs.groupBy("trt").agg(F.count("*").alias("g"))
    trt_agg = gj.agg(
        F.sum("g").alias("sum_g"),
        F.sum(F.col("g") * F.col("g")).alias("sum_g2"),
    )
    kd = F.lit(float(k))
    num = (kd - F.lit(1.0)) * (
        kd * F.col("sum_g2").cast("double")
        - F.col("sum_g").cast("double") * F.col("sum_g").cast("double")
    )
    den = kd * F.col("sum_l").cast("double") - F.col("sum_l2").cast(
        "double"
    )
    return subj_agg.crossJoin(broadcast(trt_agg)).select(
        F.col("n_subjects").cast("long").alias("n_subjects"),
        F.lit(int(k)).cast("long").alias("k"),
        F.when(den > 0, F.round(num / den, 6)).alias("q_stat"),
    )


def cronbach_alpha(
    df: DataFrame, subject_col: str, item_col: str, value: Column
) -> DataFrame:
    """Cronbach's alpha — internal-consistency reliability of a
    k-item scale (k quality sub-scores, k rubric dimensions) from a
    long-format ``(subject, item, value)`` frame (a missing pair
    scores 0):

        alpha = k/(k-1) * (1 - sum_i var(item_i) / var(total))

    with POPULATION variances over all n subjects.  Output — ONE row:
    ``(n_subjects, k, item_var_sum, total_var, alpha)`` (ROUND 6;
    NULL when var(total) = 0 or k < 2).

    Scale posture: one (subject, item) collapse; per-item moments and
    per-subject totals are two further map-combinable aggregations
    (absent pairs enter as zeros ARITHMETICALLY — the moments divide
    by the global n, never materializing the dense design); closing
    algebra crosses 1-row aggregates.  Exactness: values quantize to
    DECIMAL(18,6) before every sum; second moments square the SAME
    quantized value."""
    vq = F.round(value, 6).cast("decimal(18,6)")
    cell = (
        df.select(
            F.col(subject_col).alias("subj"),
            F.col(item_col).alias("item"),
            vq.alias("v"),
        )
        .filter(F.col("subj").isNotNull() & F.col("item").isNotNull())
        .groupBy("subj", "item")
        .agg(F.sum("v").alias("v"))
    )
    n_row = cell.agg(
        F.countDistinct("subj").alias("n"),
        F.countDistinct("item").alias("k"),
    )
    per_item = cell.groupBy("item").agg(
        F.sum("v").alias("s1"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,12)")).alias(
            "s2"
        ),
    )
    per_subj = cell.groupBy("subj").agg(F.sum("v").alias("t"))
    subj_m = per_subj.agg(
        F.sum("t").alias("t1"),
        F.sum((F.col("t") * F.col("t")).cast("decimal(38,12)")).alias(
            "t2"
        ),
    )
    nd = F.col("n").cast("double")
    item_var = (
        F.col("s2").cast("double") / nd
        - (F.col("s1").cast("double") / nd)
        * (F.col("s1").cast("double") / nd)
    )
    items_v = per_item.crossJoin(broadcast(n_row)).agg(
        F.sum(F.round(item_var, 9).cast("decimal(28,9)")).alias(
            "item_var_sum"
        ),
        F.max("n").alias("n"),
        F.max("k").alias("k"),
    )
    n2d = F.col("n2").cast("double")
    total_var = (
        F.col("t2").cast("double") / n2d
        - (F.col("t1").cast("double") / n2d)
        * (F.col("t1").cast("double") / n2d)
    )
    tv_row = subj_m.crossJoin(
        broadcast(n_row.select(F.col("n").alias("n2")))
    ).select(F.round(total_var, 9).alias("tv"))
    kd = F.col("k").cast("double")
    ivs = F.col("item_var_sum").cast("double")
    alpha = (
        kd
        / (kd - F.lit(1.0))
        * (F.lit(1.0) - ivs / F.col("tv"))
    )
    return (
        items_v.crossJoin(broadcast(tv_row))
        .select(
            F.col("n").cast("long").alias("n_subjects"),
            F.col("k").cast("long").alias("k"),
            F.round(ivs, 6).alias("item_var_sum"),
            F.round(F.col("tv"), 6).alias("total_var"),
            F.when(
                (F.col("k") >= 2) & (F.col("tv") > 0), F.round(alpha, 6)
            ).alias("alpha"),
        )
    )


def spearman_rho(df: DataFrame, x: Column, y: Column) -> DataFrame:
    """Spearman rank correlation with exact midranks for ties — the
    monotone-association complement to Pearson (robust to any
    monotone transform of either metric).  Output — ONE row:
    ``(n, rho)`` (ROUND 6; NULL when either variable is constant).

    Midranks come from per-distinct-value cumulative counts carried
    DOUBLED as integers (``2·cum_before + tie_n + 1`` — the
    mannwhitney_u discipline), and Pearson is invariant under the
    affine doubling, so rho is computed directly on integer doubled
    midranks: every moment is an exact DECIMAL(38,0) integer sum and
    rho is one double tree.

    Scale posture: one (x, y) cell collapse; each axis's midranks
    come from the DISTRIBUTED prefix sum over its marginal table
    (``parallelism.prefix_sums`` — a continuous metric leaves those
    tables data-sized); two equi-joins re-attach ranks to cells."""
    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    # r13: the cell collapse feeds THREE consumers (both marginal rank
    # tables and the moment join) — share one materialization instead
    # of re-collapsing the raw stream per consumer (batch-1
    # multi-consumer convention; downstream windows are all
    # __pid-partitioned inside prefix_sums, so no guard concern)
    cells = (
        df.select(x.alias("x"), y.alias("y"))
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
        .groupBy("x", "y")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )

    def midranks(axis: str) -> DataFrame:
        marg = cells.groupBy(axis).agg(F.sum("c").alias("tn"))
        return prefix_sums(marg, axis, ["tn"]).select(
            axis,
            (
                F.lit(2) * (F.col("cum_tn") - F.col("tn"))
                + F.col("tn")
                + F.lit(1)
            ).alias(f"m_{axis}"),
        )

    d0 = "decimal(38,0)"
    joined = cells.join(midranks("x"), "x").join(midranks("y"), "y")
    mx, my, c = F.col("m_x"), F.col("m_y"), F.col("c")
    agg = joined.agg(
        F.sum("c").alias("n"),
        F.sum((c * mx).cast(d0)).alias("sx"),
        F.sum((c * my).cast(d0)).alias("sy"),
        F.sum((c * mx * mx).cast(d0)).alias("sxx"),
        F.sum((c * my * my).cast(d0)).alias("syy"),
        F.sum((c * mx * my).cast(d0)).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    vx = nd * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx").cast("double")
    vy = nd * F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy").cast("double")
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.when(
            (vx > 0) & (vy > 0),
            F.round(num / F.sqrt(vx * vy), 6),
        ).alias("rho"),
    )


def kendall_tau_b(df: DataFrame, x: Column, y: Column) -> DataFrame:
    """Kendall's tau-b (tie-corrected) over BOUNDED-domain variables:
    concordant/discordant pair counting on the |X|x|Y| contingency
    table, never on raw rows — pass bucketed/categorical expressions
    (the operator is exact for them; a continuous metric should be
    binned first, which is also what bounds the cell self-join).
    Output — ONE row: ``(n, concordant, discordant, tau_b)``
    (ROUND 6; NULL when either variable is constant).

    Scale posture: one (x, y) cell collapse, then a strictly-upper
    cell self-join over the |cells|² grid (dimension-sized by the
    bounded-domain contract, same class as the isotonic lattice) and
    integer marginal tie terms; tau_b is one double tree over exact
    DECIMAL integer sums."""
    cells = (
        df.select(x.alias("x"), y.alias("y"))
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
        .groupBy("x", "y")
        .agg(F.count("*").alias("c"))
    )
    a = cells.select(
        F.col("x").alias("xa"), F.col("y").alias("ya"), F.col("c").alias("ca")
    )
    b = cells.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"), F.col("c").alias("cb")
    )
    d0 = "decimal(38,0)"
    pair = a.join(
        broadcast(b),
        (F.col("xa") < F.col("xb")) & (F.col("ya") != F.col("yb")),
    ).agg(
        F.sum(
            F.when(
                F.col("ya") < F.col("yb"), F.col("ca") * F.col("cb")
            ).cast(d0)
        ).alias("cc"),
        F.sum(
            F.when(
                F.col("ya") > F.col("yb"), F.col("ca") * F.col("cb")
            ).cast(d0)
        ).alias("dd"),
    )
    tot = cells.agg(F.sum("c").alias("n"))
    # tie terms as Σt² and Σt integer sums; the always-even t(t-1)
    # halves once in double at the end (exact far beyond any bounded
    # domain this operator's contract admits)
    tx = cells.groupBy("x").agg(F.sum("c").alias("t")).agg(
        F.sum((F.col("t") * F.col("t")).cast(d0)).alias("tx2"),
        F.sum(F.col("t").cast(d0)).alias("tx1"),
    )
    ty = cells.groupBy("y").agg(F.sum("c").alias("t")).agg(
        F.sum((F.col("t") * F.col("t")).cast(d0)).alias("ty2"),
        F.sum(F.col("t").cast(d0)).alias("ty1"),
    )
    nd = F.col("n").cast("double")
    n0 = nd * (nd - F.lit(1.0)) / F.lit(2.0)
    cc = F.coalesce(F.col("cc"), F.lit(0)).cast("double")
    dd = F.coalesce(F.col("dd"), F.lit(0)).cast("double")
    n1 = (
        F.col("tx2").cast("double") - F.col("tx1").cast("double")
    ) / F.lit(2.0)
    n2 = (
        F.col("ty2").cast("double") - F.col("ty1").cast("double")
    ) / F.lit(2.0)
    den = (n0 - n1) * (n0 - n2)
    return (
        tot.crossJoin(broadcast(pair))
        .crossJoin(broadcast(tx))
        .crossJoin(broadcast(ty))
        .select(
            F.col("n").cast("long").alias("n"),
            cc.cast("long").alias("concordant"),
            dd.cast("long").alias("discordant"),
            F.when(den > 0, F.round((cc - dd) / F.sqrt(den), 6)).alias(
                "tau_b"
            ),
        )
    )


def partial_correlation(
    df: DataFrame, x: Column, y: Column, z: Column
) -> DataFrame:
    """First-order partial correlation r_xy.z — the association of x
    and y with the confounder z regressed out of both:

        r_xy.z = (r_xy - r_xz r_yz) / sqrt((1-r_xz^2)(1-r_yz^2))

    Output — ONE row: ``(n, r_xy, r_xz, r_yz, partial_r)`` (each
    ROUND 6; partial_r NULL when either conditioning correlation is
    degenerate, |r| = 1, or any variable is constant).

    Scale posture: ONE map-combinable aggregation computes all nine
    moments; every input quantizes to DECIMAL(18,6) and every
    square/cross-product squares the SAME quantized value (the
    Welch/BH discipline), so each pairwise r is one identical double
    tree in both engines."""
    xq = F.round(x, 6).cast("decimal(18,6)")
    yq = F.round(y, 6).cast("decimal(18,6)")
    zq = F.round(z, 6).cast("decimal(18,6)")
    d12 = "decimal(38,12)"
    rows = df.select(
        xq.alias("xq"), yq.alias("yq"), zq.alias("zq")
    ).filter(
        F.col("xq").isNotNull()
        & F.col("yq").isNotNull()
        & F.col("zq").isNotNull()
    )
    agg = rows.agg(
        F.count("*").alias("n"),
        F.sum("xq").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum("zq").alias("sz"),
        F.sum((F.col("xq") * F.col("xq")).cast(d12)).alias("sxx"),
        F.sum((F.col("yq") * F.col("yq")).cast(d12)).alias("syy"),
        F.sum((F.col("zq") * F.col("zq")).cast(d12)).alias("szz"),
        F.sum((F.col("xq") * F.col("yq")).cast(d12)).alias("sxy"),
        F.sum((F.col("xq") * F.col("zq")).cast(d12)).alias("sxz"),
        F.sum((F.col("yq") * F.col("zq")).cast(d12)).alias("syz"),
    )
    nd = F.col("n").cast("double")

    def corr(sab, sa, sb, saa, sbb):
        num = nd * F.col(sab).cast("double") - F.col(sa).cast(
            "double"
        ) * F.col(sb).cast("double")
        va = nd * F.col(saa).cast("double") - F.col(sa).cast(
            "double"
        ) * F.col(sa).cast("double")
        vb = nd * F.col(sbb).cast("double") - F.col(sb).cast(
            "double"
        ) * F.col(sb).cast("double")
        return F.when((va > 0) & (vb > 0), num / F.sqrt(va * vb))

    r_xy = corr("sxy", "sx", "sy", "sxx", "syy")
    r_xz = corr("sxz", "sx", "sz", "sxx", "szz")
    r_yz = corr("syz", "sy", "sz", "syy", "szz")
    den = (F.lit(1.0) - r_xz * r_xz) * (F.lit(1.0) - r_yz * r_yz)
    partial = F.when(den > 0, (r_xy - r_xz * r_yz) / F.sqrt(den))
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.round(r_xy, 6).alias("r_xy"),
        F.round(r_xz, 6).alias("r_xz"),
        F.round(r_yz, 6).alias("r_yz"),
        F.round(partial, 6).alias("partial_r"),
    )


def _daily_means(df: DataFrame, ts_col: str, value_col: str) -> DataFrame:
    """The daily mean series ``(day, v)`` every day-level test below
    starts from: null values drop, ``day`` is ``date_trunc('day')`` of
    the timestamp, and ``v`` is the mean of the DECIMAL(18,4)-quantized
    values, ROUND(6) — the collapse the daily-series oracles mirror.
    One map-combinable shuffle; callers persist, project or cast it."""
    vq = F.col(value_col).cast("decimal(18,4)")
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.date_trunc("day", F.col(ts_col)).alias("day"))
        .agg(
            F.round(
                F.sum(vq).cast("double") / F.count("*").cast("double"), 6
            ).alias("v")
        )
    )


def theil_sen(df: DataFrame, ts_col: str, value_col: str) -> DataFrame:
    """Theil-Sen robust trend: the MEDIAN of all pairwise slopes of
    the daily mean series (up to ~29% outlier days cannot move it —
    the robust sibling of q_trend_slope's least squares), plus the
    median-residual intercept.  Output — ONE row:
    ``(n_days, n_pairs, slope, intercept)`` (ROUND 6; NULL slope
    below two days).

    Scale posture: the raw stream collapses to the daily mean table
    in ONE map-combinable shuffle; pairwise slopes live on the
    |days|² strictly-upper self-join (dimension-sized), and each
    median is an exact order statistic — lower+upper middle averaged
    — selected by ``parallelism.exact_median`` (prefix-sum rank
    intervals over the value marginal), so even a decade-scale daily
    series (~5·10⁷ slope pairs) never funnels through a single sort
    task.  Exactness: daily means ROUND(6), slopes/residuals ROUND(9)
    before selection; selection reads only values, so tie order is
    irrelevant by construction."""
    daily = (
        _daily_means(df, ts_col, value_col)
        .select(
            F.datediff(F.col("day").cast("date"), F.lit("1970-01-01"))
            .cast("long")
            .alias("d"),
            "v",
        )
        # persist, not localCheckpoint: the checkpoint scan would hide
        # the daily AGGREGATE from downstream plans, tripping the
        # raw-row global-window guard on the (days-sized) medians —
        # persist keeps the collapsed lineage visible AND shares the
        # materialization across the self-join sides (session-lived,
        # the ngram_jaccard convention)
        .persist()
    )
    a = daily.select(F.col("d").alias("da"), F.col("v").alias("va"))
    b = daily.select(F.col("d").alias("db"), F.col("v").alias("vb"))
    slopes = a.join(broadcast(b), F.col("da") < F.col("db")).select(
        "da",
        "db",
        F.round(
            (F.col("vb") - F.col("va"))
            / (F.col("db") - F.col("da")).cast("double"),
            9,
        ).alias("slope"),
    )

    from conte_to_fresco_etl_spark.parallelism import exact_median

    med_slope = exact_median(slopes, "slope")
    resid = daily.crossJoin(broadcast(med_slope)).select(
        "d",
        F.round(
            F.col("v") - F.col("med_slope") * F.col("d").cast("double"), 9
        ).alias("r"),
    )
    med_int = exact_median(resid, "r")
    nd_row = daily.agg(F.count("*").alias("n_days"))
    return (
        nd_row.crossJoin(broadcast(med_slope))
        .crossJoin(broadcast(med_int.select(F.col("med_r"))))
        .select(
            F.col("n_days").cast("long").alias("n_days"),
            F.col("m").cast("long").alias("n_pairs"),
            F.when(
                F.col("n_days") >= 2, F.round(F.col("med_slope"), 6)
            ).alias("slope"),
            F.when(F.col("n_days") >= 2, F.round(F.col("med_r"), 6)).alias(
                "intercept"
            ),
        )
    )


def grubbs_statistic(
    df: DataFrame, ts_col: str, value_col: str
) -> DataFrame:
    """Grubbs' outlier statistic on the daily mean series:
    G = max_t |x_t - mean| / sd (sample sd, ddof=1) with the day
    attaining it — the single-most-suspicious-day screen run before
    trusting a metric rollup.  Output — ONE row:
    ``(n_days, g_stat, at_day, side)`` with side 'high'/'low' (NULL
    G below three days or zero variance).

    Scale posture: one daily collapse; moments via
    quantize-then-square decimal sums (1-row broadcast); the argmax
    is a TakeOrdered(1) over the days table with deviations ROUND(9)
    and ties to the earlier day."""
    daily = _daily_means(df, ts_col, value_col).select(
        "day", F.col("v").cast("decimal(18,6)").alias("v")
    )
    stats = daily.agg(
        F.count("*").alias("n"),
        F.sum("v").alias("s1"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,12)")).alias(
            "s2"
        ),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / nd
    var = (F.col("s2").cast("double") - nd * mean * mean) / (
        nd - F.lit(1.0)
    )
    joined = daily.crossJoin(
        broadcast(
            stats.select(
                "n", mean.alias("mu"), F.sqrt(var).alias("sd")
            )
        )
    ).select(
        "day",
        "n",
        "sd",
        F.round(
            F.abs(F.col("v").cast("double") - F.col("mu")), 9
        ).alias("dev"),
        (F.col("v").cast("double") >= F.col("mu")).alias("hi"),
    )
    top = joined.orderBy(F.col("dev").desc(), F.col("day").asc()).limit(1)
    return top.select(
        F.col("n").cast("long").alias("n_days"),
        F.when(
            (F.col("n") >= 3) & (F.col("sd") > 0),
            F.round(F.col("dev") / F.col("sd"), 6),
        ).alias("g_stat"),
        F.col("day").alias("at_day"),
        F.when(F.col("hi"), F.lit("high")).otherwise(F.lit("low")).alias(
            "side"
        ),
    )


def brier_decomposition(
    df: DataFrame, prob: Column, outcome: Column, n_bins: int = 10
) -> DataFrame:
    """Murphy decomposition of the Brier score — reliability (how far
    the forecast bands sit from their realized rates), resolution
    (how much the bands separate the base rate), uncertainty (the
    base rate's own variance):

        brier = reliability - resolution + uncertainty

    the standard diagnostic for a quality/propensity scorer beyond
    one aggregate number.  Output — ONE row: ``(n, brier,
    reliability, resolution, uncertainty)`` (each ROUND 6).

    Scale posture: ONE row-level decimal aggregation (the exact
    Brier sum, quantize-then-square) plus ONE n_bins-sized band
    collapse; the closing algebra crosses the 1-row base rate.
    Exactness: probabilities ROUND(6)/DECIMAL; every squared term
    squares a ROUND(9) value before its decimal sum."""
    pq = F.round(prob, 6).cast("decimal(18,6)")
    y = F.when(outcome.cast("boolean"), 1).otherwise(0)
    rows = df.select(pq.alias("p"), y.alias("y")).filter(
        F.col("p").isNotNull()
    )
    band = F.least(
        F.floor(F.col("p").cast("double") * n_bins).cast("long"),
        F.lit(int(n_bins) - 1),
    )
    d12 = "decimal(38,12)"
    per_row = rows.agg(
        F.count("*").alias("n"),
        F.sum("y").alias("ny"),
        F.sum(
            (
                (F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))
            ).cast(d12)
        ).alias("sq_err"),
    )
    bands = rows.groupBy(band.alias("band")).agg(
        F.count("*").alias("nk"),
        F.sum("y").alias("yk"),
        F.sum("p").alias("pk"),
    )
    nd = F.col("n").cast("double")
    ybar = F.col("ny").cast("double") / nd
    nkd = F.col("nk").cast("double")
    pbar_k = F.col("pk").cast("double") / nkd
    ybar_k = F.col("yk").cast("double") / nkd
    rel_term = F.round(pbar_k - ybar_k, 9)
    res_term = F.round(ybar_k - F.col("ybar"), 9)
    comps = bands.crossJoin(
        broadcast(per_row.select("n", "ny", "sq_err", ybar.alias("ybar")))
    ).agg(
        F.max("n").alias("n"),
        F.max("ny").alias("ny"),
        F.max("sq_err").alias("sq_err"),
        F.max("ybar").alias("ybar"),
        F.sum((nkd * rel_term * rel_term).cast(d12)).alias("rel"),
        F.sum((nkd * res_term * res_term).cast(d12)).alias("res"),
    )
    nd2 = F.col("n").cast("double")
    return comps.select(
        F.col("n").cast("long").alias("n"),
        F.round(F.col("sq_err").cast("double") / nd2, 6).alias("brier"),
        F.round(F.col("rel").cast("double") / nd2, 6).alias(
            "reliability"
        ),
        F.round(F.col("res").cast("double") / nd2, 6).alias(
            "resolution"
        ),
        F.round(
            F.col("ybar") * (F.lit(1.0) - F.col("ybar")), 6
        ).alias("uncertainty"),
    )


def cumulative_gains(
    df: DataFrame, score: Column, label: Column, n_bins: int = 10
) -> DataFrame:
    """Cumulative gains / lift by score band — "take the top X% by
    model score, what fraction of the positives did you capture?" —
    the targeting diagnostic behind every quality-threshold choice.
    Scores bin into ``n_bins`` fixed [0,1) bands (map-side; never a
    global sort); output one row per NON-EMPTY band, descending:
    ``(band, n, pos, cum_frac_pop, cum_frac_pos, lift)`` (ROUND 6;
    lift NULL for an all-negative corpus).

    Scale posture: ONE band collapse, cumulative sums over the
    <= n_bins-row aggregate, totals as a 1-row broadcast."""
    sq = F.round(score, 6).cast("decimal(18,6)")
    y = F.when(label.cast("boolean"), 1).otherwise(0)
    band = F.least(
        F.floor(sq.cast("double") * n_bins).cast("long"),
        F.lit(int(n_bins) - 1),
    )
    bands = (
        df.select(band.alias("band"), y.alias("y"))
        .filter(F.col("band").isNotNull())
        .groupBy("band")
        .agg(F.count("*").alias("n"), F.sum("y").alias("pos"))
    )
    tot = bands.agg(
        F.sum("n").alias("tot_n"), F.sum("pos").alias("tot_pos")
    )
    w = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = bands.select(
        "band",
        "n",
        "pos",
        F.sum("n").over(w).alias("cn"),
        F.sum("pos").over(w).alias("cp"),
    )
    frac_pop = F.col("cn").cast("double") / F.col("tot_n").cast("double")
    frac_pos = F.try_divide(
        F.col("cp").cast("double"), F.col("tot_pos").cast("double")
    )
    return (
        cum.crossJoin(broadcast(tot))
        .select(
            "band",
            F.col("n").cast("long").alias("n"),
            F.col("pos").cast("long").alias("pos"),
            F.round(frac_pop, 6).alias("cum_frac_pop"),
            F.round(frac_pos, 6).alias("cum_frac_pos"),
            F.round(F.try_divide(frac_pos, frac_pop), 6).alias("lift"),
        )
        .orderBy(F.col("band").desc())
    )


def covariate_balance(
    df: DataFrame, treat: Column, covariates: dict
) -> DataFrame:
    """Standardized mean differences across treatment arms for k
    covariates — the |SMD| < 0.1 balance check run before trusting
    any observational comparison:

        smd = (mean_t - mean_c) / sqrt((var_t + var_c) / 2)

    (population variances).  Output — one row per covariate, ordered
    by name: ``(covariate, n_t, n_c, mean_t, mean_c, smd)`` (ROUND 6;
    smd NULL when both variances are 0).

    Scale posture: the covariates unpivot map-side into a long
    (covariate, arm, value) stream and ONE map-combinable aggregation
    per covariate computes both arms' quantized moments — k·|arms|
    output cells, no joins, no windows."""
    t = treat.cast("boolean")
    long_rows = None
    for name, expr in covariates.items():
        vq = F.round(expr, 6).cast("decimal(18,6)")
        part = df.select(
            F.lit(name).alias("cov"), t.alias("t"), vq.alias("v")
        ).filter(F.col("v").isNotNull() & F.col("t").isNotNull())
        long_rows = part if long_rows is None else long_rows.unionAll(part)
    d12 = "decimal(38,12)"
    agg = long_rows.groupBy("cov").agg(
        F.sum(F.when(F.col("t"), 1).otherwise(0)).alias("nt"),
        F.sum(F.when(~F.col("t"), 1).otherwise(0)).alias("nc"),
        F.sum(F.when(F.col("t"), F.col("v"))).alias("st"),
        F.sum(F.when(~F.col("t"), F.col("v"))).alias("sc"),
        F.sum(
            F.when(F.col("t"), (F.col("v") * F.col("v")).cast(d12))
        ).alias("qt"),
        F.sum(
            F.when(~F.col("t"), (F.col("v") * F.col("v")).cast(d12))
        ).alias("qc"),
    )
    ntd, ncd = F.col("nt").cast("double"), F.col("nc").cast("double")
    mt = F.col("st").cast("double") / ntd
    mc = F.col("sc").cast("double") / ncd
    vt = F.col("qt").cast("double") / ntd - mt * mt
    vc = F.col("qc").cast("double") / ncd - mc * mc
    pooled = (vt + vc) / F.lit(2.0)
    return agg.select(
        F.col("cov").alias("covariate"),
        F.col("nt").cast("long").alias("n_t"),
        F.col("nc").cast("long").alias("n_c"),
        F.round(mt, 6).alias("mean_t"),
        F.round(mc, 6).alias("mean_c"),
        F.when(pooled > 0, F.round((mt - mc) / F.sqrt(pooled), 6)).alias(
            "smd"
        ),
    ).orderBy("covariate")


def stratified_ate(
    df: DataFrame, treat: Column, outcome: Column, stratum: Column
) -> DataFrame:
    """Stratified average-treatment-effect estimate — the
    post-stratification / propensity-strata estimator: per stratum
    the arm-mean difference, pooled by stratum share:

        ATE = sum_s (n_s / N) * (mean_t(s) - mean_c(s))

    over strata where BOTH arms appear.  Output — one row per such
    stratum ordered by key, plus the pooled row with
    ``stratum = -1``: ``(stratum, n, n_t, n_c, mean_t, mean_c,
    diff)`` (ROUND 6).

    Scale posture: ONE (stratum) map-combinable moment collapse; the
    pooled row aggregates the |strata|-sized table with the 1-row
    qualifying-N broadcast."""
    t = treat.cast("boolean")
    vq = F.round(outcome, 6).cast("decimal(18,6)")
    per = (
        df.select(
            stratum.cast("long").alias("s"), t.alias("t"), vq.alias("v")
        )
        .filter(
            F.col("s").isNotNull()
            & F.col("t").isNotNull()
            & F.col("v").isNotNull()
        )
        .groupBy("s")
        .agg(
            F.sum(F.when(F.col("t"), 1).otherwise(0)).alias("nt"),
            F.sum(F.when(~F.col("t"), 1).otherwise(0)).alias("nc"),
            F.sum(F.when(F.col("t"), F.col("v"))).alias("st"),
            F.sum(F.when(~F.col("t"), F.col("v"))).alias("sc"),
        )
        .filter((F.col("nt") > 0) & (F.col("nc") > 0))
    )
    mt = F.col("st").cast("double") / F.col("nt").cast("double")
    mc = F.col("sc").cast("double") / F.col("nc").cast("double")
    strata = per.select(
        F.col("s").alias("stratum"),
        (F.col("nt") + F.col("nc")).cast("long").alias("n"),
        F.col("nt").cast("long").alias("n_t"),
        F.col("nc").cast("long").alias("n_c"),
        F.round(mt, 6).alias("mean_t"),
        F.round(mc, 6).alias("mean_c"),
        F.round(mt - mc, 6).alias("diff"),
    ).localCheckpoint(eager=False)
    tot = strata.agg(F.sum("n").alias("tot_n"))
    pooled = (
        strata.crossJoin(broadcast(tot))
        .agg(
            F.max("tot_n").alias("n"),
            F.sum("n_t").alias("n_t"),
            F.sum("n_c").alias("n_c"),
            F.sum(
                (
                    F.col("n").cast("double")
                    / F.col("tot_n").cast("double")
                    * F.round(F.col("diff"), 9)
                ).cast("decimal(38,12)")
            ).alias("wdiff"),
        )
        .select(
            F.lit(-1).cast("long").alias("stratum"),
            F.col("n").cast("long").alias("n"),
            F.col("n_t").cast("long").alias("n_t"),
            F.col("n_c").cast("long").alias("n_c"),
            F.lit(None).cast("double").alias("mean_t"),
            F.lit(None).cast("double").alias("mean_c"),
            F.round(F.col("wdiff").cast("double"), 6).alias("diff"),
        )
    )
    return strata.unionAll(pooled).orderBy("stratum")


def icc_oneway(df: DataFrame, group_col: str, value: Column) -> DataFrame:
    """One-way random-effects intraclass correlation ICC(1) — how
    much of a metric's variance is BETWEEN groups (users, sessions,
    annotators) rather than within: the clustering diagnostic that
    says whether per-row observations are exchangeable or the group
    is the real sampling unit (and thus how badly naive standard
    errors undercount).  Unbalanced-design Searle form with
    k0 = (N - Σn_i²/N) / (m - 1).  Output — ONE row: ``(m_groups, n,
    msb, msw, k0, icc)`` (ROUND 6; NULL icc on degenerate designs).

    Scale posture: ONE group-keyed moment collapse (quantize v to
    DECIMAL(18,6), square the same quantized value), then a
    |groups|-sized aggregate with ROUND(9) decimal sums — nothing
    data-sized past the first shuffle."""
    vq = F.round(value, 6).cast("decimal(18,6)")
    per = (
        df.select(F.col(group_col).alias("g"), vq.alias("v"))
        .filter(F.col("g").isNotNull() & F.col("v").isNotNull())
        .groupBy("g")
        .agg(
            F.count("*").alias("ni"),
            F.sum("v").alias("si"),
            F.sum((F.col("v") * F.col("v")).cast("decimal(38,12)")).alias(
                "qi"
            ),
        )
    )
    nid = F.col("ni").cast("double")
    grp_term = F.round(
        F.col("si").cast("double")
        * F.col("si").cast("double")
        / nid,
        9,
    )
    agg = per.agg(
        F.count("*").alias("m"),
        F.sum("ni").alias("n"),
        F.sum("si").alias("s"),
        F.sum("qi").alias("q"),
        F.sum(F.col("ni") * F.col("ni")).alias("n2"),
        F.sum(grp_term.cast("decimal(28,9)")).alias("gterm"),
    )
    nd, md = F.col("n").cast("double"), F.col("m").cast("double")
    ssb = F.col("gterm").cast("double") - F.col("s").cast(
        "double"
    ) * F.col("s").cast("double") / nd
    ssw = F.col("q").cast("double") - F.col("gterm").cast("double")
    msb = ssb / (md - F.lit(1.0))
    msw = ssw / (nd - md)
    k0 = (nd - F.col("n2").cast("double") / nd) / (md - F.lit(1.0))
    den = msb + (k0 - F.lit(1.0)) * msw
    ok = (F.col("m") >= 2) & (F.col("n") > F.col("m"))
    return agg.select(
        F.col("m").cast("long").alias("m_groups"),
        F.col("n").cast("long").alias("n"),
        F.when(ok, F.round(msb, 6)).alias("msb"),
        F.when(ok, F.round(msw, 6)).alias("msw"),
        F.when(ok, F.round(k0, 6)).alias("k0"),
        F.when(ok & (den > 0), F.round((msb - msw) / den, 6)).alias(
            "icc"
        ),
    )


def friedman_test(
    df: DataFrame,
    subject_col: str,
    treatment_col: str,
    value: Column,
    k: int,
) -> DataFrame:
    """Friedman rank test across k related treatments — the
    nonparametric repeated-measures ANOVA (k prompt variants scored
    per document, k pipeline stages timed per job): within each
    COMPLETE subject (all k treatments present) the treatments rank
    1..k, and

        chi2 = 12 / (n k (k+1)) * sum_j R_j^2  -  3 n (k+1)

    Output — ONE row: ``(n_subjects, k, chi2)`` (ROUND 6; NULL when
    no subject is complete).  Per-subject cell values are the
    quantized means; rank ties break deterministically on the
    treatment key (measure-zero for continuous metrics, and the same
    total order in both engines).

    Scale posture: one (subject, treatment) cell collapse, ranks from
    a SUBJECT-partitioned k-row window (millions of tiny partitions —
    the safe window shape), one treatment-keyed rank-sum collapse,
    1-row closing algebra."""
    vq = F.round(value, 6).cast("decimal(18,6)")
    cell = (
        df.select(
            F.col(subject_col).alias("subj"),
            F.col(treatment_col).alias("trt"),
            vq.alias("v"),
        )
        .filter(
            F.col("subj").isNotNull()
            & F.col("trt").isNotNull()
            & F.col("v").isNotNull()
        )
        .groupBy("subj", "trt")
        .agg(
            F.round(
                F.sum("v").cast("double") / F.count("*").cast("double"),
                6,
            ).alias("v")
        )
    )
    nper = cell.groupBy("subj").agg(F.count("*").alias("kk"))
    complete = cell.join(
        nper.filter(F.col("kk") == int(k)).select("subj"), "subj"
    )
    w = Window.partitionBy("subj").orderBy(
        F.col("v").asc(), F.col("trt").asc()
    )
    ranked = complete.withColumn("r", F.row_number().over(w))
    rsums = ranked.groupBy("trt").agg(
        F.sum("r").alias("rj"), F.count("*").alias("n")
    )
    agg = rsums.agg(
        F.max("n").alias("n"),
        F.sum(F.col("rj") * F.col("rj")).alias("r2"),
    )
    ndd = F.col("n").cast("double")
    kd = F.lit(float(k))
    chi2 = (
        F.lit(12.0) / (ndd * kd * (kd + F.lit(1.0)))
        * F.col("r2").cast("double")
        - F.lit(3.0) * ndd * (kd + F.lit(1.0))
    )
    return agg.select(
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_subjects"),
        F.lit(int(k)).cast("long").alias("k"),
        F.when(F.col("n") >= 1, F.round(chi2, 6)).alias("chi2"),
    )


def mood_median_test(
    df: DataFrame, group_col: str, value: Column
) -> DataFrame:
    """Mood's median test — do k groups share a common median?  The
    coarsest, most outlier-proof k-sample location test: split every
    observation at the POOLED median and chi-square the k x 2
    above/not-above table.  Output — ONE row: ``(n, k_groups,
    median, chi2)`` (ROUND 6; NULL chi2 when a group or side is
    empty-expected).

    The pooled median (lower median: smallest v with cumulative count
    >= ceil(N/2)) comes from per-distinct-value cumulative counts via
    the DISTRIBUTED prefix sum — exact for any tie structure, no
    global sort task.  Scale posture: one (group, value) collapse
    feeds both the value marginal and the per-group split counts; the
    chi-square is |groups|-sized algebra."""
    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    rows = df.select(
        F.col(group_col).alias("g"), value.alias("v")
    ).filter(F.col("g").isNotNull() & F.col("v").isNotNull())
    gv = rows.groupBy("g", "v").agg(F.count("*").alias("c"))
    gv = gv.localCheckpoint(eager=False)
    marg = gv.groupBy("v").agg(F.sum("c").alias("tn"))
    cum = prefix_sums(marg, "v", ["tn"])
    tot = marg.agg(F.sum("tn").alias("n"))
    med = (
        cum.crossJoin(broadcast(tot))
        .filter(
            F.col("cum_tn")
            >= F.ceil(F.col("n").cast("double") / F.lit(2.0))
        )
        .agg(F.min("v").alias("median"))
    )
    split = (
        gv.crossJoin(broadcast(med))
        .groupBy("g")
        .agg(
            F.sum(
                F.when(F.col("v") > F.col("median"), F.col("c")).otherwise(
                    0
                )
            ).alias("above"),
            F.sum("c").alias("ng"),
            F.max("median").alias("median"),
        )
    )
    totals = split.agg(
        F.sum("above").alias("ta"),
        F.sum("ng").alias("n"),
        F.count("*").alias("k"),
        F.max("median").alias("median"),
    )
    j = split.crossJoin(broadcast(totals.select("ta", "n")))
    ngd = F.col("ng").cast("double")
    ea = ngd * F.col("ta").cast("double") / F.col("n").cast("double")
    eb = ngd * (
        F.col("n").cast("double") - F.col("ta").cast("double")
    ) / F.col("n").cast("double")
    oa = F.col("above").cast("double")
    ob = ngd - oa
    term = F.when(
        (ea > 0) & (eb > 0),
        F.round(
            (oa - ea) * (oa - ea) / ea + (ob - eb) * (ob - eb) / eb, 9
        ),
    )
    chi = j.agg(
        F.sum(term.cast("decimal(28,9)")).alias("chi_sum"),
        F.sum(F.when(term.isNull(), 1).otherwise(0)).alias("bad"),
    )
    return (
        totals.crossJoin(broadcast(chi))
        .select(
            F.col("n").cast("long").alias("n"),
            F.col("k").cast("long").alias("k_groups"),
            F.col("median").cast("double").alias("median"),
            F.when(
                F.col("bad") == 0,
                F.round(F.col("chi_sum").cast("double"), 6),
            ).alias("chi2"),
        )
    )


def runs_test(df: DataFrame, ts_col: str, value_col: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of the daily mean
    series around its median: too FEW runs = trending/clustered, too
    MANY = oscillating; the model-free sanity check behind "is this
    metric drifting or just noisy".  Days equal to the median drop
    (the standard convention).  Output — ONE row: ``(n_days, n_pos,
    n_neg, runs, z)`` (ROUND 6; NULL z when either side is empty or
    the variance degenerates).

    Scale posture: one daily collapse; the median is an exact order
    statistic selected by ``parallelism.kth_element`` (prefix-sum rank
    intervals — no sort task); signs and the run count come from one
    lag window over the collapsed days-sized table (its only upstream
    join is the structurally 1-row median cross, so the window input
    stays days-sized by construction)."""
    from conte_to_fresco_etl_spark.parallelism import kth_element
    # persist keeps the daily aggregate visible (see theil_sen)
    daily = _daily_means(df, ts_col, value_col).persist()
    cnt = daily.agg(F.count("*").alias("nd"))
    # the lower-middle convention this test has always used:
    # rank ceil(nd / 2) — the k-th VALUE is tie-order independent,
    # so the marginal-interval selection is exact
    med = kth_element(
        daily,
        "v",
        lambda m: [F.ceil(m.cast("double") / F.lit(2.0))],
        out_col="median",
    ).select("median")
    signs = (
        daily.crossJoin(broadcast(med))
        .filter(F.col("v") != F.col("median"))
        .select("day", (F.col("v") > F.col("median")).alias("s"))
    )
    lw = Window.orderBy("day")
    runs = signs.select(
        "s",
        F.when(
            F.lag("s").over(lw).isNull()
            | (F.lag("s").over(lw) != F.col("s")),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    ).agg(
        F.sum(F.when(F.col("s"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(~F.col("s"), 1).otherwise(0)).alias("n2"),
        F.sum("brk").alias("runs"),
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    nn = n1d + n2d
    mu = F.lit(2.0) * n1d * n2d / nn + F.lit(1.0)
    var = (
        F.lit(2.0)
        * n1d
        * n2d
        * (F.lit(2.0) * n1d * n2d - nn)
        / (nn * nn * (nn - F.lit(1.0)))
    )
    return runs.crossJoin(broadcast(cnt)).select(
        F.col("nd").cast("long").alias("n_days"),
        F.col("n1").cast("long").alias("n_pos"),
        F.col("n2").cast("long").alias("n_neg"),
        F.col("runs").cast("long").alias("runs"),
        F.when(
            (F.col("n1") > 0) & (F.col("n2") > 0) & (var > 0),
            F.round((F.col("runs").cast("double") - mu) / F.sqrt(var), 6),
        ).alias("z"),
    )


def hodges_lehmann(
    df: DataFrame, ts_col: str, value_col: str
) -> DataFrame:
    """Hodges-Lehmann pseudo-median of the daily mean series: the
    median of all Walsh averages (v_i + v_j)/2, i <= j — the location
    estimator paired with the signed-rank test family (up to ~29%
    wild days cannot move it, yet it is far more efficient than the
    plain median under clean data).  Output — ONE row: ``(n_days,
    n_pairs, hl)`` (ROUND 6).

    Scale posture: one daily collapse, Walsh averages on the
    |days|(|days|+1)/2 self-join (dimension-sized), the median an
    exact lower+upper-middle order statistic selected by
    ``parallelism.exact_median`` (prefix-sum rank intervals over the
    Walsh-value marginal — the theil_sen discipline; no single sort
    task even at decade-scale pair counts)."""
    daily = (
        _daily_means(df, ts_col, value_col)
        .select(
            F.datediff(F.col("day").cast("date"), F.lit("1970-01-01"))
            .cast("long")
            .alias("d"),
            "v",
        )
        .persist()  # persist, not localCheckpoint (see theil_sen)
    )
    a = daily.select(F.col("d").alias("da"), F.col("v").alias("va"))
    b = daily.select(F.col("d").alias("db"), F.col("v").alias("vb"))
    walsh = a.join(broadcast(b), F.col("da") <= F.col("db")).select(
        "da",
        "db",
        F.round((F.col("va") + F.col("vb")) / F.lit(2.0), 9).alias("w"),
    )
    from conte_to_fresco_etl_spark.parallelism import exact_median

    med = exact_median(walsh, "w", out_col="hl")
    nd_row = daily.agg(F.count("*").alias("n_days"))
    return nd_row.crossJoin(broadcast(med)).select(
        F.col("n_days").cast("long").alias("n_days"),
        F.col("m").cast("long").alias("n_pairs"),
        F.round(F.col("hl"), 6).alias("hl"),
    )


def pettitt_test(df: DataFrame, ts_col: str, value_col: str) -> DataFrame:
    """Pettitt changepoint test — the rank-based (distribution-free)
    single-changepoint locator: U_t sums the Mann-Whitney sign
    comparisons of days 1..t against days t+1..n, K = max_t |U_t|
    marks the most likely break, with the standard approximation
    p ≈ 2·exp(−6K²/(n³+n²)).  The nonparametric complement to the
    gated CUSUM/changepoint detectors (level shifts in heavy-tailed
    metrics where mean-based statistics wash out).  Output — ONE row:
    ``(n_days, k_stat, at_day, p_value)`` (NULL below three days).

    Exactness: with midranks carried DOUBLED as integers (the
    mannwhitney discipline), U_t = cumsum(midrank_x2) − t(n+1) is an
    exact integer for any tie structure.  Scale posture: one daily
    collapse; midranks from the DISTRIBUTED prefix sum over the
    distinct-value marginal; one cumulative window + argmax over the
    days-sized table."""
    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    daily = _daily_means(df, ts_col, value_col).persist()
    marg = daily.groupBy("v").agg(F.count("*").alias("tn"))
    ranks = prefix_sums(marg, "v", ["tn"]).select(
        "v",
        (
            F.lit(2) * (F.col("cum_tn") - F.col("tn"))
            + F.col("tn")
            + F.lit(1)
        ).alias("m2"),
    )
    cnt = daily.agg(F.count("*").alias("n"))
    # U_t = cumsum(midrank_x2) - t(n+1): BOTH running quantities come
    # from ONE distributed prefix scan over the day-keyed table (the
    # row index t is the cumsum of 1) — no global window anywhere,
    # even though the input is only days-sized (house discipline:
    # every cumulative shape rides prefix_sums)
    scanned = prefix_sums(
        daily.join(ranks, "v").withColumn("__one", F.lit(1)),
        "day",
        ["m2", "__one"],
    )
    u = (
        scanned.crossJoin(broadcast(cnt))
        .select(
            "day",
            "n",
            (
                F.col("cum_m2")
                - F.col("cum___one") * (F.col("n") + 1)
            ).alias("ut"),
            F.col("cum___one").alias("t"),
        )
        .filter(F.col("t") < F.col("n"))
    )
    top = u.orderBy(
        F.abs(F.col("ut")).desc(), F.col("day").asc()
    ).limit(1)
    nd = F.col("n").cast("double")
    k = F.abs(F.col("ut")).cast("double")
    p = F.lit(2.0) * F.exp(
        F.lit(-6.0) * k * k / (nd * nd * nd + nd * nd)
    )
    return top.select(
        F.col("n").cast("long").alias("n_days"),
        F.when(F.col("n") >= 3, F.abs(F.col("ut")).cast("long")).alias(
            "k_stat"
        ),
        F.col("day").alias("at_day"),
        F.when(F.col("n") >= 3, F.round(F.least(p, F.lit(1.0)), 6)).alias(
            "p_value"
        ),
    )


def ndcg_at_k(
    df: DataFrame, id_col: str, score: Column, gain: Column, k: int = 20
) -> DataFrame:
    """nDCG@k of a scorer against graded relevance — the ranking-
    quality metric for "does the model score ORDER the items like the
    labels grade them", complementing the binary ROC/lift views.
    DCG = Σ gain_i / log2(i+1) over the score-ranked top k; the
    ideal DCG ranks by the gains themselves.  Output — ONE row:
    ``(k, dcg, idcg, ndcg)`` (ROUND 6; ndcg NULL when every gain in
    the ideal top-k is zero).

    Scale posture: both rankings are TakeOrdered(k) (per-partition
    pre-reduction, never a full sort); positions come from k-row
    windows above the limits; ties break on the id in BOTH rankings
    so the two engines pick identical sets.  Per-position terms are
    ROUND(9) decimal sums."""
    rows = df.select(
        F.col(id_col).alias("id"),
        F.round(score, 6).alias("s"),
        gain.cast("double").alias("g"),
    ).filter(
        F.col("id").isNotNull()
        & F.col("s").isNotNull()
        & F.col("g").isNotNull()
    )

    def dcg_of(frame: DataFrame, order) -> DataFrame:
        top = frame.orderBy(*order).limit(int(k))
        wpos = Window.orderBy(*order)
        pos = top.withColumn("pos", F.row_number().over(wpos))
        term = F.round(
            F.col("g")
            / (F.log(F.lit(2.0) + (F.col("pos") - 1).cast("double"))
               / F.log(F.lit(2.0))),
            9,
        )
        return pos.agg(
            F.sum(term.cast("decimal(28,9)")).alias("dcg_sum")
        )

    dcg = dcg_of(rows, [F.col("s").desc(), F.col("id").asc()])
    idcg = dcg_of(rows, [F.col("g").desc(), F.col("id").asc()])
    return (
        dcg.crossJoin(broadcast(idcg.select(F.col("dcg_sum").alias("i_sum"))))
        .select(
            F.lit(int(k)).cast("long").alias("k"),
            F.round(F.col("dcg_sum").cast("double"), 6).alias("dcg"),
            F.round(F.col("i_sum").cast("double"), 6).alias("idcg"),
            F.when(
                F.col("i_sum").cast("double") > 0,
                F.round(
                    F.col("dcg_sum").cast("double")
                    / F.col("i_sum").cast("double"),
                    6,
                ),
            ).alias("ndcg"),
        )
    )


def granger_lag1(
    df: DataFrame,
    ts_col: str,
    y_value: Column,
    x_value: Column,
) -> DataFrame:
    """Lag-1 Granger causality between two daily series: does
    yesterday's x improve today's y prediction beyond yesterday's y?
    Compares the restricted OLS y_t ~ y_{t-1} against the unrestricted
    y_t ~ y_{t-1} + x_{t-1} via the F statistic
    ((RSS_r - RSS_u) / 1) / (RSS_u / (n - 3)) — the standard lead-lag
    screen before trusting a metric as a leading indicator.  Output —
    ONE row: ``(n, rss_r, rss_u, f_stat)`` (ROUND 6; NULL on
    degenerate designs: n < 4, constant regressors, or singular
    normal equations).

    Scale posture: the raw stream collapses to the (day, ȳ, x̄) table
    in ONE map-combinable aggregation; lags come from one window over
    the collapsed days; both regressions are closed forms over nine
    ROUND(9)/decimal moment sums — no iteration, nothing data-sized
    past the first shuffle."""
    day = F.date_trunc("day", F.col(ts_col))
    daily = (
        df.groupBy(day.alias("day"))
        .agg(
            F.round(
                F.sum(
                    F.round(y_value, 4).cast("decimal(18,4)")
                ).cast("double")
                / F.count(y_value).cast("double"),
                6,
            ).alias("y"),
            F.round(
                F.sum(
                    F.round(x_value, 4).cast("decimal(18,4)")
                ).cast("double")
                / F.count(x_value).cast("double"),
                6,
            ).alias("x"),
        )
        .filter(F.col("y").isNotNull() & F.col("x").isNotNull())
        .persist()  # the lag window must see the aggregate (guard)
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        F.col("y").alias("yt"),
        F.lag("y").over(w).alias("z1"),
        F.lag("x").over(w).alias("z2"),
    ).filter(F.col("z1").isNotNull() & F.col("z2").isNotNull())
    d12 = "decimal(38,12)"

    def q(c):
        return F.round(c, 9).cast("decimal(28,9)")

    mom = lagged.agg(
        F.count("*").alias("n"),
        F.sum(q(F.col("yt"))).alias("sy"),
        F.sum(q(F.col("z1"))).alias("s1"),
        F.sum(q(F.col("z2"))).alias("s2"),
        F.sum((F.col("yt") * F.col("yt")).cast(d12)).alias("syy"),
        F.sum((F.col("z1") * F.col("z1")).cast(d12)).alias("s11"),
        F.sum((F.col("z2") * F.col("z2")).cast(d12)).alias("s22"),
        F.sum((F.col("z1") * F.col("yt")).cast(d12)).alias("s1y"),
        F.sum((F.col("z2") * F.col("yt")).cast(d12)).alias("s2y"),
        F.sum((F.col("z1") * F.col("z2")).cast(d12)).alias("s12"),
    )
    nd = F.col("n").cast("double")

    def c(name):
        return F.col(name).cast("double")

    # centered second moments
    c11 = c("s11") - c("s1") * c("s1") / nd
    c22 = c("s22") - c("s2") * c("s2") / nd
    c12 = c("s12") - c("s1") * c("s2") / nd
    c1y = c("s1y") - c("s1") * c("sy") / nd
    c2y = c("s2y") - c("s2") * c("sy") / nd
    cyy = c("syy") - c("sy") * c("sy") / nd
    rss_r = F.when(c11 > 0, cyy - c1y * c1y / c11)
    det = c11 * c22 - c12 * c12
    b1 = (c1y * c22 - c2y * c12) / det
    b2 = (c2y * c11 - c1y * c12) / det
    rss_u = F.when(det > 0, cyy - b1 * c1y - b2 * c2y)
    f_stat = F.when(
        (F.col("n") >= 4) & (rss_u > 0),
        (rss_r - rss_u) / (rss_u / (nd - F.lit(3.0))),
    )
    return mom.select(
        F.col("n").cast("long").alias("n"),
        F.round(rss_r, 6).alias("rss_r"),
        F.round(rss_u, 6).alias("rss_u"),
        F.round(f_stat, 6).alias("f_stat"),
    )


def cramers_v(df: DataFrame, a: Column, b: Column) -> DataFrame:
    """Cramér's V — the [0, 1] strength-of-association for two
    categorical variables (the effect size the chi-square test
    itself refuses to be): V = sqrt(chi2 / (n * (min(r,c) - 1))).
    Output — ONE row: ``(n, r, c, chi2, v)`` (ROUND 6; NULL when
    either variable is constant).

    The chi-square runs over the FULL r x c grid (zero cells
    contribute their expectation): the grid is the cross join of the
    two DIMENSION-sized marginal tables left-joined to the observed
    cells — never a row-level operation.  Exactness: expectations are
    double trees over integer counts; per-cell terms ROUND(9) then
    DECIMAL-summed."""
    cells = (
        df.select(a.alias("ra"), b.alias("rb"))
        .filter(F.col("ra").isNotNull() & F.col("rb").isNotNull())
        .groupBy("ra", "rb")
        .agg(F.count("*").alias("cnt"))
    ).localCheckpoint(eager=False)
    rows = cells.groupBy("ra").agg(F.sum("cnt").alias("row_n"))
    colsums = cells.groupBy("rb").agg(F.sum("cnt").alias("col_n"))
    tot = cells.agg(F.sum("cnt").alias("n"))
    grid = (
        rows.crossJoin(colsums)
        .join(cells, ["ra", "rb"], "left")
        .crossJoin(broadcast(tot))
    )
    e = (
        F.col("row_n").cast("double")
        * F.col("col_n").cast("double")
        / F.col("n").cast("double")
    )
    o = F.coalesce(F.col("cnt"), F.lit(0)).cast("double")
    term = F.round((o - e) * (o - e) / e, 9)
    agg = grid.agg(
        F.max("n").alias("n"),
        F.countDistinct("ra").alias("r"),
        F.countDistinct("rb").alias("c"),
        F.sum(term.cast("decimal(28,9)")).alias("chi2_sum"),
    )
    nd = F.col("n").cast("double")
    kmin = F.least(F.col("r"), F.col("c")).cast("double") - F.lit(1.0)
    chi2 = F.col("chi2_sum").cast("double")
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("r").cast("long").alias("r"),
        F.col("c").cast("long").alias("c"),
        F.round(chi2, 6).alias("chi2"),
        F.when(kmin > 0, F.round(F.sqrt(chi2 / (nd * kmin)), 6)).alias(
            "v"
        ),
    )


def weighted_kappa(
    df: DataFrame, rater_a: Column, rater_b: Column
) -> DataFrame:
    """Quadratically-weighted Cohen's kappa for ORDINAL integer
    ratings — near-misses between adjacent grades cost (i-j)² instead
    of the full disagreement plain kappa charges (the standard
    agreement metric for graded quality labels):

        wk = 1 - Σ w_ij O_ij / Σ w_ij E_ij,  w_ij = (i - j)²

    Output — ONE row: ``(n, wkappa)`` (ROUND 6; NULL when the
    expected disagreement is 0 — both raters constant).

    Scale posture: the cohens_kappa shape — one contingency collapse,
    the weighted sums over the full dimension-sized grid (cross join
    of the two marginal vectors, zero cells contributing only to E),
    1-row closing algebra on integer counts."""
    cells = (
        df.select(
            rater_a.cast("long").alias("ra"),
            rater_b.cast("long").alias("rb"),
        )
        .filter(F.col("ra").isNotNull() & F.col("rb").isNotNull())
        .groupBy("ra", "rb")
        .agg(F.count("*").alias("cnt"))
    ).localCheckpoint(eager=False)
    rows = cells.groupBy("ra").agg(F.sum("cnt").alias("row_n"))
    colsums = cells.groupBy("rb").agg(F.sum("cnt").alias("col_n"))
    tot = cells.agg(F.sum("cnt").alias("n"))
    grid = (
        rows.crossJoin(colsums)
        .join(cells, ["ra", "rb"], "left")
        .crossJoin(broadcast(tot))
    )
    wd = (F.col("ra") - F.col("rb")) * (F.col("ra") - F.col("rb"))
    o_num = F.sum(
        (wd * F.coalesce(F.col("cnt"), F.lit(0))).cast("decimal(38,0)")
    )
    e_num = F.sum(
        F.round(
            wd.cast("double")
            * F.col("row_n").cast("double")
            * F.col("col_n").cast("double")
            / F.col("n").cast("double"),
            9,
        ).cast("decimal(28,9)")
    )
    agg = grid.agg(
        F.max("n").alias("n"),
        o_num.alias("wo"),
        e_num.alias("we"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.when(
            F.col("we").cast("double") > 0,
            F.round(
                F.lit(1.0)
                - F.col("wo").cast("double")
                / F.col("we").cast("double"),
                6,
            ),
        ).alias("wkappa"),
    )


def exact_quantiles(
    df: DataFrame, value_col: str, ps: list[float]
) -> DataFrame:
    """Exact type-1 quantiles of a data-sized column in ONE pass over
    the value marginal: for each p, the value at rank ``ceil(p * m)``
    — selected by the prefix-sum rank-interval discipline
    (``parallelism.kth_element``'s shape, vectorized over all the
    requested ranks at once), never a global sort.  Output — ONE row:
    ``(m, q_<p>...)``; the exact complement to the approximate
    percentile_approx/quantile-sketch operators when the report needs
    the true order statistic at any scale.

    Cross-engine exactness: rank expressions are computed with the
    IDENTICAL double arithmetic on both sides (``ceil(p * m)`` with p
    the same literal), so even where p*m sits on an IEEE boundary the
    two engines pick the same row."""
    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    # r14: the marginal is pinned once and shared by the range sample
    # job, the cumsum chain AND the total (Σ marginal counts ≡ row
    # count, exact integer identity) — previously the total was a
    # second full input scan and the sample job a third.
    marg = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(value_col)
        .agg(F.count("*").alias("__cnt"))
        .localCheckpoint(eager=False)
    )
    cum = prefix_sums(
        marg, value_col, ["__cnt"], prefix="__cm_", input_pinned=True
    )
    tot = marg.agg(F.sum("__cnt").alias("m"))
    joined = cum.join(broadcast(tot), F.lit(True))
    picks = []
    for p in ps:
        k = F.ceil(F.lit(float(p)) * F.col("m").cast("double"))
        cond = (F.col("__cm___cnt") >= k) & (
            (F.col("__cm___cnt") - F.col("__cnt")) < k
        )
        tag = str(p).replace("0.", "").replace(".", "_")
        picks.append(
            F.max(F.when(cond, F.col(value_col))).alias(f"q_{tag}")
        )
    return joined.agg(F.max("m").alias("m"), *picks)


def weighted_median(
    df: DataFrame, value_col: str, weight_col: str
) -> DataFrame:
    """Exact lower weighted median: the smallest value whose inclusive
    cumulative weight reaches half the total — selected from the
    value-marginal weight table via the distributed prefix sum with
    the comparison kept in DOUBLED integers (``2*cum >= W``), so tie
    structure and floating error cannot move the pick.  Output — ONE
    row: ``(total_weight, w_median)``."""
    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    rows = df.filter(
        F.col(value_col).isNotNull() & F.col(weight_col).isNotNull()
    ).select(
        F.col(value_col).alias("__v"),
        F.col(weight_col).cast("long").alias("__w"),
    )
    # r14: pinned marginal shared by sample job, cumsum and the total
    # (Σ per-value weight sums ≡ the total weight, exact integer
    # identity) — drops a second full input scan (see exact_quantiles)
    marg = rows.groupBy("__v").agg(F.sum("__w").alias("__mw")) \
        .localCheckpoint(eager=False)
    cum = prefix_sums(
        marg, "__v", ["__mw"], prefix="__cm_", input_pinned=True
    )
    tot = marg.agg(F.sum("__mw").alias("total_weight"))
    cond = (
        (F.lit(2) * F.col("__cm___mw") >= F.col("total_weight"))
        & (
            F.lit(2) * (F.col("__cm___mw") - F.col("__mw"))
            < F.col("total_weight")
        )
    )
    return (
        cum.join(broadcast(tot), cond)
        .agg(
            F.max("total_weight").alias("total_weight"),
            F.max("__v").alias("w_median"),
        )
    )


def trimmed_mean(
    df: DataFrame, value_col: str, trim: float = 0.1
) -> DataFrame:
    """Exact two-sided trimmed mean: drop the lowest and highest
    ``floor(trim * m)`` observations BY RANK, average the rest — the
    outlier-hard location summary between the mean and the median.
    Fully distributed: each value-marginal row contributes
    ``overlap([cum-cnt, cum], (lo, hi]) * value`` to a decimal sum, so
    no row ever needs a global sort or a single task.  Output — ONE
    row: ``(m, n_kept, trimmed_mean)`` (ROUND 6; NULL when trimming
    empties the sample)."""
    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    # r14: the marginal is pinned once and shared by the range sample
    # job, the cumsum chain AND the total (Σ marginal counts ≡ row
    # count, exact integer identity) — previously the total was a
    # second full input scan and the sample job a third.
    marg = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(value_col)
        .agg(F.count("*").alias("__cnt"))
        .localCheckpoint(eager=False)
    )
    cum = prefix_sums(
        marg, value_col, ["__cnt"], prefix="__cm_", input_pinned=True
    )
    tot = marg.agg(F.sum("__cnt").alias("m"))
    lo = F.floor(F.lit(float(trim)) * F.col("m").cast("double"))
    hi = F.col("m") - lo
    overlap = F.greatest(
        F.lit(0),
        F.least(F.col("__cm___cnt"), hi)
        - F.greatest(F.col("__cm___cnt") - F.col("__cnt"), lo),
    )
    # decimal(value) x integer overlap == summing ROUND(value, 6)
    # `overlap` times — exactly the per-row decimal sum the oracle
    # spells, for ANY duplicate multiplicity
    contrib = (
        F.round(F.col(value_col).cast("double"), 6).cast("decimal(28,6)")
        * overlap.cast("decimal(10,0)")
    ).cast("decimal(28,6)")
    return (
        cum.join(broadcast(tot), F.lit(True))
        .agg(
            F.max("m").alias("m"),
            F.sum(overlap).cast("long").alias("n_kept"),
            F.sum(contrib).alias("__s"),
        )
        .select(
            "m",
            "n_kept",
            F.when(
                F.col("n_kept") > 0,
                F.round(
                    F.col("__s").cast("double")
                    / F.col("n_kept").cast("double"),
                    6,
                ),
            ).alias("trimmed_mean"),
        )
    )


def kruskal_wallis(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Kruskal-Wallis H test: the k-sample generalization of
    Mann-Whitney — do any of the groups stochastically dominate?
    H = 12/(N(N+1)) * sum_g R_g^2/n_g - 3(N+1), with the standard tie
    correction C = 1 - sum(t^3 - t)/(N^3 - N).  Output — ONE row:
    ``(n, k_groups, h_stat, h_corrected)`` (ROUND 6; NULL when C
    degenerates to 0, i.e. every value tied).

    Scale posture: midranks come from the DISTRIBUTED prefix sum over
    the pooled value marginal (the Mann-Whitney doubled-integer
    discipline — exact for any tie structure); per-group rank sums are
    one map-combinable aggregation; the k-row collapse carries
    ROUND(6)-pinned decimal terms so the cross-group sum is
    order-independent."""
    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    vals = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(F.col(group_col).alias("__g"), F.col(value_col).alias("__v"))
    marg = vals.groupBy("__v").agg(F.count("*").alias("__tn"))
    ranks = prefix_sums(marg, "__v", ["__tn"], prefix="__cm_").select(
        "__v",
        "__tn",
        (
            F.lit(2) * (F.col("__cm___tn") - F.col("__tn"))
            + F.col("__tn")
            + F.lit(1)
        ).alias("__m2"),
    )
    per_g = (
        vals.join(ranks.select("__v", "__m2"), "__v")
        .groupBy("__g")
        .agg(F.sum("__m2").alias("__r2"), F.count("*").alias("__ng"))
    )
    # R_g = r2/2  =>  R_g^2/n_g = r2^2 / (4 n_g); double product (the
    # integers exceed long^2), ROUND(6)-pinned, decimal-summed
    term = F.round(
        F.col("__r2").cast("double")
        * F.col("__r2").cast("double")
        / (F.lit(4.0) * F.col("__ng").cast("double")),
        6,
    ).cast("decimal(38,6)")
    sums = per_g.agg(
        F.sum(term).alias("__s"), F.count("*").alias("k_groups")
    )
    ties = marg.agg(
        F.sum(
            (F.col("__tn") * F.col("__tn") * F.col("__tn") - F.col("__tn"))
            .cast("decimal(38,0)")
        ).alias("__tie")
    )
    tot = vals.agg(F.count("*").alias("n"))
    nd = F.col("n").cast("double")
    h = (
        F.lit(12.0) / (nd * (nd + F.lit(1.0)))
        * F.col("__s").cast("double")
        - F.lit(3.0) * (nd + F.lit(1.0))
    )
    c = F.lit(1.0) - F.col("__tie").cast("double") / (
        nd * nd * nd - nd
    )
    return (
        sums.join(broadcast(tot), F.lit(True))
        .join(broadcast(ties), F.lit(True))
        .select(
            F.col("n").cast("long").alias("n"),
            F.col("k_groups").cast("long").alias("k_groups"),
            F.when(F.col("n") >= 2, F.round(h, 6)).alias("h_stat"),
            F.when((F.col("n") >= 2) & (c > 0), F.round(h / c, 6)).alias(
                "h_corrected"
            ),
        )
    )


def _two_group_marginal(
    df: DataFrame, group_col: str, value_col: str, a, b
) -> tuple[DataFrame, DataFrame]:
    """The pooled value marginal the two-sample rank/ECDF tests share:
    rows of group ``a`` or ``b`` with a non-null value collapse to
    ``(__v, __ca, __cb)``, the count of each group at each distinct
    value, beside the one-row totals ``(n_a, n_b)``.  Both are
    unpersisted, map-combinable aggregates of the same filtered rows."""
    vals = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isin([a, b])
    ).select(
        (F.col(group_col) == a).alias("__isa"),
        F.col(value_col).alias("__v"),
    )
    in_a = F.sum(F.when(F.col("__isa"), 1).otherwise(0))
    in_b = F.sum(F.when(~F.col("__isa"), 1).otherwise(0))
    marg = vals.groupBy("__v").agg(in_a.alias("__ca"), in_b.alias("__cb"))
    tot = vals.agg(in_a.alias("n_a"), in_b.alias("n_b"))
    return marg, tot


def cramer_von_mises(
    df: DataFrame, group_col: str, value_col: str, a, b
) -> DataFrame:
    """Two-sample Cramér-von Mises criterion in its discrete ECDF form
    (Anderson 1962): T = (n*m/(n+m)^2) * sum over the pooled sample of
    (F_n(x) - G_m(x))^2, counting multiplicity — the whole-distribution
    drift test that weights every quantile (where KS sees only the max
    gap).  Output — ONE row: ``(n_a, n_b, t_stat)`` (ROUND 6).

    Scale posture: one pooled value-marginal collapse with per-group
    counts; BOTH ECDFs ride a single distributed prefix scan; terms
    are ROUND(12)-pinned decimal sums."""
    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    marg, tot = _two_group_marginal(df, group_col, value_col, a, b)
    cum = prefix_sums(marg, "__v", ["__ca", "__cb"], prefix="__cm_")
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    gap = (
        F.col("__cm___ca").cast("double") / na
        - F.col("__cm___cb").cast("double") / nb
    )
    term = F.round(
        (F.col("__ca") + F.col("__cb")).cast("double") * gap * gap, 12
    ).cast("decimal(38,12)")
    agg = cum.join(broadcast(tot), F.lit(True)).agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.sum(term).alias("__s"),
    )
    na2 = F.col("n_a").cast("double")
    nb2 = F.col("n_b").cast("double")
    t = (
        na2 * nb2 / ((na2 + nb2) * (na2 + nb2))
        * F.col("__s").cast("double")
    )
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0), F.round(t, 6)
        ).alias("t_stat"),
    )


def theil_index(df: DataFrame, unit_col: str, value_col: str) -> DataFrame:
    """Theil inequality indices over per-unit totals: T = mean of
    (x/mu) ln(x/mu) and L = mean of ln(mu/x) — the decomposable
    concentration gauges (0 = perfectly even, ln n = one unit holds
    everything).  Units with non-positive totals drop (logs).  Output
    — ONE row: ``(n_units, theil_t, theil_l)`` (ROUND 6).

    Scale posture: one per-unit collapse, a 1-row mean broadcast, and
    ROUND(12) decimal sums for the order-independent final terms."""
    per = (
        df.filter(
            F.col(unit_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(F.col(unit_col).alias("__u"))
        .agg(
            F.sum(F.col(value_col).cast("decimal(18,4)")).alias("__x")
        )
        .filter(F.col("__x") > 0)
        .select(F.col("__x").cast("double").alias("__x"))
    )
    tot = per.agg(
        F.count("*").alias("n_units"),
        (F.sum(F.col("__x").cast("decimal(28,4)")).cast("double")
         / F.count("*")).alias("__mu"),
    )
    d12 = "decimal(38,12)"
    j = per.crossJoin(broadcast(tot))
    r = F.col("__x") / F.col("__mu")
    agg = j.agg(
        F.max("n_units").alias("n_units"),
        F.sum(F.round(r * F.log(r), 12).cast(d12)).alias("__t"),
        F.sum(F.round(F.log(F.lit(1.0) / r), 12).cast(d12)).alias("__l"),
    )
    n = F.col("n_units").cast("double")
    return agg.select(
        F.col("n_units").cast("long").alias("n_units"),
        F.round(F.col("__t").cast("double") / n, 6).alias("theil_t"),
        F.round(F.col("__l").cast("double") / n, 6).alias("theil_l"),
    )


def herfindahl_by_group(
    df: DataFrame, group_col: str, unit_col: str, value_col: str
) -> DataFrame:
    """Herfindahl-Hirschman concentration per group: the sum of
    squared unit shares of the group's total value, plus the
    normalized form (HHI - 1/n)/(1 - 1/n) — "is this event type's
    volume spread across users or owned by a few".  Output per group:
    ``(group, n_units, hhi, hhi_norm)`` (ROUND 6; hhi_norm NULL for
    single-unit groups).

    Scale posture: one (group, unit) collapse, group totals re-join
    broadcast-sized, ROUND(12) decimal share sums."""
    cells = (
        df.filter(
            F.col(group_col).isNotNull()
            & F.col(unit_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .groupBy(
            F.col(group_col).alias("__g"), F.col(unit_col).alias("__u")
        )
        .agg(F.sum(F.col(value_col).cast("decimal(18,4)")).alias("__x"))
        .filter(F.col("__x") > 0)
    )
    totals = cells.groupBy("__g").agg(
        F.sum("__x").alias("__t"), F.count("*").alias("n_units")
    )
    share = F.col("__x").cast("double") / F.col("__t").cast("double")
    per = (
        cells.join(broadcast(totals), "__g")
        .groupBy("__g")
        .agg(
            F.max("n_units").alias("n_units"),
            F.sum(
                F.round(share * share, 12).cast("decimal(38,12)")
            ).alias("__h"),
        )
    )
    n = F.col("n_units").cast("double")
    hhi = F.col("__h").cast("double")
    return per.select(
        F.col("__g").alias(group_col),
        F.col("n_units").cast("long").alias("n_units"),
        F.round(hhi, 6).alias("hhi"),
        F.when(
            F.col("n_units") > 1,
            F.round(
                (hhi - F.lit(1.0) / n) / (F.lit(1.0) - F.lit(1.0) / n), 6
            ),
        ).alias("hhi_norm"),
    )


def reciprocal_rank_by_group(
    df: DataFrame, group_col: str, item_col: str, score, relevant
) -> DataFrame:
    """Per-query reciprocal rank: rank each group's items by
    ``score`` (ROUND 6, desc; item id asc tiebreak) and report the
    rank of the first relevant item — averaging the ``rr`` column
    gives MRR.  Output per group: ``(group, n_items, n_relevant,
    first_rank, rr)`` (rr NULL when the group has no relevant item).

    Scale posture: one (group, item) collapse; ranking windows are
    PARTITIONED by group (never global); the first-relevant pick is a
    per-group min."""
    cells = (
        df.filter(F.col(group_col).isNotNull() & F.col(item_col).isNotNull())
        .groupBy(
            F.col(group_col).alias("__g"), F.col(item_col).alias("__i")
        )
        .agg(
            F.round(score, 6).alias("__s"),
            F.max(relevant.cast("int")).alias("__rel"),
        )
    )
    w = Window.partitionBy("__g").orderBy(
        F.col("__s").desc(), F.col("__i").asc()
    )
    ranked = cells.withColumn("__r", F.row_number().over(w))
    return (
        ranked.groupBy("__g")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("__rel").alias("n_relevant"),
            F.min(F.when(F.col("__rel") == 1, F.col("__r"))).alias(
                "first_rank"
            ),
        )
        .select(
            F.col("__g").alias(group_col),
            F.col("n_items").cast("long").alias("n_items"),
            F.col("n_relevant").cast("long").alias("n_relevant"),
            F.col("first_rank").cast("long").alias("first_rank"),
            F.round(
                F.lit(1.0) / F.col("first_rank").cast("double"), 6
            ).alias("rr"),
        )
    )


def average_precision_by_group(
    df: DataFrame, group_col: str, item_col: str, score, relevant,
    k: int = 20,
) -> DataFrame:
    """Average precision at k per query group: AP@k = (1/min(R, k)) *
    sum over relevant ranks i <= k of precision@i, with R the group's
    TOTAL relevant count — averaging the ``ap`` column gives MAP@k.
    Output per group: ``(group, n_relevant, rel_in_topk, ap)`` (ROUND
    6; NULL when the group has no relevant item).

    Scale posture: the (group, item) collapse and one PARTITIONED rank
    window; precision@i = (running relevant count)/i comes from the
    same window; ROUND(9) decimal term sums."""
    cells = (
        df.filter(F.col(group_col).isNotNull() & F.col(item_col).isNotNull())
        .groupBy(
            F.col(group_col).alias("__g"), F.col(item_col).alias("__i")
        )
        .agg(
            F.round(score, 6).alias("__s"),
            F.max(relevant.cast("int")).alias("__rel"),
        )
    )
    w = Window.partitionBy("__g").orderBy(
        F.col("__s").desc(), F.col("__i").asc()
    )
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    ranked = cells.select(
        "__g",
        "__rel",
        F.row_number().over(w).alias("__r"),
        F.sum("__rel").over(wcum).alias("__cumrel"),
    )
    term = F.when(
        (F.col("__rel") == 1) & (F.col("__r") <= k),
        F.round(
            F.col("__cumrel").cast("double") / F.col("__r").cast("double"),
            9,
        ),
    ).otherwise(F.lit(0.0))
    return (
        ranked.groupBy("__g")
        .agg(
            F.sum("__rel").alias("n_relevant"),
            F.sum(
                F.when(
                    (F.col("__rel") == 1) & (F.col("__r") <= k), 1
                ).otherwise(0)
            ).alias("rel_in_topk"),
            F.sum(term.cast("decimal(38,9)")).alias("__ap_num"),
        )
        .select(
            F.col("__g").alias(group_col),
            F.col("n_relevant").cast("long").alias("n_relevant"),
            F.col("rel_in_topk").cast("long").alias("rel_in_topk"),
            F.when(
                F.col("n_relevant") > 0,
                F.round(
                    F.col("__ap_num").cast("double")
                    / F.least(
                        F.col("n_relevant").cast("double"), F.lit(float(k))
                    ),
                    6,
                ),
            ).alias("ap"),
        )
    )


def kendall_w(
    df: DataFrame, rater_col: str, item_col, value_col: str
) -> DataFrame:
    """Kendall's coefficient of concordance W across raters with the
    tie correction: do the raters (sources/models/days) rank the items
    the same way?  Each (rater, item) cell is the ROUND(6) mean of
    ``value_col`` over the COMPLETE rater x item grid (missing cells
    rate 0 — deterministic both engines); ranks within a rater are
    midranks.  W = 12 S / (m^2(n^3 - n) - m * sum_j T_j) with
    S = sum_i (R_i - mean R)^2 and T_j the rater's tie term.  Output —
    ONE row: ``(m_raters, n_items, w)`` (ROUND 6).

    Scale posture: the grid is |raters| x |items| (dimension-sized by
    contract); rank windows are PARTITIONED by rater; the item
    rank-sum collapse and 1-row moments finish it."""
    cells = (
        df.filter(F.col(rater_col).isNotNull())
        .groupBy(
            F.col(rater_col).alias("__j"), item_col.alias("__i")
        )
        .agg(
            F.round(
                F.sum(F.col(value_col).cast("decimal(18,4)")).cast(
                    "double"
                )
                / F.count("*"),
                6,
            ).alias("__v")
        )
    )
    raters = cells.select("__j").distinct()
    items = cells.select("__i").distinct()
    grid = (
        raters.crossJoin(broadcast(items))
        .join(cells, ["__j", "__i"], "left")
        .select(
            "__j", "__i", F.coalesce("__v", F.lit(0.0)).alias("__v")
        )
    )
    # midranks within each rater: rank + (ties - 1)/2, doubled to stay
    # integer: m2 = 2*rank(v) + (cnt_ties - 1)  where rank() is the
    # MIN rank of the tie run (SQL RANK semantics)
    wr = Window.partitionBy("__j").orderBy(F.col("__v").asc())
    ranked = grid.select(
        "__j",
        "__i",
        (
            F.lit(2) * F.rank().over(wr)
            + F.count("*").over(
                Window.partitionBy("__j", "__v")
            )
            - F.lit(1)
        ).alias("__m2"),
    )
    per_item = ranked.groupBy("__i").agg(F.sum("__m2").alias("__r2"))
    ties = (
        grid.groupBy("__j", "__v")
        .agg(F.count("*").alias("__t"))
        .groupBy("__j")
        .agg(
            F.sum(
                (F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t"))
                .cast("decimal(38,0)")
            ).alias("__tj")
        )
        .agg(F.sum("__tj").alias("__tsum"), F.count("*").alias("m_raters"))
    )
    n_items = items.agg(F.count("*").alias("n_items"))
    moments = (
        per_item.crossJoin(broadcast(n_items))
        .agg(
            F.max("n_items").alias("n_items"),
            F.sum(F.col("__r2").cast("decimal(38,0)")).alias("__sum_r2"),
            F.sum(
                (F.col("__r2").cast("decimal(38,0)")
                 * F.col("__r2")).cast("decimal(38,0)")
            ).alias("__sum_r2sq"),
        )
    )
    # S = sum (R_i - mean)^2 with R_i = r2/2: in doubled units
    # S2 = sum r2^2 - (sum r2)^2 / n, S = S2 / 4
    j = moments.join(broadcast(ties), F.lit(True))
    nd = F.col("n_items").cast("double")
    md = F.col("m_raters").cast("double")
    s2 = (
        F.col("__sum_r2sq").cast("double")
        - F.col("__sum_r2").cast("double")
        * F.col("__sum_r2").cast("double") / nd
    )
    denom = md * md * (nd * nd * nd - nd) - md * F.col("__tsum").cast(
        "double"
    )
    return j.select(
        F.col("m_raters").cast("long").alias("m_raters"),
        F.col("n_items").cast("long").alias("n_items"),
        F.when(
            denom > 0, F.round(F.lit(12.0) * (s2 / F.lit(4.0)) / denom, 6)
        ).alias("w"),
    )


def rank_biased_overlap(
    df: DataFrame, item_col: str, score_a, score_b,
    k: int = 50, p: float = 0.9,
) -> DataFrame:
    """Truncated rank-biased overlap (Webber et al. 2010) between two
    rankings of the same items: RBO@k = (1-p) * sum_{d=1..k} p^(d-1) *
    |A_d intersect B_d| / d — the top-weighted agreement measure for
    "did the new scorer reorder what users actually see".  Output —
    ONE row: ``(k, in_both, rbo)`` (ROUND 6).

    Scale posture: both rankings are TakeOrdered(k) (ROUND(6) scores,
    item-id tiebreak); the depth sum runs on the <= k^2 (pair x depth)
    literal-bounded grid."""
    cells = df.groupBy(F.col(item_col).alias("__i")).agg(
        F.round(score_a, 6).alias("__sa"),
        F.round(score_b, 6).alias("__sb"),
    )
    top_a = cells.orderBy(
        F.col("__sa").desc(), F.col("__i").asc()
    ).limit(int(k)).select(
        "__i",
        F.row_number()
        .over(Window.orderBy(F.col("__sa").desc(), F.col("__i").asc()))
        .alias("__ra"),
    )
    top_b = cells.orderBy(
        F.col("__sb").desc(), F.col("__i").asc()
    ).limit(int(k)).select(
        "__i",
        F.row_number()
        .over(Window.orderBy(F.col("__sb").desc(), F.col("__i").asc()))
        .alias("__rb"),
    )
    both = top_a.join(top_b, "__i")
    spark = df.sparkSession
    depths = spark.range(1, int(k) + 1).select(
        F.col("id").alias("__d")
    )
    # overlap(d) counts pairs with both ranks <= d; each pair adds the
    # geometric tail term at every depth it is visible at
    contrib = both.join(
        F.broadcast(depths),
        (F.col("__ra") <= F.col("__d")) & (F.col("__rb") <= F.col("__d")),
    ).select(
        F.round(
            F.lit(1.0 - float(p))
            * F.pow(F.lit(float(p)), F.col("__d").cast("double") - 1)
            / F.col("__d").cast("double"),
            12,
        ).cast("decimal(38,12)").alias("__t")
    )
    n_both = both.agg(F.count("*").alias("in_both"))
    agg = contrib.agg(F.sum("__t").alias("__rbo"))
    return agg.join(broadcast(n_both), F.lit(True)).select(
        F.lit(int(k)).cast("long").alias("k"),
        F.col("in_both").cast("long").alias("in_both"),
        F.round(F.coalesce(F.col("__rbo").cast("double"), F.lit(0.0)), 6)
        .alias("rbo"),
    )


def ratio_metric_delta(
    df: DataFrame, unit_col: str, num_col, den_col
) -> DataFrame:
    """Delta-method inference for a ratio-of-means metric R = mean(Y)/
    mean(X) over randomization units: Var(R) ~= (s_yy - 2R s_xy +
    R^2 s_xx) / (n * mean(X)^2) — the correct SE for revenue-per-view
    style metrics where per-unit Y and X are correlated and naive
    per-event CIs are wrong.  Output — ONE row: ``(n_units, ratio, se,
    ci_lo, ci_hi)`` (95% normal CI, ROUND 6; NULL when mean(X) == 0 or
    n < 2).

    Scale posture: ONE per-unit collapse (ROUND(6)-quantized Y and X),
    then quantize-then-multiply decimal moment sums — the welch_ttest
    discipline extended to the cross-moment."""
    per = (
        df.filter(F.col(unit_col).isNotNull())
        .groupBy(F.col(unit_col).alias("__u"))
        .agg(
            F.round(num_col, 6).alias("__y"),
            F.round(den_col, 6).alias("__x"),
        )
    )
    d6 = "decimal(18,6)"
    mom = per.agg(
        F.count("*").alias("n_units"),
        F.sum(F.col("__y").cast(d6)).alias("__sy"),
        F.sum(F.col("__x").cast(d6)).alias("__sx"),
        F.sum(
            (F.col("__y").cast(d6) * F.col("__y").cast(d6)).cast(
                "decimal(38,12)"
            )
        ).alias("__syy"),
        F.sum(
            (F.col("__x").cast(d6) * F.col("__x").cast(d6)).cast(
                "decimal(38,12)"
            )
        ).alias("__sxx"),
        F.sum(
            (F.col("__y").cast(d6) * F.col("__x").cast(d6)).cast(
                "decimal(38,12)"
            )
        ).alias("__sxy"),
    )
    n = F.col("n_units").cast("double")
    my = F.col("__sy").cast("double") / n
    mx = F.col("__sx").cast("double") / n
    # sample (co)variances, ddof = 1
    vyy = (F.col("__syy").cast("double") - n * my * my) / (n - F.lit(1.0))
    vxx = (F.col("__sxx").cast("double") - n * mx * mx) / (n - F.lit(1.0))
    vxy = (F.col("__sxy").cast("double") - n * my * mx) / (n - F.lit(1.0))
    r = my / mx
    var = (vyy - F.lit(2.0) * r * vxy + r * r * vxx) / (n * mx * mx)
    se = F.sqrt(F.greatest(var, F.lit(0.0)))
    ok = (F.col("n_units") >= 2) & (mx != 0)
    z = F.lit(1.959963984540054)
    return mom.select(
        F.col("n_units").cast("long").alias("n_units"),
        F.when(mx != 0, F.round(r, 6)).alias("ratio"),
        F.when(ok, F.round(se, 6)).alias("se"),
        F.when(ok, F.round(r - z * se, 6)).alias("ci_lo"),
        F.when(ok, F.round(r + z * se, 6)).alias("ci_hi"),
    )


def diff_in_diff(
    df: DataFrame, treat, post, value_col: str
) -> DataFrame:
    """2x2 difference-in-differences: DiD = (T,post - T,pre) -
    (C,post - C,pre) over cell means, with the normal-approximation
    SE = sqrt(sum s_cell^2 / n_cell) — the pre-trend-adjusted effect
    estimate for staged rollouts where plain post-only comparison
    confounds with time.  Output — ONE row: ``(n, did, se, z_stat)``
    (ROUND 6; NULL when any cell has n < 2 or the SE degenerates).

    Scale posture: the corpus collapses to FOUR cells in one
    map-combinable pass (quantize-then-square decimal moments); the
    2x2 algebra runs on that 4-row table via conditional sums."""
    vq = F.round(F.col(value_col).cast("double"), 6).cast("decimal(18,6)")
    cells = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(
            treat.cast("int").alias("__t"), post.cast("int").alias("__p")
        )
        .agg(
            F.count("*").alias("__n"),
            F.sum(vq).alias("__s"),
            F.sum((vq * vq).cast("decimal(38,12)")).alias("__ss"),
        )
    )
    nd = F.col("__n").cast("double")
    mean = F.col("__s").cast("double") / nd
    var = (F.col("__ss").cast("double") - nd * mean * mean) / (
        nd - F.lit(1.0)
    )
    per = cells.select(
        "__t",
        "__p",
        "__n",
        F.round(mean, 9).alias("__m"),
        F.round(var / nd, 12).alias("__vm"),  # variance of the cell mean
    )

    def pick(col, t, p):
        return F.max(
            F.when((F.col("__t") == t) & (F.col("__p") == p), F.col(col))
        )

    agg = per.agg(
        F.sum("__n").alias("n"),
        F.min("__n").alias("__minn"),
        F.count("*").alias("__cells"),
        (
            (pick("__m", 1, 1) - pick("__m", 1, 0))
            - (pick("__m", 0, 1) - pick("__m", 0, 0))
        ).alias("__did"),
        (
            pick("__vm", 1, 1)
            + pick("__vm", 1, 0)
            + pick("__vm", 0, 1)
            + pick("__vm", 0, 0)
        ).alias("__var"),
    )
    ok = (
        (F.col("__cells") == 4)
        & (F.col("__minn") >= 2)
        & (F.col("__var") > 0)
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.when(F.col("__cells") == 4, F.round(F.col("__did"), 6)).alias(
            "did"
        ),
        F.when(ok, F.round(F.sqrt(F.col("__var")), 6)).alias("se"),
        F.when(
            ok, F.round(F.col("__did") / F.sqrt(F.col("__var")), 6)
        ).alias("z_stat"),
    )


def power_analysis_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    rel_mde: float = 0.05,
    z_alpha: float = 1.959963984540054,
    z_beta: float = 0.8416212335729143,
) -> DataFrame:
    """Required per-arm sample size for a two-sample z-test of each
    group's metric at a relative MDE: n = 2 sigma^2 (z_a/2 + z_b)^2 /
    delta^2 with delta = rel_mde * mean — the "how long must this
    experiment run" table, per metric slice.  Output per group:
    ``(group, n_obs, mean, sd, mde_abs, n_required)`` (ROUND 6;
    n_required NULL when the mean is 0 or n < 2).

    Scale posture: one map-combinable moment collapse per group
    (quantize-then-square decimal discipline)."""
    vq = F.round(F.col(value_col).cast("double"), 6).cast("decimal(18,6)")
    per = (
        df.filter(
            F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(F.col(group_col).alias("__g"))
        .agg(
            F.count("*").alias("n_obs"),
            F.sum(vq).alias("__s"),
            F.sum((vq * vq).cast("decimal(38,12)")).alias("__ss"),
        )
    )
    nd = F.col("n_obs").cast("double")
    mean = F.col("__s").cast("double") / nd
    var = (F.col("__ss").cast("double") - nd * mean * mean) / (
        nd - F.lit(1.0)
    )
    delta = F.lit(float(rel_mde)) * mean
    zsum = F.lit(float(z_alpha) + float(z_beta))
    n_req = F.ceil(
        F.lit(2.0) * var * zsum * zsum / (delta * delta)
    )
    ok = (F.col("n_obs") >= 2) & (mean != 0) & (var > 0)
    return per.select(
        F.col("__g").alias(group_col),
        F.col("n_obs").cast("long").alias("n_obs"),
        F.round(mean, 6).alias("mean"),
        F.when(F.col("n_obs") >= 2, F.round(F.sqrt(var), 6)).alias("sd"),
        F.round(delta, 6).alias("mde_abs"),
        F.when(ok, n_req.cast("long")).alias("n_required"),
    )


#: N(0,1) quartile breakpoints for the 4-letter SAX alphabet
SAX_BREAKPOINTS_4 = (-0.6744897501960817, 0.0, 0.6744897501960817)


def sax_symbols(
    df: DataFrame, ts_col: str, value_col: str, n_segments: int = 8
) -> DataFrame:
    """SAX symbolization (Lin et al. 2003) of the daily mean series:
    z-normalize, Piecewise Aggregate Approximation into
    ``n_segments``, then map each segment mean to the 4-letter
    alphabet at the N(0,1) quartile breakpoints — the shape-index
    that makes motif/anomaly search a string problem.  Output per
    segment: ``(segment, n_days, paa, symbol)`` (ROUND 6; symbol 'b'
    for a zero-variance series, z = 0 convention).

    Scale posture: one daily collapse; the day index rides the
    distributed prefix sum (house discipline — no global window);
    moments are quantize-then-square decimal sums; PAA is a
    segment-keyed collapse of ROUND(9) z-scores."""
    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    daily = _daily_means(df, ts_col, value_col).persist()
    idx = prefix_sums(
        daily.withColumn("__one", F.lit(1)), "day", ["__one"]
    ).select("day", "v", (F.col("cum___one") - 1).alias("__i"))
    v6 = F.round(F.col("v"), 6).cast("decimal(18,6)")
    mom = daily.agg(
        F.count("*").alias("__n"),
        F.sum(v6).alias("__s"),
        F.sum((v6 * v6).cast("decimal(38,12)")).alias("__ss"),
    )
    nd = F.col("__n").cast("double")
    mu = F.col("__s").cast("double") / nd
    sigma = F.sqrt(
        F.greatest(
            F.col("__ss").cast("double") / nd - mu * mu, F.lit(0.0)
        )
    )
    z = F.when(sigma > 0, F.round((F.col("v") - mu) / sigma, 9)).otherwise(
        F.lit(0.0)
    )
    seg = F.floor(
        F.col("__i") * F.lit(int(n_segments)) / F.col("__n")
    ).alias("segment")
    paa = (
        idx.join(broadcast(mom), F.lit(True))
        .select(seg, z.alias("__z"))
        .groupBy("segment")
        .agg(
            F.count("*").alias("n_days"),
            F.round(
                F.sum(F.col("__z").cast("decimal(38,9)")).cast("double")
                / F.count("*"),
                6,
            ).alias("paa"),
        )
    )
    b1, b2, b3 = SAX_BREAKPOINTS_4
    sym = (
        F.when(F.col("paa") < F.lit(b1), F.lit("a"))
        .when(F.col("paa") < F.lit(b2), F.lit("b"))
        .when(F.col("paa") < F.lit(b3), F.lit("c"))
        .otherwise(F.lit("d"))
    )
    return paa.select(
        F.col("segment").cast("long").alias("segment"),
        F.col("n_days").cast("long").alias("n_days"),
        "paa",
        sym.alias("symbol"),
    )


def ansari_bradley(
    df: DataFrame, group_col: str, value_col: str, a, b
) -> DataFrame:
    """Ansari-Bradley two-sample SCALE test: with pooled midranks m,
    each observation scores min(m, N+1-m) (small at the extremes,
    large in the middle), W = sum of group A's scores — a dispersion
    difference shifts W even when locations agree (the scale sibling
    of Mann-Whitney).  Normal approximation with the standard no-tie
    moments (even/odd N forms).  Output — ONE row: ``(n_a, n_b,
    w_stat, z_stat)`` (ROUND 6; NULL z below 2 per side or degenerate
    variance).

    Scale posture: midranks from the distributed prefix sum over the
    pooled value marginal, scores carried DOUBLED as integers (exact
    under any tie structure); one 1-row moment cross."""
    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    marg, tot = _two_group_marginal(df, group_col, value_col, a, b)
    cum = prefix_sums(marg, "__v", ["__ca", "__cb"], prefix="__cm_")
    j = cum.join(broadcast(tot), F.lit(True))
    n = F.col("n_a") + F.col("n_b")
    tn = F.col("__ca") + F.col("__cb")
    cumt = F.col("__cm___ca") + F.col("__cm___cb")
    m2 = F.lit(2) * (cumt - tn) + tn + F.lit(1)  # doubled midrank
    score2 = F.least(m2, F.lit(2) * (n + 1) - m2)  # doubled AB score
    w2 = j.agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.sum(
            (F.col("__ca").cast("decimal(38,0)") * score2).cast(
                "decimal(38,0)"
            )
        ).alias("__w2"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    nd = na + nb
    w = F.col("__w2").cast("double") / F.lit(2.0)
    even = (F.col("n_a") + F.col("n_b")) % 2 == 0
    e_w = F.when(even, na * (nd + 2) / F.lit(4.0)).otherwise(
        na * (nd + 1) * (nd + 1) / (F.lit(4.0) * nd)
    )
    var_w = F.when(
        even,
        na * nb * (nd + 2) * (nd - 2) / (F.lit(48.0) * (nd - 1)),
    ).otherwise(
        na * nb * (nd + 1) * (F.lit(3.0) + nd * nd)
        / (F.lit(48.0) * nd * nd)
    )
    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2) & (var_w > 0)
    return w2.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(w, 6).alias("w_stat"),
        F.when(ok, F.round((w - e_w) / F.sqrt(var_w), 6)).alias("z_stat"),
    )


def jonckheere_terpstra(
    df: DataFrame, group_order, value_col: str, k_groups: int
) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative trend test across k
    ORDERED groups: J = sum over group pairs i < j of the
    Mann-Whitney count U_ij (#{a in i, b in j : a < b} + ties/2) —
    strictly more powerful than Kruskal-Wallis when the hypothesis is
    monotone ("the metric rises with the dose/bucket").  Normal
    approximation with the standard no-tie moments.  Output — ONE
    row: ``(n, j_stat, z_stat)`` (ROUND 6).

    Scale posture: per-group counts AND per-group cumulative counts
    ride ONE distributed prefix scan of the pooled value marginal;
    J is assembled from the k(k-1)/2 unrolled pair terms as exact
    doubled integers; group sizes are a k-row collapse."""
    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    vals = df.filter(
        F.col(value_col).isNotNull() & group_order.isNotNull()
    ).select(
        group_order.cast("int").alias("__g"),
        F.col(value_col).alias("__v"),
    )
    ccols = [f"__c{g}" for g in range(k_groups)]
    marg = vals.groupBy("__v").agg(
        *[
            F.sum(F.when(F.col("__g") == g, 1).otherwise(0)).alias(c)
            for g, c in enumerate(ccols)
        ]
    )
    cum = prefix_sums(marg, "__v", ccols, prefix="__cm_")
    # doubled U contribution at value v for pair (i, j):
    # 2*c_j*(cum_i - c_i)  (strictly-less)  +  c_j*c_i  (ties)
    terms = []
    for i in range(k_groups):
        for jg in range(i + 1, k_groups):
            ci, cj = F.col(f"__c{i}"), F.col(f"__c{jg}")
            lt = F.col(f"__cm___c{i}") - ci
            terms.append(
                (F.lit(2) * cj * lt + cj * ci).cast("decimal(38,0)")
            )
    j2 = cum.agg(
        F.sum(sum(terms[1:], terms[0])).alias("__j2")
    )
    sizes = vals.groupBy("__g").agg(F.count("*").alias("__ng"))
    mom = sizes.agg(
        F.sum("__ng").alias("n"),
        F.sum(
            (F.col("__ng").cast("decimal(38,0)") * F.col("__ng")).cast(
                "decimal(38,0)"
            )
        ).alias("__sn2"),
        F.sum(
            (
                F.col("__ng").cast("decimal(38,0)")
                * F.col("__ng")
                * (F.lit(2) * F.col("__ng") + 3)
            ).cast("decimal(38,0)")
        ).alias("__sn23"),
    )
    out = j2.join(broadcast(mom), F.lit(True))
    nd = F.col("n").cast("double")
    jstat = F.col("__j2").cast("double") / F.lit(2.0)
    e_j = (nd * nd - F.col("__sn2").cast("double")) / F.lit(4.0)
    var_j = (
        nd * nd * (F.lit(2.0) * nd + 3)
        - F.col("__sn23").cast("double")
    ) / F.lit(72.0)
    return out.select(
        F.col("n").cast("long").alias("n"),
        F.round(jstat, 6).alias("j_stat"),
        F.when(
            var_j > 0, F.round((jstat - e_j) / F.sqrt(var_j), 6)
        ).alias("z_stat"),
    )


def page_hinkley(
    df: DataFrame, ts_col: str, value_col: str, delta: float = 0.005
) -> DataFrame:
    """Page-Hinkley drift statistic over the daily mean series:
    m_t = sum_{i<=t}(x_i - mean - delta), PH = max_t (m_t - min_{i<=t}
    m_i) — the classical sequential upward-drift detector (alarm when
    PH exceeds lambda); reported here as the max over the series with
    its day.  Output — ONE row: ``(n_days, ph_stat, at_day)``
    (ROUND 6).

    Scale posture: one daily collapse, a 1-row mean cross, cumulative
    sums AND the running minimum both on the distributed prefix
    machinery (prefix_sums + prefix_max on the negated series), the
    argmax a TakeOrdered(1)."""
    from conte_to_fresco_etl_spark.parallelism import prefix_max, prefix_sums

    daily = _daily_means(df, ts_col, value_col).persist()
    mu = daily.agg(
        F.round(
            F.sum(F.round(F.col("v"), 6).cast("decimal(18,6)")).cast(
                "double"
            )
            / F.count("*"),
            6,
        ).alias("__mu"),
        F.count("*").alias("n_days"),
    )
    dev = daily.join(broadcast(mu), F.lit(True)).select(
        "day",
        "n_days",
        F.round(
            F.col("v") - F.col("__mu") - F.lit(float(delta)), 9
        )
        .cast("decimal(28,9)")
        .alias("__d"),
    )
    m = prefix_sums(dev, "day", ["__d"]).select(
        "day", "n_days", F.col("cum___d").alias("__m")
    )
    runmin = prefix_max(
        m.withColumn("__neg", (-F.col("__m")).cast("decimal(38,9)")),
        "day",
        "__neg",
        out_col="__negmin",
    )
    ph = runmin.select(
        "day",
        "n_days",
        (F.col("__m").cast("double") + F.col("__negmin").cast("double"))
        .alias("__ph"),
    )
    top = ph.orderBy(
        F.col("__ph").desc(), F.col("day").asc()
    ).limit(1)
    return top.select(
        F.col("n_days").cast("long").alias("n_days"),
        F.round(F.col("__ph"), 6).alias("ph_stat"),
        F.col("day").alias("at_day"),
    )


def hurst_exponent(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    block_sizes: tuple = (8, 16, 32),
) -> DataFrame:
    """Hurst exponent by rescaled-range (R/S) analysis of the daily
    mean series: for each block size w, average R/S over consecutive
    w-day blocks (R = range of within-block cumulative deviations,
    S = population std), then H = the log2-log2 least-squares slope —
    H > 0.5 long-range persistence, < 0.5 mean reversion.  Output per
    block size plus the fitted H repeated: ``(w, n_blocks, mean_rs,
    hurst)`` (ROUND 6; blocks with zero variance drop).

    Scale posture: ONE day-index prefix scan; per-(w, block)
    cumulative deviations ride windows PARTITIONED by block (w-row
    partitions); the regression runs on |block_sizes| rows."""
    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    daily = _daily_means(df, ts_col, value_col).persist()
    idx = prefix_sums(
        daily.withColumn("__one", F.lit(1)), "day", ["__one"]
    ).select("day", "v", (F.col("cum___one") - 1).alias("__i"))
    idx = idx.localCheckpoint(eager=False)
    per_w = []
    for w in block_sizes:
        blk = idx.select(
            F.floor(F.col("__i") / w).alias("__b"),
            F.col("__i").alias("__t"),
            "v",
        )
        sizes = blk.groupBy("__b").agg(
            F.count("*").alias("__bn"),
            F.round(
                F.sum(F.round(F.col("v"), 6).cast("decimal(18,6)")).cast(
                    "double"
                )
                / F.count("*"),
                9,
            ).alias("__bm"),
            F.sum(
                (
                    F.round(F.col("v"), 6).cast("decimal(18,6)")
                    * F.round(F.col("v"), 6).cast("decimal(18,6)")
                ).cast("decimal(38,12)")
            ).alias("__bss"),
        ).filter(F.col("__bn") == w)  # full blocks only
        joined = blk.join(broadcast(sizes), "__b")
        wcum = (
            Window.partitionBy("__b")
            .orderBy("__t")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        cumdev = joined.select(
            "__b",
            "__bn",
            "__bm",
            "__bss",
            F.sum(
                F.round(F.col("v") - F.col("__bm"), 9).cast(
                    "decimal(38,9)"
                )
            )
            .over(wcum)
            .alias("__cd"),
        )
        rs = (
            cumdev.groupBy("__b")
            .agg(
                F.max("__bn").alias("__bn"),
                F.max("__bm").alias("__bm"),
                F.max("__bss").alias("__bss"),
                (
                    F.max(F.col("__cd")).cast("double")
                    - F.min(F.col("__cd")).cast("double")
                ).alias("__r"),
            )
            .select(
                "__b",
                "__r",
                F.sqrt(
                    F.greatest(
                        F.col("__bss").cast("double") / F.col("__bn")
                        - F.col("__bm") * F.col("__bm"),
                        F.lit(0.0),
                    )
                ).alias("__s"),
            )
            .filter(F.col("__s") > 0)
        )
        per_w.append(
            rs.agg(
                F.lit(int(w)).cast("long").alias("w"),
                F.count("*").alias("n_blocks"),
                F.round(
                    F.sum(
                        F.round(F.col("__r") / F.col("__s"), 9).cast(
                            "decimal(38,9)"
                        )
                    ).cast("double")
                    / F.count("*"),
                    6,
                ).alias("mean_rs"),
            )
        )
    pts = per_w[0]
    for p in per_w[1:]:
        pts = pts.unionByName(p)
    pts = pts.filter(F.col("mean_rs") > 0).localCheckpoint(eager=False)
    lg2 = F.log(F.lit(2.0))
    mom = pts.agg(
        F.count("*").alias("__k"),
        F.sum(
            F.round(F.log(F.col("w").cast("double")) / lg2, 12).cast(
                "decimal(38,12)"
            )
        ).alias("__sx"),
        F.sum(
            F.round(F.log(F.col("mean_rs")) / lg2, 12).cast(
                "decimal(38,12)"
            )
        ).alias("__sy"),
        F.sum(
            F.round(
                (F.log(F.col("w").cast("double")) / lg2)
                * (F.log(F.col("mean_rs")) / lg2),
                12,
            ).cast("decimal(38,12)")
        ).alias("__sxy"),
        F.sum(
            F.round(
                (F.log(F.col("w").cast("double")) / lg2)
                * (F.log(F.col("w").cast("double")) / lg2),
                12,
            ).cast("decimal(38,12)")
        ).alias("__sxx"),
    )
    kd = F.col("__k").cast("double")
    slope = (
        F.col("__sxy").cast("double")
        - F.col("__sx").cast("double") * F.col("__sy").cast("double") / kd
    ) / (
        F.col("__sxx").cast("double")
        - F.col("__sx").cast("double") * F.col("__sx").cast("double") / kd
    )
    return pts.join(broadcast(mom), F.lit(True)).select(
        "w",
        F.col("n_blocks").cast("long").alias("n_blocks"),
        "mean_rs",
        F.when(F.col("__k") >= 2, F.round(slope, 6)).alias("hurst"),
    )


def ljung_box(
    df: DataFrame, ts_col: str, value_col: str, h: int = 5
) -> DataFrame:
    """Ljung-Box portmanteau white-noise test on the daily mean
    series: Q = n(n+2) sum_{k=1..h} acf_k^2 / (n-k) — "is there ANY
    autocorrelation structure left", the residual-diagnostic
    complement to the per-lag [[q_acf]].  Output — ONE row: ``(n, h,
    q_stat)`` (ROUND 6; NULL when n <= h).

    Scale posture: rides `gapfill.autocorrelation` (one ordered
    window over the days-sized collapse producing all h lags); the Q
    assembly is an h-row collapse of ROUND(12) decimal terms."""
    from conte_to_fresco_etl_spark.operators.gapfill import autocorrelation

    daily = _daily_means(df, ts_col, value_col)
    rho = autocorrelation(daily, "day", "v", max_lag=h)
    # n recovers exactly from any row: n_pairs(L) = n - L
    agg = rho.agg(
        F.max(F.col("n_pairs") + F.col("lag")).alias("n"),
        F.count("*").alias("h"),
        F.sum(
            F.round(
                F.col("acf") * F.col("acf")
                / F.col("n_pairs").cast("double"),
                12,
            ).cast("decimal(38,12)")
        ).alias("__s"),
    )
    nd = F.col("n").cast("double")
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("h").cast("long").alias("h"),
        F.when(
            F.col("n") > F.col("h"),
            F.round(
                nd * (nd + F.lit(2.0)) * F.col("__s").cast("double"), 6
            ),
        ).alias("q_stat"),
    )


def ks_uniform(
    df: DataFrame, value_col: str, lo: float, hi: float
) -> DataFrame:
    """One-sample Kolmogorov-Smirnov statistic against U(lo, hi):
    D = sup_x |F_n(x) - F(x)| evaluated at both sides of every ECDF
    step (the sup is attained at a step) — the goodness-of-fit
    companion to the two-sample [[q_ks_test]].  Output — ONE row:
    ``(n, d_stat, at_value)`` (ROUND 6).

    Scale posture: the ECDF rides ONE distributed prefix scan of the
    value marginal; the sup is a TakeOrdered(1) over marginal rows."""
    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    vals = df.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).alias("__v")
    )
    marg = vals.groupBy("__v").agg(F.count("*").alias("__c"))
    cum = prefix_sums(marg, "__v", ["__c"], prefix="__cm_")
    tot = vals.agg(F.count("*").alias("n"))
    span = float(hi) - float(lo)
    cdf = F.least(
        F.greatest(
            (F.col("__v") - F.lit(float(lo))) / F.lit(span), F.lit(0.0)
        ),
        F.lit(1.0),
    )
    nd = F.col("n").cast("double")
    gap = F.greatest(
        F.abs(F.col("__cm___c").cast("double") / nd - cdf),
        F.abs((F.col("__cm___c") - F.col("__c")).cast("double") / nd - cdf),
    )
    scored = cum.join(broadcast(tot), F.lit(True)).select(
        "n", F.round(gap, 9).alias("__d"), F.col("__v")
    )
    top = scored.orderBy(
        F.col("__d").desc(), F.col("__v").asc()
    ).limit(1)
    return top.select(
        F.col("n").cast("long").alias("n"),
        F.round(F.col("__d"), 6).alias("d_stat"),
        F.col("__v").alias("at_value"),
    )


def kuiper_uniform(
    df: DataFrame, value_col: str, lo: float, hi: float
) -> DataFrame:
    """One-sample Kuiper statistic against U(lo, hi):
    V = D+ + D- where D+ = sup(F_n - F) and D- = sup(F - F_n) — the
    rotation-invariant cousin of [[q_ks_uniform]] (equally sensitive at
    the distribution's tails and center, and to cyclic shifts, which
    makes it the right goodness-of-fit form for phase-like values such
    as time-of-day).  Output — ONE row:
    ``(n, d_plus, d_minus, v_stat)`` (ROUND 6).

    Scale posture: identical to ks_uniform — the ECDF rides ONE
    distributed prefix scan of the value marginal; both sups are one
    keys=[] aggregate over marginal rows (no TakeOrdered needed since
    the argmax value is not reported)."""
    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    vals = df.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).alias("__v")
    )
    marg = vals.groupBy("__v").agg(F.count("*").alias("__c"))
    cum = prefix_sums(marg, "__v", ["__c"], prefix="__cm_")
    tot = vals.agg(F.count("*").alias("n"))
    span = float(hi) - float(lo)
    cdf = F.least(
        F.greatest(
            (F.col("__v") - F.lit(float(lo))) / F.lit(span), F.lit(0.0)
        ),
        F.lit(1.0),
    )
    nd = F.col("n").cast("double")
    up = F.col("__cm___c").cast("double") / nd - cdf
    dn = cdf - (F.col("__cm___c") - F.col("__c")).cast("double") / nd
    agg = cum.join(broadcast(tot), F.lit(True)).agg(
        F.max("n").alias("n"),
        F.max(F.round(up, 9)).alias("__dp"),
        F.max(F.round(dn, 9)).alias("__dm"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.round(F.greatest(F.col("__dp"), F.lit(0.0)), 6).alias("d_plus"),
        F.round(F.greatest(F.col("__dm"), F.lit(0.0)), 6).alias("d_minus"),
        F.round(
            F.greatest(F.col("__dp"), F.lit(0.0))
            + F.greatest(F.col("__dm"), F.lit(0.0)),
            6,
        ).alias("v_stat"),
    )


def cliffs_delta(
    df: DataFrame, group_col: str, value_col: str, a, b
) -> DataFrame:
    """Cliff's delta ordinal effect size between two groups:
    d = (#{x > y} - #{x < y}) / (n_a * n_b) over all cross pairs
    (x from group a, y from group b) — the tie-robust companion the
    [[q_mannwhitney]] significance test reports no magnitude for.
    Output — ONE row: ``(n_a, n_b, n_gt, n_lt, cliffs_delta)``
    (ROUND 6; |d|~0.15 small / 0.33 medium / 0.47 large per Romano
    et al.'s conventional thresholds).

    Scale posture: NEVER materializes the n_a*n_b pair space — for
    each distinct pooled value, #{y < v} and #{y > v} come off the
    b-count prefix scan, so the pair counts are one decimal-summed
    aggregate over the value marginal (the Mann-Whitney discipline)."""
    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    marg, tot = _two_group_marginal(df, group_col, value_col, a, b)
    cum = prefix_sums(marg, "__v", ["__cb"], prefix="__cm_")
    # b-values strictly below v / strictly above v, weighted by a's
    # count at v: exact integers, decimal-summed (order-independent)
    below = (F.col("__cm___cb") - F.col("__cb")).cast("decimal(38,0)")
    above = (F.col("n_b") - F.col("__cm___cb")).cast("decimal(38,0)")
    agg = cum.join(broadcast(tot), F.lit(True)).agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.sum(F.col("__ca").cast("decimal(38,0)") * below).alias("n_gt"),
        F.sum(F.col("__ca").cast("decimal(38,0)") * above).alias("n_lt"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("n_gt").cast("long").alias("n_gt"),
        F.col("n_lt").cast("long").alias("n_lt"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.round(
                (F.col("n_gt") - F.col("n_lt")).cast("double") / (na * nb),
                6,
            ),
        ).alias("cliffs_delta"),
    )


def _group_moment_stats(
    df: DataFrame, group_col, value_col: str
) -> DataFrame:
    """Per-group sufficient statistics (n, Σv, Σv²) with the package's
    decimal-quantized moment discipline (see welch_ttest): v is pinned
    to DECIMAL(18,4), and BOTH moments sum exact decimals of the same
    quantized sample, so any downstream float is a deterministic
    function of identical operands in any engine."""
    vals = df.filter(
        F.col(value_col).isNotNull() & group_col.isNotNull()
    ).select(
        group_col.alias("__g"),
        F.col(value_col).cast("double").alias("__v"),
    )
    vq = F.col("__v").cast("decimal(18,4)")
    return vals.groupBy("__g").agg(
        F.count("*").alias("__n"),
        F.sum(vq).alias("__s1"),
        F.sum((vq * vq).cast("decimal(38,8)")).alias("__s2"),
    )


def _anova_sums(df: DataFrame, group_col, value_col: str):
    """One-way ANOVA's sums of squares over ``_group_moment_stats``:
    the k group rows collapse to ONE row ``(n, k_groups, __s, __ss,
    __sq)`` with __sq = Σ ROUND(S_g²/n_g, 6) decimal-summed.  Returns
    that frame with the SSB and SSW column expressions over it:
    SSB = Σ S_g²/n_g - S²/N and SSW = Σ(Σv²_g) - Σ S_g²/n_g."""
    per_g = _group_moment_stats(df, group_col, value_col)
    term = F.round(
        F.col("__s1").cast("double")
        * F.col("__s1").cast("double")
        / F.col("__n").cast("double"),
        6,
    ).cast("decimal(38,6)")
    agg = per_g.agg(
        F.sum("__n").alias("n"),
        F.count("*").alias("k_groups"),
        F.sum("__s1").alias("__s"),
        F.sum("__s2").alias("__ss"),
        F.sum(term).alias("__sq"),
    )
    nd = F.col("n").cast("double")
    ssb = F.col("__sq").cast("double") - (
        F.col("__s").cast("double") * F.col("__s").cast("double") / nd
    )
    ssw = F.col("__ss").cast("double") - F.col("__sq").cast("double")
    return agg, ssb, ssw


def _levene_w(z: DataFrame) -> DataFrame:
    """Levene's W — the ANOVA F statistic of the centred absolute
    deviations ``(__g, __z)`` — as ONE row ``(n, k_groups, w_stat)``
    (ROUND 6; NULL below two groups, n <= k or zero SSW).  The centre
    (group mean or median) is the caller's."""
    agg, ssb, ssw = _anova_sums(z, F.col("__g"), "__z")
    nd = F.col("n").cast("double")
    kd = F.col("k_groups").cast("double")
    w = ((nd - kd) / (kd - F.lit(1.0))) * (ssb / ssw)
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("k_groups").cast("long").alias("k_groups"),
        F.when(
            (F.col("k_groups") >= 2) & (F.col("n") > F.col("k_groups"))
            & (ssw > 0),
            F.round(w, 6),
        ).alias("w_stat"),
    )


def one_way_anova(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """One-way fixed-effects ANOVA F test across k groups — the
    parametric k-sample generalization of [[q_welch_ttest]] (equal
    variances assumed; [[q_kruskal_wallis]] is the rank-based fallback).
    F = (SSB/(k-1)) / (SSW/(N-k)) with eta² = SSB/(SSB+SSW) effect
    size.  Output — ONE row:
    ``(n, k_groups, ss_between, ss_within, f_stat, eta_sq)`` (ROUND 6).

    Scale posture: ONE map-combinable aggregation collapses the corpus
    to k sufficient-stat rows (n, Σv, Σv² per group — decimal-exact),
    and both sums of squares fall out of a SECOND k-row aggregate via
    SSB = Σ S_g²/n_g - S²/N and SSW = Σ(Σv²_g) - Σ S_g²/n_g — no
    grand-mean cross join, no second data pass."""
    agg, ssb, ssw = _anova_sums(df, F.col(group_col), value_col)
    nd = F.col("n").cast("double")
    kd = F.col("k_groups").cast("double")
    fstat = (ssb / (kd - F.lit(1.0))) / (ssw / (nd - kd))
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("k_groups").cast("long").alias("k_groups"),
        F.round(ssb, 6).alias("ss_between"),
        F.round(ssw, 6).alias("ss_within"),
        F.when(
            (F.col("k_groups") >= 2) & (F.col("n") > F.col("k_groups"))
            & (ssw > 0),
            F.round(fstat, 6),
        ).alias("f_stat"),
        F.when(
            ssb + ssw > 0, F.round(ssb / (ssb + ssw), 6)
        ).alias("eta_sq"),
    )


def levene_test(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Levene's test for homogeneity of variances (mean-centered,
    Levene 1960): the ANOVA F statistic computed on the absolute
    deviations z_ij = |x_ij - mean_g| — the gate one runs BEFORE
    trusting [[q_anova]]'s equal-variance assumption.  Output — ONE
    row: ``(n, k_groups, w_stat)`` (ROUND 6).

    Scale posture: pass 1 collapses the corpus to per-group means
    (map-combinable); pass 2 joins the k-row mean table back by
    BROADCAST equi-join, pins z = ROUND(|v - mean|, 6), and reuses the
    same k-row sufficient-stat collapse as one_way_anova.  Mean
    centering (not the Brown-Forsythe median) is deliberate: it keeps
    both passes sort-free at any group size."""
    vals = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"),
        F.col(value_col).cast("double").alias("__v"),
    )
    vq = F.col("__v").cast("decimal(18,4)")
    means = vals.groupBy("__g").agg(
        (F.sum(vq).cast("double") / F.count("*")).alias("__mean")
    )
    z = vals.join(broadcast(means), "__g").select(
        "__g",
        F.round(
            F.abs(F.col("__v").cast("decimal(18,4)").cast("double")
                  - F.col("__mean")),
            6,
        ).alias("__z"),
    )
    return _levene_w(z)


def _group_power_moments(df: DataFrame, group_col: str, value_col: str):
    """Per-group power sums for the moment-based normality tests: v is
    pinned to ROUND 4 and each power term ROUND-pinned, then
    decimal-summed, to ``(group, n, __s1, __s2, __s3, __s4)`` (Σv..Σv⁴)
    in ONE map-combinable pass.  Returns that frame with the central
    moment column expressions m2, m3, m4 over it, so the moment algebra
    sees identical operands in any engine."""
    vals = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("group"),
        F.round(F.col(value_col).cast("double"), 4).alias("__v"),
    )
    v = F.col("__v")
    per_g = vals.groupBy("group").agg(
        F.count("*").alias("n"),
        F.sum(v.cast("decimal(18,4)")).alias("__s1"),
        F.sum(F.round(v * v, 8).cast("decimal(38,8)")).alias("__s2"),
        F.sum(F.round(v * v * v, 6).cast("decimal(38,6)")).alias("__s3"),
        F.sum(
            F.round(v * v * v * v, 6).cast("decimal(38,6)")
        ).alias("__s4"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("__s1").cast("double") / nd
    r2 = F.col("__s2").cast("double") / nd
    r3 = F.col("__s3").cast("double") / nd
    r4 = F.col("__s4").cast("double") / nd
    m2 = r2 - mean * mean
    m3 = r3 - F.lit(3.0) * mean * r2 + F.lit(2.0) * mean * mean * mean
    m4 = (
        r4
        - F.lit(4.0) * mean * r3
        + F.lit(6.0) * mean * mean * r2
        - F.lit(3.0) * mean * mean * mean * mean
    )
    return per_g, m2, m3, m4


def jarque_bera(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Jarque-Bera normality screen per group: JB = n/6 * (g1² + g2²/4)
    from the sample skewness g1 = m3/m2^1.5 and excess kurtosis
    g2 = m4/m2² - 3 — the moments-only normality test (no sort, no
    quantiles), which is what makes it the 100 TB-viable alternative
    to Shapiro-Wilk for "is this metric near-normal enough for the
    parametric tests".  Output — one row per group:
    ``(group, n, skewness, ex_kurtosis, jb_stat)`` (ROUND 6).

    Scale posture: ONE map-combinable aggregation pass per group
    collapses the corpus to four power sums (Σv..Σv⁴) — v pinned to
    ROUND 4, each power term ROUND-pinned then decimal-summed so the
    central-moment algebra sees identical operands in any engine."""
    per_g, m2, m3, m4 = _group_power_moments(df, group_col, value_col)
    nd = F.col("n").cast("double")
    g1 = m3 / F.sqrt(m2 * m2 * m2)
    g2 = m4 / (m2 * m2) - F.lit(3.0)
    jb = nd / F.lit(6.0) * (g1 * g1 + g2 * g2 / F.lit(4.0))
    ok = (F.col("n") >= 2) & (m2 > 0)
    return per_g.select(
        "group",
        F.col("n").cast("long").alias("n"),
        F.when(ok, F.round(g1, 6)).alias("skewness"),
        F.when(ok, F.round(g2, 6)).alias("ex_kurtosis"),
        F.when(ok, F.round(jb, 6)).alias("jb_stat"),
    )


def wilcoxon_signed_rank(
    df: DataFrame,
    key_col: str,
    group_col: str,
    value_col: str,
    a,
    b,
) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED observations: each key
    contributes the difference of its group-a and group-b means, and
    the test asks whether the differences are symmetric about zero —
    the paired sibling of [[q_mannwhitney]] (which assumes independent
    samples) and the rank-robust sibling of a paired t test.
    Zero differences are dropped (Wilcoxon's convention); midranks
    handle ties with the standard Σ(t³-t)/48 variance correction.
    Output — ONE row:
    ``(n_pairs, n_nonzero, w_plus, w_minus, z_stat)`` (ROUND 6).

    Scale posture: the pair table is ONE keyed aggregation (conditional
    decimal means per key — map-combinable); |d| midranks ride the
    distributed prefix scan over the |d| marginal (the Mann-Whitney
    doubled-integer discipline); everything after is 1-row algebra."""
    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    vals = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isin([a, b])
    ).select(
        F.col(key_col).alias("__k"),
        (F.col(group_col) == a).alias("__isa"),
        F.col(value_col).cast("double").alias("__v"),
    )
    vq = F.col("__v").cast("decimal(18,4)")
    pairs = (
        vals.groupBy("__k")
        .agg(
            F.sum(F.when(F.col("__isa"), vq)).alias("__sa"),
            F.count(F.when(F.col("__isa"), F.lit(1))).alias("__na"),
            F.sum(F.when(~F.col("__isa"), vq)).alias("__sb"),
            F.count(F.when(~F.col("__isa"), F.lit(1))).alias("__nb"),
        )
        .filter((F.col("__na") > 0) & (F.col("__nb") > 0))
        .select(
            F.round(
                F.col("__sa").cast("double") / F.col("__na")
                - F.col("__sb").cast("double") / F.col("__nb"),
                6,
            ).alias("__d")
        )
    )
    n_pairs = pairs.agg(F.count("*").alias("n_pairs"))
    nz = pairs.filter(F.col("__d") != 0)
    marg = nz.groupBy(F.abs(F.col("__d")).alias("__ad")).agg(
        F.count("*").alias("__ct"),
        F.sum(F.when(F.col("__d") > 0, 1).otherwise(0)).alias("__cp"),
    )
    cum = prefix_sums(marg, "__ad", ["__ct"], prefix="__cm_")
    # doubled midrank: m2 = 2*(cum - ct) + ct + 1 ; rank = m2/2
    m2 = (
        F.lit(2) * (F.col("__cm___ct") - F.col("__ct"))
        + F.col("__ct")
        + F.lit(1)
    ).cast("decimal(38,0)")
    agg = cum.agg(
        F.sum(F.col("__ct")).alias("n_nonzero"),
        F.sum(F.col("__cp").cast("decimal(38,0)") * m2).alias("__wp2"),
        F.sum(
            (
                F.col("__ct").cast("decimal(38,0)")
                * F.col("__ct")
                * F.col("__ct")
                - F.col("__ct")
            ).cast("decimal(38,0)")
        ).alias("__tie"),
    )
    nd = F.col("n_nonzero").cast("double")
    wp = F.col("__wp2").cast("double") / F.lit(2.0)
    wm = nd * (nd + F.lit(1.0)) / F.lit(2.0) - wp
    var = nd * (nd + F.lit(1.0)) * (F.lit(2.0) * nd + F.lit(1.0)) / F.lit(
        24.0
    ) - F.col("__tie").cast("double") / F.lit(48.0)
    z = (wp - nd * (nd + F.lit(1.0)) / F.lit(4.0)) / F.sqrt(var)
    return agg.join(broadcast(n_pairs), F.lit(True)).select(
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.coalesce(F.col("n_nonzero"), F.lit(0)).cast("long").alias(
            "n_nonzero"
        ),
        F.round(wp, 6).alias("w_plus"),
        F.round(wm, 6).alias("w_minus"),
        F.when((F.col("n_nonzero") >= 1) & (var > 0), F.round(z, 6)).alias(
            "z_stat"
        ),
    )


def durbin_watson(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
) -> DataFrame:
    """Durbin-Watson statistic per series: DW = Σ(e_t - e_{t-1})² / Σe_t²
    on the mean-centered series — the first-order autocorrelation screen
    (DW ≈ 2 means none; → 0 strong positive; → 4 strong negative) that
    validates the independence assumption behind [[q_welch_ttest]] /
    [[q_anova]] on per-entity event streams.  Output — one row per key:
    ``(key, n, dw_stat)`` (ROUND 6).

    Scale posture: per-key means are one map-combinable collapse joined
    back by keyed broadcast; the lag ride a PER-KEY window (partitioned
    — never global); both quadratic sums are ROUND-pinned decimals, so
    the ratio is order-independent."""
    vals = df.filter(
        F.col(value_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(key_col).isNotNull()
    ).select(
        F.col(key_col).alias("key"),
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        F.col(value_col).cast("double").alias("__v"),
    )
    vq = F.col("__v").cast("decimal(18,4)")
    means = vals.groupBy("key").agg(
        (F.sum(vq).cast("double") / F.count("*")).alias("__mean")
    )
    w = Window.partitionBy("key").orderBy("__ts", "__id")
    e = F.round(
        F.col("__v").cast("decimal(18,4)").cast("double") - F.col("__mean"),
        6,
    )
    resid = vals.join(broadcast(means), "key").select(
        "key", e.alias("__e"), F.lag(e).over(w).alias("__ep")
    )
    agg = resid.groupBy("key").agg(
        F.count("*").alias("n"),
        F.sum(
            F.round(
                (F.col("__e") - F.col("__ep"))
                * (F.col("__e") - F.col("__ep")),
                10,
            ).cast("decimal(38,10)")
        ).alias("__num"),
        F.sum(
            F.round(F.col("__e") * F.col("__e"), 10).cast("decimal(38,10)")
        ).alias("__den"),
    )
    return agg.select(
        "key",
        F.col("n").cast("long").alias("n"),
        F.when(
            (F.col("n") >= 2) & (F.col("__den") > 0),
            F.round(
                F.col("__num").cast("double")
                / F.col("__den").cast("double"),
                6,
            ),
        ).alias("dw_stat"),
    )


def cochran_armitage(
    df: DataFrame, score_col: str, success_col: str
) -> DataFrame:
    """Cochran-Armitage trend test: does the success PROPORTION trend
    monotonically across ordered exposure levels (dose-response)?
    T = Σ s_i(r_i - n_i p̄), Var(T) = p̄(1-p̄)(Σ s_i²n_i - (Σ s_i n_i)²/N),
    z = T/√Var — the ordered-alternative sibling of [[q_chi_square]]
    (which ignores level order) for binary outcomes, as [[q_jonckheere]]
    is for continuous ones.  Output — ONE row:
    ``(n, k_levels, t_stat, z_stat)`` (ROUND 6).

    Scale posture: the corpus collapses to one k-level contingency
    table in a single map-combinable pass; ALL five sufficient sums
    (N, R, Σsr, Σsn, Σs²n — exact integers) come off a second k-row
    aggregate, so there is no cross join anywhere."""
    vals = df.filter(
        F.col(score_col).isNotNull() & F.col(success_col).isNotNull()
    ).select(
        F.col(score_col).cast("long").alias("__s"),
        F.col(success_col).cast("boolean").alias("__ok"),
    )
    levels = vals.groupBy("__s").agg(
        F.count("*").alias("__n"),
        F.sum(F.when(F.col("__ok"), 1).otherwise(0)).alias("__r"),
    )
    agg = levels.agg(
        F.sum("__n").alias("n"),
        F.count("*").alias("k_levels"),
        F.sum("__r").alias("__rr"),
        F.sum(F.col("__s").cast("decimal(38,0)") * F.col("__r")).alias(
            "__sr"
        ),
        F.sum(F.col("__s").cast("decimal(38,0)") * F.col("__n")).alias(
            "__sn"
        ),
        F.sum(
            F.col("__s").cast("decimal(38,0)")
            * F.col("__s")
            * F.col("__n")
        ).alias("__ssn"),
    )
    nd = F.col("n").cast("double")
    pbar = F.col("__rr").cast("double") / nd
    t = F.col("__sr").cast("double") - F.col("__sn").cast("double") * pbar
    var = (
        pbar
        * (F.lit(1.0) - pbar)
        * (
            F.col("__ssn").cast("double")
            - F.col("__sn").cast("double")
            * F.col("__sn").cast("double")
            / nd
        )
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("k_levels").cast("long").alias("k_levels"),
        F.round(t, 6).alias("t_stat"),
        F.when(var > 0, F.round(t / F.sqrt(var), 6)).alias("z_stat"),
    )


def periodogram(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    periods: tuple = (2, 3, 4, 5, 6, 7, 10, 14),
) -> DataFrame:
    """Schuster periodogram of the daily series at candidate periods:
    I(p) = (C_p² + S_p²)/n with C_p = Σ(x_t - x̄)cos(2πt/p) and
    S_p = Σ(x_t - x̄)sin(2πt/p) — seasonality detection by direct DFT
    probe (is there a weekly cycle?), the frequency-domain companion
    of [[q_acf]].  Output — one row per candidate period:
    ``(period, n_days, power)`` (ROUND 6).

    Scale posture: the corpus collapses to the DAILY series first
    (map-combinable decimal means); the per-period probe is a
    |periods|× map-side explode of that days-sized table — cos/sin
    terms ROUND-pinned then decimal-summed; the day-zero anchor and
    grand mean are one annotated 1-row broadcast cross."""
    import math

    daily = (
        df.filter(F.col(value_col).isNotNull() & F.col(ts_col).isNotNull())
        .groupBy(F.date_trunc("day", F.col(ts_col)).alias("__day"))
        .agg(
            F.round(
                F.sum(F.col(value_col).cast("double").cast("decimal(18,4)"))
                .cast("double")
                / F.count("*"),
                6,
            ).alias("__x")
        )
    )
    stats = daily.agg(
        F.count("*").alias("__nd"),
        F.min("__day").alias("__d0"),
        (
            F.sum(F.col("__x").cast("decimal(38,6)")).cast("double")
            / F.count("*")
        ).alias("__xbar"),
    )
    probes = F.array(
        *[
            F.struct(
                F.lit(int(p)).alias("period"),
                F.lit(2.0 * math.pi / float(p)).alias("w"),
            )
            for p in periods
        ]
    )
    t = F.datediff(F.col("__day"), F.col("__d0")).cast("double")
    dx = F.col("__x") - F.col("__xbar")
    exploded = (
        daily.join(broadcast(stats), F.lit(True))
        .select("__x", "__xbar", "__nd", t.alias("__t"), F.explode(probes).alias("__p"))
        .select(
            F.col("__p.period").alias("period"),
            F.col("__nd"),
            F.round(
                dx * F.cos(F.col("__p.w") * F.col("__t")), 12
            ).cast("decimal(38,12)").alias("__c"),
            F.round(
                dx * F.sin(F.col("__p.w") * F.col("__t")), 12
            ).cast("decimal(38,12)").alias("__s"),
        )
    )
    agg = exploded.groupBy("period").agg(
        F.max("__nd").alias("n_days"),
        F.sum("__c").alias("__cs"),
        F.sum("__s").alias("__ss"),
    )
    power = (
        F.col("__cs").cast("double") * F.col("__cs").cast("double")
        + F.col("__ss").cast("double") * F.col("__ss").cast("double")
    ) / F.col("n_days").cast("double")
    return agg.select(
        F.col("period").cast("long").alias("period"),
        F.col("n_days").cast("long").alias("n_days"),
        F.round(power, 6).alias("power"),
    ).orderBy("period")


def anderson_darling_2samp(
    df: DataFrame, group_col: str, value_col: str, a, b
) -> DataFrame:
    """Two-sample Anderson-Darling criterion, tie-adjusted midrank form
    (Scholz & Stephens 1987, eq. 7 — the A2akN statistic scipy's
    ``anderson_ksamp`` computes for k=2): weights the ECDF discrepancy
    by 1/(F(1-F)), which makes it the TAIL-sensitive whole-distribution
    drift test ([[q_ks_test]] sees the max gap, [[q_cramer_von_mises]]
    the average; AD up-weights the tails where drift in extreme values
    hides).  Output — ONE row: ``(n_a, n_b, a2_stat)`` (ROUND 6).

    Scale posture: one pooled value-marginal collapse; per-sample and
    pooled midrank cumulatives ride a single distributed prefix scan;
    per-value terms are ROUND(12)-pinned decimal sums; the group
    totals are one annotated 1-row broadcast cross."""
    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    marg, tot = _two_group_marginal(df, group_col, value_col, a, b)
    cum = prefix_sums(marg, "__v", ["__ca", "__cb"], prefix="__cm_")
    lj = (F.col("__ca") + F.col("__cb")).cast("double")
    nn = (F.col("n_a") + F.col("n_b")).cast("double")
    # midrank-adjusted cumulatives: B_j = C_j - l_j/2 (pooled),
    # M_ij = C_ij - l_ij/2 (per sample)
    bj = (F.col("__cm___ca") + F.col("__cm___cb")).cast("double") - lj / F.lit(2.0)
    ma = F.col("__cm___ca").cast("double") - F.col("__ca").cast(
        "double"
    ) / F.lit(2.0)
    mb = F.col("__cm___cb").cast("double") - F.col("__cb").cast(
        "double"
    ) / F.lit(2.0)
    denom = bj * (nn - bj) - nn * lj / F.lit(4.0)
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")

    def term(mi, ni):
        gap = nn * mi - bj * ni
        return F.when(
            denom > 0,
            F.round(lj / nn * (gap * gap) / denom, 12),
        ).otherwise(F.lit(0.0)).cast("decimal(38,12)")

    agg = cum.join(broadcast(tot), F.lit(True)).agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.sum(term(ma, na)).alias("__sa"),
        F.sum(term(mb, nb)).alias("__sb"),
    )
    na2 = F.col("n_a").cast("double")
    nb2 = F.col("n_b").cast("double")
    nn2 = na2 + nb2
    a2 = (
        (nn2 - F.lit(1.0))
        / nn2
        * (
            F.col("__sa").cast("double") / na2
            + F.col("__sb").cast("double") / nb2
        )
    )
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0), F.round(a2, 6)
        ).alias("a2_stat"),
    )


def brunner_munzel(
    df: DataFrame, group_col: str, value_col: str, a, b
) -> DataFrame:
    """Brunner-Munzel test (generalized Wilcoxon for the
    Behrens-Fisher situation): tests P(X < Y) + P(X = Y)/2 = 1/2
    WITHOUT assuming equal variances or distribution shapes — the
    modern replacement for [[q_mannwhitney]] when the two groups'
    spreads differ (where Mann-Whitney's variance assumption breaks).
    Output — ONE row: ``(n_a, n_b, p_hat, w_stat)`` where p_hat is the
    common-language effect P(a < b) + P(a = b)/2 and W the studentized
    statistic (Brunner & Munzel 2000), ROUND(6).

    Scale posture: pooled AND within-group midranks all ride ONE
    distributed prefix scan of the two-count value marginal; the
    rank-variance pass consumes the same marginal crossed with the
    1-row rank-mean aggregate (annotated scalar cross); per-value
    contributions are ROUND(12)-pinned decimal sums."""
    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    marg, _ = _two_group_marginal(df, group_col, value_col, a, b)
    cum = prefix_sums(marg, "__v", ["__ca", "__cb"], prefix="__cm_")
    ct = F.col("__ca") + F.col("__cb")
    cm = F.col("__cm___ca") + F.col("__cm___cb")
    # doubled midranks (exact integers): pooled and within-group
    m2p = F.lit(2) * (cm - ct) + ct + F.lit(1)
    m2a = (
        F.lit(2) * (F.col("__cm___ca") - F.col("__ca"))
        + F.col("__ca")
        + F.lit(1)
    )
    m2b = (
        F.lit(2) * (F.col("__cm___cb") - F.col("__cb"))
        + F.col("__cb")
        + F.lit(1)
    )
    stage1 = cum.agg(
        F.sum("__ca").alias("n_a"),
        F.sum("__cb").alias("n_b"),
        F.sum(
            F.col("__ca").cast("decimal(38,0)") * m2p.cast("decimal(19,0)")
        ).alias("__wa2"),
        F.sum(
            F.col("__cb").cast("decimal(38,0)") * m2p.cast("decimal(19,0)")
        ).alias("__wb2"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    rbar_a = F.col("__wa2").cast("double") / (F.lit(2.0) * na)
    rbar_b = F.col("__wb2").cast("double") / (F.lit(2.0) * nb)
    # per-value squared deviations (R_pooled - R_within - Rbar + (n_i+1)/2)²
    dev_a = (
        m2p.cast("double") / F.lit(2.0)
        - m2a.cast("double") / F.lit(2.0)
        - rbar_a
        + (na + F.lit(1.0)) / F.lit(2.0)
    )
    dev_b = (
        m2p.cast("double") / F.lit(2.0)
        - m2b.cast("double") / F.lit(2.0)
        - rbar_b
        + (nb + F.lit(1.0)) / F.lit(2.0)
    )
    agg = cum.join(broadcast(stage1), F.lit(True)).agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.max(rbar_a).alias("__ra"),
        F.max(rbar_b).alias("__rb"),
        F.sum(
            F.round(F.col("__ca").cast("double") * dev_a * dev_a, 12).cast(
                "decimal(38,12)"
            )
        ).alias("__ssa"),
        F.sum(
            F.round(F.col("__cb").cast("double") * dev_b * dev_b, 12).cast(
                "decimal(38,12)"
            )
        ).alias("__ssb"),
    )
    na2 = F.col("n_a").cast("double")
    nb2 = F.col("n_b").cast("double")
    s2a = F.col("__ssa").cast("double") / (na2 - F.lit(1.0))
    s2b = F.col("__ssb").cast("double") / (nb2 - F.lit(1.0))
    sig = na2 * s2a + nb2 * s2b
    w = (
        na2
        * nb2
        * (F.col("__rb") - F.col("__ra"))
        / ((na2 + nb2) * F.sqrt(sig))
    )
    p_hat = (F.col("__rb") - (nb2 + F.lit(1.0)) / F.lit(2.0)) / na2
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0), F.round(p_hat, 6)
        ).alias("p_hat"),
        F.when(
            (F.col("n_a") >= 2) & (F.col("n_b") >= 2) & (sig > 0),
            F.round(w, 6),
        ).alias("w_stat"),
    )


def _welch_moments(
    df: DataFrame, group_col: str, value_col: str, a, b
):
    """The welch_ttest sufficient-stat collapse (n, Σv, Σv² per group,
    decimal-exact) pivoted wide — shared by the effect-size and
    equivalence operators so every derived float sees identical
    operands in any engine."""
    two = df.filter(
        F.col(group_col).isin([a, b]) & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"),
        F.col(value_col).cast("double").alias("__v"),
    )
    vq = F.col("__v").cast("decimal(18,4)")
    per_g = two.groupBy("__g").agg(
        F.count("*").alias("__n"),
        F.sum(vq).alias("__s1"),
        F.sum((vq * vq).cast("decimal(38,8)")).alias("__s2"),
    )
    return per_g.agg(
        F.sum(F.when(F.col("__g") == a, F.col("__n"))).alias("n_a"),
        F.sum(F.when(F.col("__g") == a, F.col("__s1"))).alias("__s1a"),
        F.sum(F.when(F.col("__g") == a, F.col("__s2"))).alias("__s2a"),
        F.sum(F.when(F.col("__g") == b, F.col("__n"))).alias("n_b"),
        F.sum(F.when(F.col("__g") == b, F.col("__s1"))).alias("__s1b"),
        F.sum(F.when(F.col("__g") == b, F.col("__s2"))).alias("__s2b"),
    )


def effect_sizes(
    df: DataFrame, group_col: str, value_col: str, a, b
) -> DataFrame:
    """Standardized mean-difference effect sizes between two groups:
    Cohen's d (pooled SD), Hedges' g (small-sample bias correction
    J = 1 - 3/(4(n_a+n_b)-9)), and Glass's Δ (control-group SD — group
    b is the control) — the MAGNITUDE companion to [[q_welch_ttest]]'s
    significance (a p-value without an effect size is how trivially
    true differences ship as "wins").  Output — ONE row:
    ``(n_a, n_b, mean_diff, cohens_d, hedges_g, glass_delta)``
    (ROUND 6).

    Scale posture: ONE map-combinable aggregation collapses the corpus
    to two sufficient-stat rows; everything after is scalar algebra
    inside the plan."""
    wide = _welch_moments(df, group_col, value_col, a, b)
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    ma = F.col("__s1a").cast("double") / na
    mb = F.col("__s1b").cast("double") / nb
    va = (F.col("__s2a").cast("double") - na * ma * ma) / (na - F.lit(1.0))
    vb = (F.col("__s2b").cast("double") - nb * mb * mb) / (nb - F.lit(1.0))
    sp2 = ((na - F.lit(1.0)) * va + (nb - F.lit(1.0)) * vb) / (
        na + nb - F.lit(2.0)
    )
    d = (ma - mb) / F.sqrt(sp2)
    j = F.lit(1.0) - F.lit(3.0) / (
        F.lit(4.0) * (na + nb) - F.lit(9.0)
    )
    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
    return wide.select(
        F.coalesce(F.col("n_a"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.col("n_b"), F.lit(0)).cast("long").alias("n_b"),
        F.round(ma - mb, 6).alias("mean_diff"),
        F.when(ok & (sp2 > 0), F.round(d, 6)).alias("cohens_d"),
        F.when(ok & (sp2 > 0), F.round(d * j, 6)).alias("hedges_g"),
        F.when(ok & (vb > 0), F.round((ma - mb) / F.sqrt(vb), 6)).alias(
            "glass_delta"
        ),
    )


def tost_equivalence(
    df: DataFrame,
    group_col: str,
    value_col: str,
    a,
    b,
    margin: float,
) -> DataFrame:
    """TOST equivalence test (two one-sided tests): is the mean
    difference provably INSIDE ±margin?  t_lower = (diff+margin)/se
    must exceed and t_upper = (diff-margin)/se must fall below the
    one-sided critical value — the test that distinguishes "no
    significant difference" (absence of evidence) from "demonstrated
    equivalence" (evidence of absence), the launch gate for
    do-no-harm changes.  Welch (unequal-variance) standard error and
    Welch-Satterthwaite df; the ``equivalent`` verdict uses the
    z-approximation critical value 1.6449 (alpha = 0.05 one-sided) —
    documented approximation, exact t quantiles need no data pass
    anyway.  Output — ONE row: ``(n_a, n_b, mean_diff, se, t_lower,
    t_upper, df, equivalent)`` (ROUND 6).

    Scale posture: identical to effect_sizes — one sufficient-stat
    collapse, scalar algebra after."""
    wide = _welch_moments(df, group_col, value_col, a, b)
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    ma = F.col("__s1a").cast("double") / na
    mb = F.col("__s1b").cast("double") / nb
    va = (F.col("__s2a").cast("double") - na * ma * ma) / (na - F.lit(1.0))
    vb = (F.col("__s2b").cast("double") - nb * mb * mb) / (nb - F.lit(1.0))
    se2a = va / na
    se2b = vb / nb
    se = F.sqrt(se2a + se2b)
    diff = ma - mb
    m = F.lit(float(margin))
    t_lo = (diff + m) / se
    t_hi = (diff - m) / se
    dfw = (
        (se2a + se2b)
        * (se2a + se2b)
        / (
            se2a * se2a / (na - F.lit(1.0))
            + se2b * se2b / (nb - F.lit(1.0))
        )
    )
    crit = F.lit(1.6449)
    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2) & (se > 0)
    return wide.select(
        F.coalesce(F.col("n_a"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.col("n_b"), F.lit(0)).cast("long").alias("n_b"),
        F.round(diff, 6).alias("mean_diff"),
        F.when(ok, F.round(se, 6)).alias("se"),
        F.when(ok, F.round(t_lo, 6)).alias("t_lower"),
        F.when(ok, F.round(t_hi, 6)).alias("t_upper"),
        F.when(ok, F.round(dfw, 6)).alias("df"),
        F.when(ok, (t_lo > crit) & (t_hi < -crit)).alias("equivalent"),
    )


def mantel_haenszel(
    df: DataFrame,
    stratum_col: str,
    exposed_col: str,
    outcome_col: str,
) -> DataFrame:
    """Mantel-Haenszel common odds ratio across strata: OR_MH =
    Σ(a_i·d_i/n_i) / Σ(b_i·c_i/n_i) over per-stratum 2×2 tables —
    the confounding-adjusted effect estimate (Simpson's-paradox
    insurance: the crude OR pools strata and can reverse sign; MH
    weights each stratum's OR by its information).  Output — ONE row:
    ``(k_strata, n, or_crude, or_mh)`` (ROUND 6).

    Scale posture: the corpus collapses to k 2×2 tables in one
    map-combinable pass; both estimates come off a second k-row
    aggregate of ROUND(12)-pinned decimal terms — no cross joins."""
    vals = df.filter(
        F.col(stratum_col).isNotNull()
        & F.col(exposed_col).isNotNull()
        & F.col(outcome_col).isNotNull()
    ).select(
        F.col(stratum_col).alias("__s"),
        F.col(exposed_col).cast("boolean").alias("__e"),
        F.col(outcome_col).cast("boolean").alias("__o"),
    )
    cells = vals.groupBy("__s").agg(
        F.sum(F.when(F.col("__e") & F.col("__o"), 1).otherwise(0)).alias(
            "__a"
        ),
        F.sum(F.when(F.col("__e") & ~F.col("__o"), 1).otherwise(0)).alias(
            "__b"
        ),
        F.sum(F.when(~F.col("__e") & F.col("__o"), 1).otherwise(0)).alias(
            "__c"
        ),
        F.sum(F.when(~F.col("__e") & ~F.col("__o"), 1).otherwise(0)).alias(
            "__d"
        ),
    )
    ni = (
        F.col("__a") + F.col("__b") + F.col("__c") + F.col("__d")
    ).cast("double")
    num = F.round(
        F.col("__a").cast("double") * F.col("__d").cast("double") / ni, 12
    ).cast("decimal(38,12)")
    den = F.round(
        F.col("__b").cast("double") * F.col("__c").cast("double") / ni, 12
    ).cast("decimal(38,12)")
    agg = cells.agg(
        F.count("*").alias("k_strata"),
        F.sum(F.col("__a") + F.col("__b") + F.col("__c") + F.col("__d"))
        .alias("n"),
        F.sum("__a").alias("__ta"),
        F.sum("__b").alias("__tb"),
        F.sum("__c").alias("__tc"),
        F.sum("__d").alias("__td"),
        F.sum(num).alias("__num"),
        F.sum(den).alias("__den"),
    )
    crude = (
        F.col("__ta").cast("double") * F.col("__td").cast("double")
    ) / (F.col("__tb").cast("double") * F.col("__tc").cast("double"))
    return agg.select(
        F.col("k_strata").cast("long").alias("k_strata"),
        F.col("n").cast("long").alias("n"),
        F.when(
            (F.col("__tb") > 0) & (F.col("__tc") > 0), F.round(crude, 6)
        ).alias("or_crude"),
        F.when(
            F.col("__den").cast("double") > 0,
            F.round(
                F.col("__num").cast("double")
                / F.col("__den").cast("double"),
                6,
            ),
        ).alias("or_mh"),
    )


def g_test(df: DataFrame, a_col, b_col) -> DataFrame:
    """G-test (likelihood-ratio chi-square) of independence:
    G = 2 Σ O ln(O/E) over observed contingency cells — the
    information-theoretic sibling of [[q_chi_square]] (G is exactly
    2N times the mutual information in nats, so it composes with the
    entropy family; Pearson's X² is its second-order Taylor
    approximation, diverging on small-expectation cells).  Absent
    cells contribute 0 (O·ln(O/E) → 0 as O → 0), so sparse pairs need
    no dense cell explosion.  Output — ONE row:
    ``(n, n_a, n_b, dof, g_stat)`` (ROUND 6).

    Scale posture: identical to chi_square_independence — one (a, b)
    count shuffle collapses the corpus to the contingency table,
    marginals are windows over the |cells| rows, the final sum is one
    scalar of ROUND(12)-pinned decimal terms."""
    a = a_col if not isinstance(a_col, str) else F.col(a_col)
    b = b_col if not isinstance(b_col, str) else F.col(b_col)
    cells = df.select(a.alias("a"), b.alias("b")).groupBy("a", "b").agg(
        F.count("*").alias("o")
    )
    wa = Window.partitionBy("a")
    wb = Window.partitionBy("b")
    wall = Window.partitionBy()
    with_marg = cells.select(
        "o",
        F.sum("o").over(wa).alias("row_tot"),
        F.sum("o").over(wb).alias("col_tot"),
        F.sum("o").over(wall).alias("grand"),
        F.col("a"),
        F.col("b"),
    )
    e = (
        F.col("row_tot").cast("double")
        * F.col("col_tot").cast("double")
        / F.col("grand").cast("double")
    )
    o = F.col("o").cast("double")
    term = F.round(o * F.log(o / e), 12).cast("decimal(28,12)")
    agg = with_marg.agg(
        F.max(F.col("grand")).alias("n"),
        F.count_distinct("a").alias("n_a"),
        F.count_distinct("b").alias("n_b"),
        F.sum(term).alias("__g"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        ((F.col("n_a") - 1) * (F.col("n_b") - 1)).cast("long").alias(
            "dof"
        ),
        F.round(F.lit(2.0) * F.col("__g").cast("double"), 6).alias(
            "g_stat"
        ),
    )


def spectral_entropy(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    periods: tuple = (2, 3, 4, 5, 6, 7, 10, 14),
) -> DataFrame:
    """Spectral entropy of the daily series over the candidate-period
    power spectrum: H = -Σ p_i ln(p_i) with p_i the normalized
    periodogram power, plus H/ln(k) in [0, 1] — LOW means one period
    dominates (strong seasonality), HIGH means noise-like; the
    one-number "is this series forecastable" screen on top of
    [[q_periodogram]].  Output — ONE row:
    ``(k_periods, total_power, entropy, entropy_norm)`` (ROUND 6).

    Scale posture: composes the periodogram (daily collapse + probe
    explode); the normalization total is one annotated 1-row cross
    over the |periods|-row power table."""
    pw = periodogram(df, ts_col, value_col, periods=periods)
    tot = pw.agg(
        F.sum(F.col("power").cast("decimal(38,6)")).alias("__tot"),
        F.count(F.when(F.col("power") > 0, F.lit(1))).alias("k_pos"),
    )
    p = F.col("power") / F.col("__tot").cast("double")
    term = F.when(
        F.col("power") > 0, F.round(-p * F.log(p), 12)
    ).otherwise(F.lit(0.0)).cast("decimal(38,12)")
    agg = pw.join(broadcast(tot), F.lit(True)).agg(
        F.count("*").alias("k_periods"),
        F.max("k_pos").alias("__kp"),
        F.max(F.col("__tot")).alias("__t"),
        F.sum(term).alias("__h"),
    )
    h = F.col("__h").cast("double")
    return agg.select(
        F.col("k_periods").cast("long").alias("k_periods"),
        F.round(F.col("__t").cast("double"), 6).alias("total_power"),
        F.when(F.col("__kp") >= 1, F.round(h, 6)).alias("entropy"),
        F.when(
            F.col("__kp") >= 2,
            F.round(h / F.log(F.col("__kp").cast("double")), 6),
        ).alias("entropy_norm"),
    )


def logrank_test(
    df: DataFrame,
    group_col: str,
    duration_col: str,
    observed_col: str,
    a,
    b,
) -> DataFrame:
    """Log-rank (Mantel-Cox) test between two groups' survival curves:
    at each distinct event time, compare group a's observed events to
    its expectation under the pooled risk set, with the standard
    hypergeometric variance and tie handling — the significance test
    behind the [[q_survival_km]] curves (do the two arms' time-to-event
    distributions differ?).  Output — ONE row:
    ``(n_a, n_b, observed_a, expected_a, z_stat)`` (ROUND 6; z > 0
    means group a fails FASTER than expected).

    Scale posture: subjects collapse to the per-distinct-duration
    marginal (per-group at-risk/event counts); BOTH groups' risk sets
    ride ONE distributed prefix scan; per-time terms are ROUND(12)-
    pinned decimal sums; the subject totals are one annotated 1-row
    broadcast cross."""
    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    subj = df.filter(
        F.col(duration_col).isNotNull()
        & F.col(observed_col).isNotNull()
        & F.col(group_col).isin([a, b])
    ).select(
        (F.col(group_col) == a).alias("__isa"),
        F.col(duration_col).alias("__t"),
        F.col(observed_col).cast("boolean").alias("__obs"),
    )
    marg = subj.groupBy("__t").agg(
        F.sum(F.when(F.col("__isa"), 1).otherwise(0)).alias("__ca"),
        F.sum(F.when(~F.col("__isa"), 1).otherwise(0)).alias("__cb"),
        F.sum(
            F.when(F.col("__isa") & F.col("__obs"), 1).otherwise(0)
        ).alias("__da"),
        F.sum(
            F.when(~F.col("__isa") & F.col("__obs"), 1).otherwise(0)
        ).alias("__db"),
    )
    cum = prefix_sums(marg, "__t", ["__ca", "__cb"], prefix="__cm_")
    tot = subj.agg(
        F.sum(F.when(F.col("__isa"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(~F.col("__isa"), 1).otherwise(0)).alias("n_b"),
    )
    # at risk at t: duration >= t, i.e. total minus strictly-earlier
    r1 = (F.col("n_a") - (F.col("__cm___ca") - F.col("__ca"))).cast(
        "double"
    )
    r0 = (F.col("n_b") - (F.col("__cm___cb") - F.col("__cb"))).cast(
        "double"
    )
    nt = r1 + r0
    d = (F.col("__da") + F.col("__db")).cast("double")
    e1 = d * (r1 / nt)
    v = (
        d
        * (r1 / nt)
        * (F.lit(1.0) - r1 / nt)
        * ((nt - d) / (nt - F.lit(1.0)))
    )
    has_event = (F.col("__da") + F.col("__db")) > 0
    agg = cum.join(broadcast(tot), F.lit(True)).agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.sum(F.when(has_event, F.col("__da")).otherwise(0)).alias(
            "observed_a"
        ),
        F.sum(
            F.when(has_event, F.round(e1, 12))
            .otherwise(0.0)
            .cast("decimal(38,12)")
        ).alias("__e1"),
        F.sum(
            F.when(has_event & (nt > 1), F.round(v, 12))
            .otherwise(0.0)
            .cast("decimal(38,12)")
        ).alias("__v"),
    )
    z = (
        F.col("observed_a").cast("double")
        - F.col("__e1").cast("double")
    ) / F.sqrt(F.col("__v").cast("double"))
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("observed_a").cast("long").alias("observed_a"),
        F.round(F.col("__e1").cast("double"), 6).alias("expected_a"),
        F.when(F.col("__v").cast("double") > 0, F.round(z, 6)).alias(
            "z_stat"
        ),
    )


def two_proportion_ztest(
    df: DataFrame, group_col, success_col
) -> DataFrame:
    """Two-proportion z-test (pooled variance): the conversion-rate
    A/B gate — z = (p_a - p_b)/√(p̂(1-p̂)(1/n_a + 1/n_b)) with p̂ the
    pooled rate; the binary-outcome sibling of [[q_welch_ttest]].
    ``group_col`` must be boolean (true = arm a).  Output — ONE row:
    ``(n_a, n_b, p_a, p_b, z_stat)`` (ROUND 6).

    Scale posture: ONE map-combinable aggregation collapses the corpus
    to four counts; scalar algebra after."""
    g = group_col if not isinstance(group_col, str) else F.col(group_col)
    s = (
        success_col
        if not isinstance(success_col, str)
        else F.col(success_col)
    )
    vals = df.select(
        g.cast("boolean").alias("__g"), s.cast("boolean").alias("__s")
    ).filter(F.col("__g").isNotNull() & F.col("__s").isNotNull())
    agg = vals.agg(
        F.sum(F.when(F.col("__g"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("__g") & F.col("__s"), 1).otherwise(0)).alias(
            "__sa"
        ),
        F.sum(F.when(~F.col("__g"), 1).otherwise(0)).alias("n_b"),
        F.sum(
            F.when(~F.col("__g") & F.col("__s"), 1).otherwise(0)
        ).alias("__sb"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    pa = F.col("__sa").cast("double") / na
    pb = F.col("__sb").cast("double") / nb
    pp = (F.col("__sa") + F.col("__sb")).cast("double") / (na + nb)
    se = F.sqrt(
        pp * (F.lit(1.0) - pp) * (F.lit(1.0) / na + F.lit(1.0) / nb)
    )
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.when(F.col("n_a") > 0, F.round(pa, 6)).alias("p_a"),
        F.when(F.col("n_b") > 0, F.round(pb, 6)).alias("p_b"),
        F.when(ok & (se > 0), F.round((pa - pb) / se, 6)).alias("z_stat"),
    )


def poisson_rate_ratio(
    df: DataFrame,
    group_col,
    event_col,
    exposure_a: float,
    exposure_b: float,
) -> DataFrame:
    """Incidence-rate ratio between two arms with known exposures:
    IRR = (c_a/T_a)/(c_b/T_b), tested on the log scale with
    se = √(1/c_a + 1/c_b) — the count-outcome member of the A/B
    family (errors per machine-day, crashes per session-hour), where
    the proportion test does not apply because events can recur.
    ``group_col`` must be boolean (true = arm a); ``event_col``
    selects which rows count.  Output — ONE row:
    ``(c_a, c_b, rate_a, rate_b, irr, z_stat)`` (ROUND 6).

    Scale posture: ONE map-combinable aggregation collapses the corpus
    to two counts; scalar algebra after."""
    g = group_col if not isinstance(group_col, str) else F.col(group_col)
    e = event_col if not isinstance(event_col, str) else F.col(event_col)
    vals = df.select(
        g.cast("boolean").alias("__g"), e.cast("boolean").alias("__e")
    ).filter(F.col("__g").isNotNull() & F.col("__e").isNotNull())
    agg = vals.agg(
        F.sum(F.when(F.col("__g") & F.col("__e"), 1).otherwise(0)).alias(
            "c_a"
        ),
        F.sum(
            F.when(~F.col("__g") & F.col("__e"), 1).otherwise(0)
        ).alias("c_b"),
    )
    ta = F.lit(float(exposure_a))
    tb = F.lit(float(exposure_b))
    ca = F.col("c_a").cast("double")
    cb = F.col("c_b").cast("double")
    ra = ca / ta
    rb = cb / tb
    irr = ra / rb
    z = F.log(irr) / F.sqrt(F.lit(1.0) / ca + F.lit(1.0) / cb)
    ok = (F.col("c_a") > 0) & (F.col("c_b") > 0)
    return agg.select(
        F.col("c_a").cast("long").alias("c_a"),
        F.col("c_b").cast("long").alias("c_b"),
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        F.when(ok, F.round(irr, 6)).alias("irr"),
        F.when(ok, F.round(z, 6)).alias("z_stat"),
    )


def bartlett_test(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Bartlett's test for homogeneity of variances: T = [(N-k)·ln s_p²
    - Σ(n_i-1)·ln s_i²] / [1 + (Σ 1/(n_i-1) - 1/(N-k)) / (3(k-1))] —
    the PARAMETRIC variance gate (most powerful under normality, where
    [[q_levene]] is the robust fallback; run [[q_jarque_bera]] first to
    pick).  Output — ONE row: ``(n, k_groups, t_stat)`` (ROUND 6).

    Scale posture: the same single sufficient-stat collapse as
    one_way_anova (n, Σv, Σv² per group, decimal-exact); the statistic
    is a k-row aggregate of ROUND(12)-pinned per-group log terms."""
    per_g = _group_moment_stats(df, F.col(group_col), value_col)
    ni = F.col("__n").cast("double")
    mi = F.col("__s1").cast("double") / ni
    vi = (F.col("__s2").cast("double") - ni * mi * mi) / (ni - F.lit(1.0))
    good = per_g.filter(F.col("__n") >= 2)
    agg = good.agg(
        F.sum("__n").alias("n"),
        F.count("*").alias("k_groups"),
        F.sum(
            F.round((ni - F.lit(1.0)) * vi, 8).cast("decimal(38,8)")
        ).alias("__sw"),
        F.sum(
            F.when(
                vi > 0, F.round((ni - F.lit(1.0)) * F.log(vi), 12)
            ).cast("decimal(38,12)")
        ).alias("__slog"),
        F.sum(
            F.round(F.lit(1.0) / (ni - F.lit(1.0)), 12).cast(
                "decimal(38,12)"
            )
        ).alias("__sinv"),
        F.count(F.when(vi <= 0, F.lit(1))).alias("__degenerate"),
    )
    nd = F.col("n").cast("double")
    kd = F.col("k_groups").cast("double")
    sp2 = F.col("__sw").cast("double") / (nd - kd)
    num = (nd - kd) * F.log(sp2) - F.col("__slog").cast("double")
    den = F.lit(1.0) + (
        F.col("__sinv").cast("double") - F.lit(1.0) / (nd - kd)
    ) / (F.lit(3.0) * (kd - F.lit(1.0)))
    ok = (
        (F.col("k_groups") >= 2)
        & (F.col("n") > F.col("k_groups"))
        & (F.col("__degenerate") == 0)
        & (sp2 > 0)
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("k_groups").cast("long").alias("k_groups"),
        F.when(ok, F.round(num / den, 6)).alias("t_stat"),
    )


def decision_stump(
    df: DataFrame, feature_cols: list, label_col: str
) -> DataFrame:
    """Depth-1 decision tree (stump) trained distributed: for every
    feature, the binary split ``x <= t`` maximizing information gain
    against a boolean label, evaluated at EVERY distinct feature value
    — the exact greedy step every tree ensemble (GBDT, random forest)
    repeats, here as the declared-query form: training IS aggregation
    + a prefix scan.  Output — one row per feature:
    ``(feature, best_threshold, info_gain, n_left, n_right)``
    (ROUND 6; gain in nats; ties broken toward the LOWER threshold).

    Scale posture: per feature, the corpus collapses to the
    (value → count, positives) marginal; every candidate split's
    left-side counts ride ONE distributed prefix scan of that
    marginal; the argmax is TakeOrdered(1) per feature over marginal
    rows; the label prior is the annotated 1-row broadcast cross.
    Features iterate as separate prefix scans (|features| passes) —
    never a composite global sort."""
    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    def entropy(p):
        return -(
            F.when(p > 0, p * F.log(p)).otherwise(F.lit(0.0))
            + F.when(
                p < 1, (F.lit(1.0) - p) * F.log(F.lit(1.0) - p)
            ).otherwise(F.lit(0.0))
        )

    outs = []
    for feat in feature_cols:
        vals = df.filter(
            F.col(feat).isNotNull() & F.col(label_col).isNotNull()
        ).select(
            F.col(feat).alias("__x"),
            F.col(label_col).cast("boolean").alias("__y"),
        )
        # r13: the (value -> count, positives) marginal is the ONE
        # corpus collapse per feature; the label prior derives from it
        # (Σ __c / Σ __p — exact integer identities) instead of paying
        # a second corpus scan per feature — the marginal's exchange is
        # shared via ReusedExchange, so no checkpoint is needed (an
        # explicit one measured 1.16x at sf0.1: block churn on a
        # dimension-sized table).  Guide §2.3-2.4.
        marg = vals.groupBy("__x").agg(
            F.count("*").alias("__c"),
            F.sum(F.when(F.col("__y"), 1).otherwise(0)).alias("__p"),
        )
        cum = prefix_sums(marg, "__x", ["__c", "__p"], prefix="__cm_")
        # r14 re-adjudication (VERDICT r13 item 1): alternating-worktree
        # A/B, min-of-3 per side, one window — marginal-derived totals
        # 2.969s vs the r12 second-corpus-scan form 3.042s at sf0.1.
        # The driver's 32-core regression reading was session noise;
        # the derivation stays (it also saves one corpus pass at scale).
        tot = marg.agg(
            F.sum("__c").alias("__n"),
            F.sum("__p").alias("__np"),
        )
        nd = F.col("__n").cast("double")
        nl = F.col("__cm___c").cast("double")
        nr = nd - nl
        pl = F.col("__cm___p").cast("double") / nl
        pr = (F.col("__np") - F.col("__cm___p")).cast("double") / nr
        p0 = F.col("__np").cast("double") / nd
        gain = entropy(p0) - (nl / nd) * entropy(pl) - (
            nr / nd
        ) * entropy(pr)
        scored = (
            cum.join(broadcast(tot), F.lit(True))
            .filter(nr > 0)  # splitting above the max value is no split
            .select(
                F.lit(str(feat)).alias("feature"),
                F.col("__x").alias("best_threshold"),
                F.round(gain, 9).alias("__g"),
                F.col("__cm___c").cast("long").alias("n_left"),
                (F.col("__n") - F.col("__cm___c"))
                .cast("long")
                .alias("n_right"),
            )
        )
        best = scored.orderBy(
            F.col("__g").desc(), F.col("best_threshold").asc()
        ).limit(1)
        outs.append(
            best.select(
                "feature",
                F.col("best_threshold").cast("double").alias(
                    "best_threshold"
                ),
                F.round(F.col("__g"), 6).alias("info_gain"),
                "n_left",
                "n_right",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def ridge_closed_form(
    df: DataFrame,
    x1_col,
    x2_col,
    y_col,
    lam: float = 1.0,
) -> DataFrame:
    """Ridge regression with two features + intercept, solved in
    CLOSED FORM inside the plan: the 3×3 normal equations
    (XᵀX + λ·diag(0,1,1))·β = Xᵀy — XᵀX and Xᵀy are NINE decimal sums
    over one corpus pass, and the solve is Cramer's rule as scalar
    expressions on the 1-row aggregate (no iteration, no driver round
    trips; [[q_logreg_train]] is the iterative sibling for losses with
    no closed form).  The intercept is unpenalized (standard).
    Output — ONE row: ``(n, beta0, beta1, beta2, lambda)`` (ROUND 6).

    Scale posture: training IS one map-combinable aggregation; the
    3×3 determinant algebra is driver-free scalar expressions."""
    x1 = x1_col if not isinstance(x1_col, str) else F.col(x1_col)
    x2 = x2_col if not isinstance(x2_col, str) else F.col(x2_col)
    y = y_col if not isinstance(y_col, str) else F.col(y_col)
    vals = df.select(
        x1.cast("double").alias("__x1"),
        x2.cast("double").alias("__x2"),
        y.cast("double").alias("__y"),
    ).filter(
        F.col("__x1").isNotNull()
        & F.col("__x2").isNotNull()
        & F.col("__y").isNotNull()
    )

    def dsum(expr, scale=8):
        return F.sum(F.round(expr, scale).cast("decimal(38,8)"))

    a1 = F.col("__x1")
    a2 = F.col("__x2")
    yy = F.col("__y")
    agg = vals.agg(
        F.count("*").alias("n"),
        dsum(a1).alias("__s1"),
        dsum(a2).alias("__s2"),
        dsum(a1 * a1).alias("__s11"),
        dsum(a2 * a2).alias("__s22"),
        dsum(a1 * a2).alias("__s12"),
        dsum(yy).alias("__sy"),
        dsum(a1 * yy).alias("__s1y"),
        dsum(a2 * yy).alias("__s2y"),
    )
    # A = [[n, s1, s2], [s1, s11+λ, s12], [s2, s12, s22+λ]], b = [sy, s1y, s2y]
    ld = F.lit(float(lam))
    a00 = F.col("n").cast("double")
    a01 = F.col("__s1").cast("double")
    a02 = F.col("__s2").cast("double")
    a11 = F.col("__s11").cast("double") + ld
    a12 = F.col("__s12").cast("double")
    a22 = F.col("__s22").cast("double") + ld
    b0 = F.col("__sy").cast("double")
    b1 = F.col("__s1y").cast("double")
    b2 = F.col("__s2y").cast("double")

    def det3(m00, m01, m02, m10, m11, m12, m20, m21, m22):
        return (
            m00 * (m11 * m22 - m12 * m21)
            - m01 * (m10 * m22 - m12 * m20)
            + m02 * (m10 * m21 - m11 * m20)
        )

    d = det3(a00, a01, a02, a01, a11, a12, a02, a12, a22)
    d0 = det3(b0, a01, a02, b1, a11, a12, b2, a12, a22)
    d1 = det3(a00, b0, a02, a01, b1, a12, a02, b2, a22)
    d2 = det3(a00, a01, b0, a01, a11, b1, a02, a12, b2)
    ok = (F.col("n") >= 3) & (F.abs(d) > F.lit(1e-12))
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.when(ok, F.round(d0 / d, 6)).alias("beta0"),
        F.when(ok, F.round(d1 / d, 6)).alias("beta1"),
        F.when(ok, F.round(d2 / d, 6)).alias("beta2"),
        F.lit(float(lam)).alias("lambda"),
    )


def auc_delong(df: DataFrame, label_col, score_col) -> DataFrame:
    """ROC AUC with DeLong variance and normal CI: the placement-value
    decomposition Var(AUC) = S10/m + S01/n (DeLong, DeLong &
    Clarke-Pearson 1988, midrank/tie form) — [[q_roc_auc]] gives the
    point estimate; this says whether the ranking is DISTINGUISHABLE
    from chance (or from a competitor) at this sample size.  Output —
    ONE row: ``(n_pos, n_neg, auc, var_auc, ci_lo, ci_hi)`` (ROUND 6;
    95% normal interval, clipped to [0, 1]).

    Scale posture: the corpus collapses to the per-distinct-score
    class-count marginal; BOTH placement series (V10 over positives,
    V01 over negatives) ride ONE distributed prefix scan; the
    placement variances cross the marginal with the 1-row AUC
    aggregate (annotated scalar cross); all terms ROUND(12)-pinned
    decimal sums."""
    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    lab = label_col if not isinstance(label_col, str) else F.col(label_col)
    sc = score_col if not isinstance(score_col, str) else F.col(score_col)
    vals = df.select(
        lab.cast("boolean").alias("__y"), sc.cast("double").alias("__v")
    ).filter(F.col("__y").isNotNull() & F.col("__v").isNotNull())
    marg = vals.groupBy("__v").agg(
        F.sum(F.when(F.col("__y"), 1).otherwise(0)).alias("__cp"),
        F.sum(F.when(~F.col("__y"), 1).otherwise(0)).alias("__cn"),
    )
    cum = prefix_sums(marg, "__v", ["__cp", "__cn"], prefix="__cm_")
    # placements at each distinct value (midrank tie handling):
    # V10 = (#neg below + #neg tied / 2) / n_neg  (per positive there)
    # V01 = (#pos above + #pos tied / 2) / n_pos  (per negative there)
    stage1 = cum.agg(
        F.sum("__cp").alias("n_pos"),
        F.sum("__cn").alias("n_neg"),
        F.sum(
            F.col("__cp").cast("decimal(38,0)")
            * (
                F.lit(2) * (F.col("__cm___cn") - F.col("__cn"))
                + F.col("__cn")
            ).cast("decimal(19,0)")
        ).alias("__u2"),  # 2 * sum over positives of (below + tied/2)
    )
    m = F.col("n_pos").cast("double")
    n = F.col("n_neg").cast("double")
    auc = F.col("__u2").cast("double") / (F.lit(2.0) * m * n)
    v10 = (
        (F.col("__cm___cn") - F.col("__cn")).cast("double")
        + F.col("__cn").cast("double") / F.lit(2.0)
    ) / n
    v01 = (
        (F.col("n_pos") - F.col("__cm___cp")).cast("double")
        + F.col("__cp").cast("double") / F.lit(2.0)
    ) / m
    agg = cum.join(broadcast(stage1), F.lit(True)).agg(
        F.max("n_pos").alias("n_pos"),
        F.max("n_neg").alias("n_neg"),
        F.max(F.round(auc, 12)).alias("__auc"),
        F.sum(
            F.round(
                F.col("__cp").cast("double") * (v10 - auc) * (v10 - auc),
                12,
            ).cast("decimal(38,12)")
        ).alias("__s10"),
        F.sum(
            F.round(
                F.col("__cn").cast("double")
                * (v01 - auc)
                * (v01 - auc),
                12,
            ).cast("decimal(38,12)")
        ).alias("__s01"),
    )
    m2 = F.col("n_pos").cast("double")
    n2 = F.col("n_neg").cast("double")
    var = F.col("__s10").cast("double") / (m2 - F.lit(1.0)) / m2 + F.col(
        "__s01"
    ).cast("double") / (n2 - F.lit(1.0)) / n2
    z = F.lit(1.959964)
    se = F.sqrt(var)
    ok = (F.col("n_pos") >= 2) & (F.col("n_neg") >= 2)
    return agg.select(
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        F.round(F.col("__auc"), 6).alias("auc"),
        F.when(ok, F.round(var, 9)).alias("var_auc"),
        F.when(ok, F.round(F.greatest(F.col("__auc") - z * se, F.lit(0.0)), 6)).alias(
            "ci_lo"
        ),
        F.when(ok, F.round(F.least(F.col("__auc") + z * se, F.lit(1.0)), 6)).alias(
            "ci_hi"
        ),
    )


def average_precision(df: DataFrame, label_col, score_col) -> DataFrame:
    """Average precision (area under the precision-recall curve, step
    interpolation): AP = Σ_thresholds ΔRecall · Precision, swept over
    every distinct score descending — the ranking metric that, unlike
    [[q_roc_auc]], does NOT reward the easy negatives, which makes it
    the right evaluation under class imbalance (quality filters where
    keeps are 1%).  Ties share a threshold (the whole tied block
    enters at once — sklearn's step convention).  Output — ONE row:
    ``(n_pos, n_neg, average_precision, prevalence)`` (ROUND 6).

    Scale posture: per-distinct-score class counts + ONE distributed
    prefix scan (descending cumulative via total - ascending); the
    threshold sweep is an aggregation over marginal rows with the
    1-row class totals as the annotated scalar cross."""
    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    lab = label_col if not isinstance(label_col, str) else F.col(label_col)
    sc = score_col if not isinstance(score_col, str) else F.col(score_col)
    vals = df.select(
        lab.cast("boolean").alias("__y"), sc.cast("double").alias("__v")
    ).filter(F.col("__y").isNotNull() & F.col("__v").isNotNull())
    marg = vals.groupBy("__v").agg(
        F.sum(F.when(F.col("__y"), 1).otherwise(0)).alias("__cp"),
        F.sum(F.when(~F.col("__y"), 1).otherwise(0)).alias("__cn"),
    )
    cum = prefix_sums(marg, "__v", ["__cp", "__cn"], prefix="__cm_")
    tot = vals.agg(
        F.sum(F.when(F.col("__y"), 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(~F.col("__y"), 1).otherwise(0)).alias("n_neg"),
    )
    # at threshold v (keep score >= v): descending cumulatives
    tp = (F.col("n_pos") - (F.col("__cm___cp") - F.col("__cp"))).cast(
        "double"
    )
    fp = (F.col("n_neg") - (F.col("__cm___cn") - F.col("__cn"))).cast(
        "double"
    )
    prec = tp / (tp + fp)
    d_rec = F.col("__cp").cast("double") / F.col("n_pos").cast("double")
    term = F.when(
        F.col("__cp") > 0, F.round(d_rec * prec, 12)
    ).otherwise(F.lit(0.0)).cast("decimal(38,12)")
    agg = cum.join(broadcast(tot), F.lit(True)).agg(
        F.max("n_pos").alias("n_pos"),
        F.max("n_neg").alias("n_neg"),
        F.sum(term).alias("__ap"),
    )
    ok = (F.col("n_pos") > 0) & (F.col("n_neg") > 0)
    return agg.select(
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        F.when(ok, F.round(F.col("__ap").cast("double"), 6)).alias(
            "average_precision"
        ),
        F.round(
            F.col("n_pos").cast("double")
            / (F.col("n_pos") + F.col("n_neg")).cast("double"),
            6,
        ).alias("prevalence"),
    )


#: Euler-Mascheroni constant (Gumbel method-of-moments location shift).
EULER_GAMMA = 0.5772156649015329


def gumbel_block_maxima(
    df: DataFrame, ts_col: str, value_col: str
) -> DataFrame:
    """Gumbel (EV type I) fit to DAILY block maxima by method of
    moments: β̂ = s·√6/π, μ̂ = x̄ - γ·β̂ — the extreme-value tail model
    behind "what's the worst value we should expect in a month"
    capacity planning; emits the T = 30-block return level
    μ̂ - β̂·ln(-ln(1 - 1/T)).  Output — ONE row:
    ``(n_blocks, mu, beta, return_level_30)`` (ROUND 6).

    Scale posture: the corpus collapses to daily maxima (one
    map-combinable pass); the moment fit is one aggregate over the
    days-sized table — decimal-pinned moments, scalar algebra after."""
    import math

    daily = (
        df.filter(F.col(value_col).isNotNull() & F.col(ts_col).isNotNull())
        .groupBy(F.date_trunc("day", F.col(ts_col)).alias("__day"))
        .agg(F.round(F.max(F.col(value_col).cast("double")), 6).alias("__x"))
    )
    vq = F.col("__x").cast("decimal(18,6)")
    agg = daily.agg(
        F.count("*").alias("n_blocks"),
        F.sum(vq).alias("__s1"),
        F.sum((vq * vq).cast("decimal(38,12)")).alias("__s2"),
    )
    nd = F.col("n_blocks").cast("double")
    mean = F.col("__s1").cast("double") / nd
    var = (F.col("__s2").cast("double") - nd * mean * mean) / (
        nd - F.lit(1.0)
    )
    beta = F.sqrt(var) * F.lit(math.sqrt(6.0) / math.pi)
    mu = mean - F.lit(EULER_GAMMA) * beta
    t = 30.0
    rl = mu - beta * F.lit(math.log(-math.log(1.0 - 1.0 / t)))
    ok = (F.col("n_blocks") >= 2) & (var > 0)
    return agg.select(
        F.col("n_blocks").cast("long").alias("n_blocks"),
        F.when(ok, F.round(mu, 6)).alias("mu"),
        F.when(ok, F.round(beta, 6)).alias("beta"),
        F.when(ok, F.round(rl, 6)).alias("return_level_30"),
    )


def welch_anova(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA (Welch 1951): the k-sample
    F* test that does NOT assume equal variances — completing the
    k-sample triangle with [[q_anova]] (equal variances assumed) and
    [[q_kruskal_wallis]] (normality dropped): when [[q_levene]] /
    [[q_bartlett]] reject, this is the parametric test that remains
    valid.  F* = Σw_i(m_i - m̄_w)²/(k-1) / (1 + 2(k-2)/(k²-1)·Λ) with
    w_i = n_i/s_i², m̄_w the w-weighted grand mean, and
    Λ = Σ(1 - w_i/Σw)²/(n_i-1); df2 = (k²-1)/(3Λ).  Output — ONE row:
    ``(n, k_groups, f_stat, df2)`` (ROUND 6).

    Scale posture: the same single sufficient-stat collapse as
    one_way_anova; the weighted grand mean is one annotated 1-row
    cross back onto the k-row stat table; every per-group term is
    ROUND(12)-pinned and decimal-summed."""
    per_g = _group_moment_stats(df, F.col(group_col), value_col)
    ni = F.col("__n").cast("double")
    mi = F.col("__s1").cast("double") / ni
    vi = (F.col("__s2").cast("double") - ni * mi * mi) / (ni - F.lit(1.0))
    good = per_g.filter(F.col("__n") >= 2).select(
        "__n",
        mi.alias("__m"),
        vi.alias("__v"),
    ).filter(F.col("__v") > 0)
    ni2 = F.col("__n").cast("double")
    wi = ni2 / F.col("__v")
    stage1 = good.agg(
        F.sum("__n").alias("n"),
        F.count("*").alias("k_groups"),
        F.sum(F.round(wi, 12).cast("decimal(38,12)")).alias("__sw"),
        F.sum(
            F.round(wi * F.col("__m"), 12).cast("decimal(38,12)")
        ).alias("__swm"),
    )
    mw = F.col("__swm").cast("double") / F.col("__sw").cast("double")
    agg = good.join(broadcast(stage1), F.lit(True)).agg(
        F.max("n").alias("n"),
        F.max("k_groups").alias("k_groups"),
        F.max(F.col("__sw").cast("double")).alias("__swd"),
        F.sum(
            F.round(
                wi * (F.col("__m") - mw) * (F.col("__m") - mw), 12
            ).cast("decimal(38,12)")
        ).alias("__num"),
        F.sum(
            F.round(
                (F.lit(1.0) - wi / F.col("__sw").cast("double"))
                * (F.lit(1.0) - wi / F.col("__sw").cast("double"))
                / (ni2 - F.lit(1.0)),
                12,
            ).cast("decimal(38,12)")
        ).alias("__lam"),
    )
    kd = F.col("k_groups").cast("double")
    lam = F.col("__lam").cast("double")
    fstar = (
        F.col("__num").cast("double") / (kd - F.lit(1.0))
    ) / (
        F.lit(1.0)
        + F.lit(2.0) * (kd - F.lit(2.0)) / (kd * kd - F.lit(1.0)) * lam
    )
    df2 = (kd * kd - F.lit(1.0)) / (F.lit(3.0) * lam)
    ok = (F.col("k_groups") >= 2) & (lam > 0)
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("k_groups").cast("long").alias("k_groups"),
        F.when(ok, F.round(fstar, 6)).alias("f_stat"),
        F.when(ok, F.round(df2, 6)).alias("df2"),
    )


def dagostino_k2(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """D'Agostino-Pearson K² omnibus normality test per group: the
    skewness and kurtosis z-transforms (D'Agostino 1970; Anscombe &
    Glynn 1983) combined as K² = Z1² + Z2² — the finite-sample-
    calibrated upgrade of [[q_jarque_bera]] (whose χ² approximation is
    only honest at large n).  Output — one row per group:
    ``(group, n, z_skew, z_kurt, k2_stat)`` (ROUND 6), NULL below the
    n >= 20 validity floor.

    Scale posture: identical to jarque_bera — ONE map-combinable
    power-sum collapse per group (Σv..Σv⁴ decimal-pinned), then pure
    per-group scalar algebra.  Cross-engine exactness: g1 and
    b2 = g2 + 3 are ROUND(12)-pinned before the transforms, and every
    transform is the same IEEE expression tree (sqrt/ln/cbrt) in both
    engines."""
    per_g, m2, m3, m4 = _group_power_moments(df, group_col, value_col)
    nd = F.col("n").cast("double")
    g1 = F.round(m3 / F.sqrt(m2 * m2 * m2), 12)
    b2 = F.round(m4 / (m2 * m2), 12)

    # Z1: D'Agostino (1970) skewness transform
    y = g1 * F.sqrt((nd + 1.0) * (nd + 3.0) / (6.0 * (nd - 2.0)))
    beta2 = (
        3.0 * (nd * nd + 27.0 * nd - 70.0) * (nd + 1.0) * (nd + 3.0)
        / ((nd - 2.0) * (nd + 5.0) * (nd + 7.0) * (nd + 9.0))
    )
    w2 = -1.0 + F.sqrt(2.0 * (beta2 - 1.0))
    delta = 1.0 / F.sqrt(F.log(F.sqrt(w2)))
    alpha = F.sqrt(2.0 / (w2 - 1.0))
    ya = y / alpha
    z1 = delta * F.log(ya + F.sqrt(ya * ya + 1.0))

    # Z2: Anscombe-Glynn (1983) kurtosis transform
    eb2 = 3.0 * (nd - 1.0) / (nd + 1.0)
    vb2 = (
        24.0 * nd * (nd - 2.0) * (nd - 3.0)
        / ((nd + 1.0) * (nd + 1.0) * (nd + 3.0) * (nd + 5.0))
    )
    x = (b2 - eb2) / F.sqrt(vb2)
    beta1 = (
        6.0 * (nd * nd - 5.0 * nd + 2.0) / ((nd + 7.0) * (nd + 9.0))
        * F.sqrt(
            6.0 * (nd + 3.0) * (nd + 5.0)
            / (nd * (nd - 2.0) * (nd - 3.0))
        )
    )
    a = 6.0 + 8.0 / beta1 * (
        2.0 / beta1 + F.sqrt(1.0 + 4.0 / (beta1 * beta1))
    )
    z2 = (
        (1.0 - 2.0 / (9.0 * a))
        - F.cbrt(
            (1.0 - 2.0 / a) / (1.0 + x * F.sqrt(2.0 / (a - 4.0)))
        )
    ) / F.sqrt(2.0 / (9.0 * a))

    ok = (F.col("n") >= 20) & (m2 > 0)
    return per_g.select(
        "group",
        F.col("n").cast("long").alias("n"),
        F.when(ok, F.round(z1, 6)).alias("z_skew"),
        F.when(ok, F.round(z2, 6)).alias("z_kurt"),
        F.when(ok, F.round(z1 * z1 + z2 * z2, 6)).alias("k2_stat"),
    )


def wasserstein_1d(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """1-D Wasserstein-1 distance (earth mover's distance) between two
    groups' value distributions: W1 = ∫|F_a - F_b| dv — the
    MAGNITUDE-aware drift metric next to [[q_ks_test]]'s supremum gap
    (KS says the CDFs differ; W1 says by how much probability mass
    times distance, the quantity a mixture rebalance actually moves).
    Output — ONE row: ``(n_a, n_b, w1)`` (ROUND 6).

    Exactness: per distinct value the integrand is
    |cum_a·n_b - cum_b·n_a| (EXACT integers) times the gap to the next
    distinct value (doubles on the ROUND-4 input grid); each segment
    term is ROUND(6)-pinned, decimal-summed, and divided by n_a·n_b
    once at the end.

    Scale posture: one (value) count shuffle collapses the corpus to
    the distinct-value marginal; cumulative counts AND the rank used
    to find each value's successor ride the distributed two-pass
    prefix sum (``parallelism.prefix_sums`` — never a single-task
    global window); the successor lookup is a rank+1 equi-self-join
    and the final sum is map-combinable."""
    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    two = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).alias("g"),
        F.round(F.col(value_col).cast("double"), 4).alias("v"),
    )
    per_v = two.groupBy("v").agg(
        F.sum(F.when(F.col("g") == group_a, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("g") == group_b, 1).otherwise(0)).alias("cb"),
        F.lit(1).alias("one"),
    )
    tot = per_v.agg(
        F.sum("ca").alias("n_a"), F.sum("cb").alias("n_b")
    )
    cum = prefix_sums(per_v, "v", ["ca", "cb", "one"]).select(
        "v",
        F.col("cum_ca").alias("cum_a"),
        F.col("cum_cb").alias("cum_b"),
        F.col("cum_one").alias("rank"),
    ).localCheckpoint(eager=False)
    nxt = cum.select(
        (F.col("rank") - 1).alias("rank"), F.col("v").alias("v_next")
    )
    segs = (
        cum.join(nxt, "rank")
        .crossJoin(broadcast(tot))
        .select(
            F.round(
                F.abs(
                    F.col("cum_a").cast("decimal(18,0)")
                    * F.col("n_b").cast("decimal(18,0)")
                    - F.col("cum_b").cast("decimal(18,0)")
                    * F.col("n_a").cast("decimal(18,0)")
                ).cast("double")
                * (F.col("v_next") - F.col("v")),
                6,
            ).cast("decimal(38,6)").alias("__seg"),
        )
    )
    w1sum = segs.agg(F.sum("__seg").alias("__w")).crossJoin(
        broadcast(tot)
    )
    degenerate = (F.col("n_a") == 0) | (F.col("n_b") == 0)
    return w1sum.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.when(degenerate, F.lit(None).cast("double")).otherwise(
            F.round(
                F.coalesce(F.col("__w").cast("double"), F.lit(0.0))
                / (
                    F.col("n_a").cast("double")
                    * F.col("n_b").cast("double")
                ),
                6,
            )
        ).alias("w1"),
    )


def brown_forsythe(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test: Levene's W computed
    on deviations from each group's MEDIAN — the robust sibling of
    [[q_levene]] (median centering keeps the test honest under the
    skewed / heavy-tailed metrics mean centering over-rejects on).
    Output — ONE row: ``(n, k_groups, w_stat)`` (ROUND 6).

    Scale posture: the per-group exact median comes from the
    per-group distinct-value marginal with a GROUP-PARTITIONED
    cumulative count (partitioned window — each partition is one
    group's marginal, never a global single-task sort), lower/upper
    middle selected by integer rank conditions and averaged; the
    k-row median table broadcasts back and the Levene sufficient-stat
    collapse runs unchanged."""
    from pyspark.sql import Window

    vals = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"),
        F.round(F.col(value_col).cast("double"), 4).alias("__v"),
    )
    marg = vals.groupBy("__g", "__v").agg(F.count("*").alias("__c"))
    wcum = Window.partitionBy("__g").orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = marg.select(
        "__g", "__v", F.sum("__c").over(wcum).alias("__cum"),
        F.sum("__c").over(Window.partitionBy("__g")).alias("__n"),
    )
    med = cum.groupBy("__g").agg(
        F.min(
            F.when(2 * F.col("__cum") >= F.col("__n"), F.col("__v"))
        ).alias("__lo"),
        F.min(
            F.when(2 * F.col("__cum") >= F.col("__n") + 1, F.col("__v"))
        ).alias("__hi"),
    ).select(
        "__g",
        F.round((F.col("__lo") + F.col("__hi")) / 2.0, 4).alias("__med"),
    )
    z = vals.join(broadcast(med), "__g").select(
        "__g",
        F.round(F.abs(F.col("__v") - F.col("__med")), 6).alias("__z"),
    )
    return _levene_w(z)


def _xy_moments(vals: DataFrame, by: list | None = None):
    """Shared simple-regression sufficient statistics over a frame
    with quantized ``__x``/``__y`` columns: n, Σx, Σy, Σxy, Σx², Σy²
    (decimal-exact, map-combinable)."""
    xq = F.col("__x").cast("decimal(18,4)")
    yq = F.col("__y").cast("decimal(18,4)")
    aggs = [
        F.count("*").alias("n"),
        F.sum(xq).cast("decimal(38,8)").alias("sx"),
        F.sum(yq).cast("decimal(38,8)").alias("sy"),
        F.sum((xq * yq).cast("decimal(38,8)")).alias("sxy"),
        F.sum((xq * xq).cast("decimal(38,8)")).alias("sxx"),
        F.sum((yq * yq).cast("decimal(38,8)")).alias("syy"),
    ]
    return vals.groupBy(*(by or [])).agg(*aggs)


def chow_test(
    df: DataFrame,
    x_col,
    value_col: str,
    split_at: float,
) -> DataFrame:
    """Chow structural-break test for the simple regression
    value ~ x at a KNOWN break point: did slope/intercept change
    between the pre and post segments — the confirmatory sibling of
    [[q_changepoint]]'s unsupervised CUSUM scan (you suspect a deploy
    date; Chow tests exactly it).  Output — ONE row:
    ``(n, n_pre, n_post, ssr_pooled, ssr_split, chow_f)`` (ROUND 6).

    Scale posture: ONE map-combinable pass collapses the corpus to
    two segment sufficient-stat rows; pooled and per-segment residual
    sums of squares are scalar algebra over the 2-row table (no
    second data pass, no join)."""
    vals = df.filter(F.col(value_col).isNotNull()).select(
        F.round(x_col.cast("double"), 4).alias("__x"),
        F.round(F.col(value_col).cast("double"), 4).alias("__y"),
    ).withColumn("__seg", (F.col("__x") < F.lit(split_at)).cast("int"))
    per_seg = _xy_moments(vals, ["__seg"])

    def ssr(n, sx, sy, sxy, sxx, syy):
        nd = n.cast("double")
        sxc = sxx.cast("double") - sx.cast("double") * sx.cast(
            "double"
        ) / nd
        syc = syy.cast("double") - sy.cast("double") * sy.cast(
            "double"
        ) / nd
        sxyc = sxy.cast("double") - sx.cast("double") * sy.cast(
            "double"
        ) / nd
        return F.when(sxc > 0, syc - sxyc * sxyc / sxc).otherwise(syc)

    agg = per_seg.agg(
        F.sum("n").alias("n"),
        F.sum(F.when(F.col("__seg") == 1, F.col("n"))).alias("n_pre"),
        F.sum(F.when(F.col("__seg") == 0, F.col("n"))).alias("n_post"),
        F.sum("sx").alias("sx"), F.sum("sy").alias("sy"),
        F.sum("sxy").alias("sxy"), F.sum("sxx").alias("sxx"),
        F.sum("syy").alias("syy"),
        F.sum(
            F.round(
                ssr(F.col("n"), F.col("sx"), F.col("sy"), F.col("sxy"),
                    F.col("sxx"), F.col("syy")),
                6,
            ).cast("decimal(38,6)")
        ).alias("ssr_split"),
    )
    ssr_pooled = F.round(
        ssr(F.col("n"), F.col("sx"), F.col("sy"), F.col("sxy"),
            F.col("sxx"), F.col("syy")),
        6,
    )
    nd = F.col("n").cast("double")
    ssp = F.col("ssr_split").cast("double")
    fstat = ((ssr_pooled - ssp) / F.lit(2.0)) / (
        ssp / (nd - F.lit(4.0))
    )
    ok = (
        (F.col("n_pre") >= 3) & (F.col("n_post") >= 3) & (ssp > 0)
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.coalesce(F.col("n_pre"), F.lit(0)).cast("long").alias("n_pre"),
        F.coalesce(F.col("n_post"), F.lit(0)).cast("long").alias(
            "n_post"
        ),
        F.round(ssr_pooled, 6).alias("ssr_pooled"),
        F.round(ssp, 6).alias("ssr_split"),
        F.when(ok, F.round(fstat, 6)).alias("chow_f"),
    )


def breusch_pagan(
    df: DataFrame, x_col, value_col: str
) -> DataFrame:
    """Breusch-Pagan heteroscedasticity test (Koenker's studentized
    LM form) for the simple regression value ~ x: do the squared
    residuals trend with x — the assumption gate for every
    equal-variance inference run on top of [[q_trend_slope]].
    Output — ONE row: ``(n, slope, lm_stat)`` (ROUND 6), where
    lm_stat = n · R² of the e² ~ x auxiliary regression.

    Scale posture: pass 1 collapses to the six regression moments
    (1-row); the fitted line broadcasts back (annotated 1-row cross),
    e² is pinned per row, and pass 2 collapses the auxiliary moments
    the same way — two map-combinable passes, zero windows."""
    vals = df.filter(F.col(value_col).isNotNull()).select(
        F.round(x_col.cast("double"), 4).alias("__x"),
        F.round(F.col(value_col).cast("double"), 4).alias("__y"),
    )
    mom = _xy_moments(vals)
    nd = F.col("n").cast("double")
    sxc = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double") / nd
    sxyc = F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double") / nd
    line = mom.select(
        "n",
        F.round(sxyc / sxc, 12).alias("__b"),
        F.round(
            (
                F.col("sy").cast("double")
                - (sxyc / sxc) * F.col("sx").cast("double")
            )
            / nd,
            12,
        ).alias("__a"),
    )
    e2 = vals.crossJoin(broadcast(line)).select(
        "n",
        "__x",
        "__b",
        F.round(
            (F.col("__y") - F.col("__a") - F.col("__b") * F.col("__x"))
            * (F.col("__y") - F.col("__a") - F.col("__b") * F.col("__x")),
            4,
        ).alias("__y2"),
    )
    aux = e2.groupBy("n").agg(
        F.sum(F.col("__x").cast("decimal(18,4)"))
        .cast("decimal(38,8)")
        .alias("ax"),
        F.sum(F.col("__y2").cast("decimal(18,4)"))
        .cast("decimal(38,8)")
        .alias("ay"),
        F.sum(
            (
                F.col("__x").cast("decimal(18,4)")
                * F.col("__y2").cast("decimal(18,4)")
            ).cast("decimal(38,8)")
        ).alias("axy"),
        F.sum(
            (
                F.col("__x").cast("decimal(18,4)")
                * F.col("__x").cast("decimal(18,4)")
            ).cast("decimal(38,8)")
        ).alias("axx"),
        F.sum(
            (
                F.col("__y2").cast("decimal(18,4)")
                * F.col("__y2").cast("decimal(18,4)")
            ).cast("decimal(38,8)")
        ).alias("ayy"),
        F.max("__b").alias("__b"),
    )
    nd2 = F.col("n").cast("double")
    cxx = F.col("axx").cast("double") - F.col("ax").cast("double") * F.col(
        "ax"
    ).cast("double") / nd2
    cyy = F.col("ayy").cast("double") - F.col("ay").cast("double") * F.col(
        "ay"
    ).cast("double") / nd2
    cxy = F.col("axy").cast("double") - F.col("ax").cast(
        "double"
    ) * F.col("ay").cast("double") / nd2
    r2 = cxy * cxy / (cxx * cyy)
    ok = (F.col("n") >= 4) & (cxx > 0) & (cyy > 0)
    return aux.select(
        F.col("n").cast("long").alias("n"),
        F.round(F.col("__b"), 6).alias("slope"),
        F.when(ok, F.round(nd2 * r2, 6)).alias("lm_stat"),
    )


def regression_influence(
    df: DataFrame, x_col, value_col: str
) -> DataFrame:
    """Per-point OLS influence diagnostics for the (collapsed) simple
    regression value ~ x: leverage h_i, standardized residual, and
    Cook's distance — which days are DRIVING [[q_trend_slope]]'s fit
    (an incident day with high leverage can manufacture a trend).
    Output — one row per distinct x:
    ``(x, y, leverage, std_residual, cooks_d)`` (ROUND 6).

    Scale posture: the corpus collapses to the per-x mean table FIRST
    (days-sized for a time index); the six-moment fit over that table
    is a 1-row aggregate crossed back (annotated); all diagnostics
    are per-row closed forms — no windows, nothing iterative."""
    daily = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.round(x_col.cast("double"), 4).alias("__x"),
            F.col(value_col).cast("decimal(18,4)").alias("__yq"),
        )
        .groupBy("__x")
        .agg(
            F.round(
                F.sum("__yq").cast("double") / F.count("*"), 4
            ).alias("__y")
        )
    )
    mom = _xy_moments(daily)
    nd = F.col("n").cast("double")
    sxc = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double") / nd
    sxyc = F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double") / nd
    syc = F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy").cast("double") / nd
    b = F.round(sxyc / sxc, 12)
    line = mom.select(
        "n",
        b.alias("__b"),
        F.round(
            (F.col("sy").cast("double") - b * F.col("sx").cast("double"))
            / nd,
            12,
        ).alias("__a"),
        F.round(F.col("sx").cast("double") / nd, 12).alias("__xbar"),
        F.round(sxc, 12).alias("__sxx"),
        F.round(
            F.when(nd > 2, (syc - sxyc * sxyc / sxc) / (nd - 2.0)), 12
        ).alias("__s2"),
    )
    out = daily.crossJoin(broadcast(line))
    h = (
        F.lit(1.0) / F.col("n").cast("double")
        + (F.col("__x") - F.col("__xbar"))
        * (F.col("__x") - F.col("__xbar"))
        / F.col("__sxx")
    )
    e = F.col("__y") - F.col("__a") - F.col("__b") * F.col("__x")
    std = e / F.sqrt(F.col("__s2") * (F.lit(1.0) - h))
    cook = (
        e * e * h
        / (
            F.lit(2.0)
            * F.col("__s2")
            * (F.lit(1.0) - h)
            * (F.lit(1.0) - h)
        )
    )
    ok = (F.col("n") > 2) & (F.col("__s2") > 0) & (F.col("__sxx") > 0)
    return out.select(
        F.col("__x").alias("x"),
        F.col("__y").alias("y"),
        F.when(F.col("__sxx") > 0, F.round(h, 6)).alias("leverage"),
        F.when(ok, F.round(std, 6)).alias("std_residual"),
        F.when(ok, F.round(cook, 6)).alias("cooks_d"),
    )


def energy_distance_1d(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Two-sample energy distance in 1-D:
    D² = 2·E|X−Y| − E|X−X′| − E|Y−Y′| — the moment-free two-sample
    test that is consistent against ANY distributional difference
    (location, scale, shape), closing the two-sample shelf next to
    [[q_ks_test]] (sup gap), [[q_wasserstein]] (mass·distance) and
    [[q_cramer_von_mises]].  Output — ONE row:
    ``(n_a, n_b, e_xy, e_xx, e_yy, energy_dist)`` (ROUND 6).

    Exactness: every pairwise-distance expectation collapses to the
    sorted value marginal — for marginal row k with counts c/d and
    prefix sums over counts AND count-weighted values,
    Σ|a−b| = Σ_k c_k·(v_k·D_{k} − S_{k}) + c_k·((S_n − S_k) − v_k·(n_d − D_k))
    with D/S the INCLUSIVE cumulative count / value-sum of the other
    group — exact decimals on the ROUND-4 value grid, one term per
    marginal row, ROUND(6)-pinned and decimal-summed.

    Scale posture: one (value) count shuffle to the marginal; all six
    cumulative series ride ONE distributed prefix scan; totals are a
    1-row broadcast cross; the final sum is map-combinable.  Nothing
    ever builds a pair space."""
    from conte_to_fresco_etl_spark.parallelism import prefix_sums

    two = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).alias("g"),
        F.round(F.col(value_col).cast("double"), 4).alias("v"),
    )
    per_v = two.groupBy("v").agg(
        F.sum(F.when(F.col("g") == group_a, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("g") == group_b, 1).otherwise(0)).alias("cb"),
    ).select(
        "v", "ca", "cb",
        (F.col("ca") * F.col("v").cast("decimal(18,4)")).cast(
            "decimal(38,4)"
        ).alias("sva"),
        (F.col("cb") * F.col("v").cast("decimal(18,4)")).cast(
            "decimal(38,4)"
        ).alias("svb"),
    )
    tot = per_v.agg(
        F.sum("ca").alias("n_a"),
        F.sum("cb").alias("n_b"),
        F.sum("sva").alias("ta"),
        F.sum("svb").alias("tb"),
    )
    cum = prefix_sums(per_v, "v", ["ca", "cb", "sva", "svb"]).crossJoin(
        broadcast(tot)
    )

    def cross_term(cnt, oc, ocum, osum_cum, onum, otot):
        # Σ over this row's cnt points vs the OTHER group's points:
        # below (inclusive of ties at v: |v-v|=0 contributes nothing,
        # so inclusive vs exclusive at v is indifferent) and above.
        vd = F.col("v").cast("double")
        below = vd * ocum.cast("double") - osum_cum.cast("double")
        above = (otot.cast("double") - osum_cum.cast("double")) - vd * (
            onum.cast("double") - ocum.cast("double")
        )
        return F.round(cnt.cast("double") * (below + above), 6).cast(
            "decimal(38,6)"
        )

    sums = cum.agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.sum(
            cross_term(
                F.col("ca"), F.col("cb"), F.col("cum_cb"),
                F.col("cum_svb"), F.col("n_b"), F.col("tb"),
            )
        ).alias("sxy"),
        F.sum(
            cross_term(
                F.col("ca"), F.col("ca"), F.col("cum_ca"),
                F.col("cum_sva"), F.col("n_a"), F.col("ta"),
            )
        ).alias("sxx"),
        F.sum(
            cross_term(
                F.col("cb"), F.col("cb"), F.col("cum_cb"),
                F.col("cum_svb"), F.col("n_b"), F.col("tb"),
            )
        ).alias("syy"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    exy = F.col("sxy").cast("double") / (na * nb)
    exx = F.col("sxx").cast("double") / (na * na)
    eyy = F.col("syy").cast("double") / (nb * nb)
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return sums.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.when(ok, F.round(exy, 6)).alias("e_xy"),
        F.when(ok, F.round(exx, 6)).alias("e_xx"),
        F.when(ok, F.round(eyy, 6)).alias("e_yy"),
        F.when(ok, F.round(2.0 * exy - exx - eyy, 6)).alias(
            "energy_dist"
        ),
    )


def alexander_govern(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Alexander-Govern k-sample test of equal means under UNEQUAL
    variances: each group's t-score against the variance-weighted
    grand mean passes through Hill's normalizing transformation and
    A = Σ z_i² is χ²(k−1) — the normal-scores sibling of
    [[q_welch_anova]] (better calibrated at small/imbalanced n_i),
    completing the k-sample corner with q_anova / q_kruskal_wallis.
    Output — ONE row: ``(n, k_groups, a_stat)`` (ROUND 6).

    Scale posture: ONE map-combinable sufficient-stat collapse to k
    rows (n, Σv, Σv² decimal-exact); the variance-weighted grand mean
    is a 1-row aggregate over the k-row table crossed back
    (structurally proven bounded); Hill's transform is per-group
    scalar algebra — t pinned ROUND(12) so both engines walk one IEEE
    sqrt/ln polynomial tree."""
    vals = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"),
        F.round(F.col(value_col).cast("double"), 4).alias("__v"),
    )
    v = F.col("__v")
    per_g = vals.groupBy("__g").agg(
        F.count("*").alias("n"),
        F.sum(v.cast("decimal(18,4)")).alias("__s1"),
        F.sum(F.round(v * v, 8).cast("decimal(38,8)")).alias("__s2"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("__s1").cast("double") / nd
    m2 = F.col("__s2").cast("double") / nd - mean * mean
    se2 = F.round(m2 * nd / (nd - 1.0) / nd, 12)
    stats = per_g.select(
        "__g", "n",
        F.round(mean, 12).alias("__m"),
        se2.alias("__se2"),
    ).filter((F.col("n") >= 2) & (F.col("__se2") > 0))
    grand = stats.agg(
        F.round(
            F.sum(F.col("__m") / F.col("__se2"))
            / F.sum(F.lit(1.0) / F.col("__se2")),
            12,
        ).alias("__grand"),
    )
    t = F.round(
        (F.col("__m") - F.col("__grand")) / F.sqrt(F.col("__se2")), 12
    )
    vdf = F.col("n").cast("double") - 1.0
    a = vdf - 0.5
    b = 48.0 * (a * a)
    c = F.sqrt(a * F.log(1.0 + (t * t) / vdf))
    c2 = c * c
    c3 = c2 * c
    c5 = c3 * c2
    c7 = c5 * c2
    z = (
        c
        + (c3 + 3.0 * c) / b
        - (4.0 * c7 + 33.0 * c5 + 240.0 * c3 + 855.0 * c)
        / (10.0 * (b * b) + 8.0 * (b * (c2 * c2)) + 1000.0 * b)
    )
    zt = stats.crossJoin(broadcast(grand)).select(
        "n", F.round(z * z, 12).cast("decimal(28,12)").alias("__z2")
    )
    out = zt.agg(
        F.sum("n").alias("n"),
        F.count("*").alias("k_groups"),
        F.sum("__z2").alias("__a"),
    )
    return out.select(
        F.col("n").cast("long").alias("n"),
        F.col("k_groups").cast("long").alias("k_groups"),
        F.when(
            F.col("k_groups") >= 2,
            F.round(F.col("__a").cast("double"), 6),
        ).alias("a_stat"),
    )
