"""TPC-H-shaped decision-support suite over the driver's star schema.

The reference repo is an ETL pipeline, not a query engine — but an
analytics engine that replaces it must also serve the ad-hoc relational
queries its consumers run over the produced tables.  q1/q3/q5 analogues
live in ``catalog.py``; this module completes the classic 22-query
decision-support surface, adapted to the driver's reduced schemas
(TESTDATA.md: no partsupp table, no l_shipmode/l_commitdate/c_phone
columns — each adaptation keeps the *query shape* that matters:
correlated aggregates, EXISTS / NOT EXISTS, IN-subqueries with HAVING,
scalar subqueries, disjunctive predicates, outer-join distributions).

Every query follows the catalog's cross-engine exactness rules
(decimal sums, ROUND(x,6) on derived floats, deterministic tiebreaks
on every LIMIT) and carries an exact DuckDB oracle.

Scale posture (the point of writing these on Spark): fact-fact joins
shuffle on their keys once, correlated subqueries are rewritten as
aggregate-then-join (never per-row), and EXISTS / NOT IN become
semi/anti joins — the shapes Catalyst plans as Broadcast/SortMerge
joins with pushed-down filters at 100 TB.  Broadcast policy: only
CONSTANT-size sides carry an ``F.broadcast`` pin (nation/region — 25/5
rows at every SF — and 1-row scalar aggregates); sides whose size
scales with SF (customer / supplier / part subsets, filtered orders,
HAVING-qualified aggregates) are left to the planner, which broadcasts
them under the 64 MB threshold at gate scale and falls back to shuffle
joins at 100 TB instead of OOMing on a forced hint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from conte_to_fresco_etl_spark.plans.catalog import (
    _SQL_DISC_PRICE,
    _dec2,
    _dec4,
    _disc_price,
    _q,
    _t,
)

# ---------------------------------------------------------------------------
# Q2 — min-cost supplier per part (correlated MIN -> aggregate+join)
# ---------------------------------------------------------------------------


@_q(
    "q2_min_cost_supplier",
    """
    WITH unit AS (
      SELECT l_partkey, l_suppkey,
             ROUND(l_extendedprice / l_quantity, 6) AS unit_price
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_size = 15
    )
    SELECT u.l_partkey AS p_partkey, s_name, unit_price
    FROM unit u
    JOIN (SELECT l_partkey, MIN(unit_price) AS mn
          FROM unit GROUP BY l_partkey) m
      ON u.l_partkey = m.l_partkey AND u.unit_price = m.mn
    JOIN supplier ON s_suppkey = u.l_suppkey
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (no partsupp: unit price derives from lineitem).
    The correlated ``MIN`` becomes aggregate-then-join: the per-part
    minimum is a tiny DataFrame broadcast back onto the priced rows —
    never a per-row subquery.  Ties (several suppliers at the minimum)
    are kept, exactly as the oracle's join keeps them.  ROUND(,6)
    pins the double division cross-engine."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    sup = _t(spark, sf_dir, "supplier")
    unit = (
        _t(spark, sf_dir, "lineitem")
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "l_partkey",
            "l_suppkey",
            F.round(F.col("l_extendedprice") / F.col("l_quantity"), 6).alias(
                "unit_price"
            ),
        )
    )
    mn = unit.groupBy("l_partkey").agg(F.min("unit_price").alias("mn"))
    return (
        unit.join(
            mn.withColumnRenamed("l_partkey", "mk"),
            (F.col("l_partkey") == F.col("mk"))
            & (F.col("unit_price") == F.col("mn")),
        )
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(F.col("l_partkey").alias("p_partkey"), "s_name", "unit_price")
    )


# ---------------------------------------------------------------------------
# Q4 — order priority checking (EXISTS -> left-semi with compound condition)
# ---------------------------------------------------------------------------


@_q(
    "q4_priority_exists",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS becomes a left-semi join whose condition
    spans both sides (shipdate > orderdate + 60 days stands in for the
    absent commit/receipt dates).  The quarter filter prunes orders
    before the semi probe; the semi join shuffles each side once on the
    order key and never widens rows."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# ---------------------------------------------------------------------------
# Q6 — forecasting revenue change (pure scan + filter + scalar agg)
# ---------------------------------------------------------------------------


@_q(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 25
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the canonical pushdown probe — every predicate reaches
    the parquet scan (shipdate range prunes row groups via min/max
    stats), and the aggregation is a map-side partial over 4 columns.
    At 100 TB this query reads only the pruned column chunks."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 25)
    )
    return li.agg(
        F.sum(_dec2("l_extendedprice") * _dec4("l_discount"))
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_items"),
    )


# ---------------------------------------------------------------------------
# Q7 — volume shipping between two nations
# ---------------------------------------------------------------------------


@_q(
    "q7_volume_shipping",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS l_year,
           CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: the nation pair is a disjunctive cross-dimension
    predicate.  Both nation copies broadcast (25 rows); the only
    shuffle is lineitem-orders on the order key.  The pair filter sits
    after the dimension joins where Catalyst can still push each
    disjunct's half down the matching branch."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q8 — national market share (ratio of conditional decimal sums)
# ---------------------------------------------------------------------------


@_q(
    "q8_market_share",
    f"""
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume
                               ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             CAST({_SQL_DISC_PRICE} AS DECIMAL(38,6)) AS volume,
             n1.n_name AS nation
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region ON n2.n_regionkey = r_regionkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    ) t GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: market share = conditional sum / total sum per year.
    Both sums are decimal(38,6)-exact, so the double ratio has
    identical operands in both engines; ROUND(,6) seals it.  Seven
    dimension joins all broadcast; lineitem shuffles once."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_rkey")
    )
    vol = F.col("volume")
    zero = F.lit(0).cast("decimal(38,6)")
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_rkey") == F.col("r_regionkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            _disc_price().cast("decimal(38,6)").alias("volume"),
            "nation",
        )
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_3", vol).otherwise(zero))
                .cast("double")
                / F.sum(vol).cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# Q9 — product type profit (profit = revenue - cost, by nation x year)
# ---------------------------------------------------------------------------


@_q(
    "q9_product_profit",
    """
    SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                  - CAST(p_retailprice AS DECIMAL(18,2))
                    * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,6)) AS amount
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    ) t GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (retail price stands in for the absent
    ps_supplycost).  The LIKE filter on part prunes the broadcast side
    before the join; profit is assembled in decimal and cast to
    decimal(38,6) in BOTH engines so mixed-scale subtraction cannot
    diverge."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    amount = (
        _disc_price() - _dec2("p_retailprice") * _dec2("l_quantity")
    ).cast("decimal(38,6)")
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("amount").cast("double").alias("sum_profit"))
    )


# ---------------------------------------------------------------------------
# Q10 — returned item reporting (top-20 lost-revenue customers)
# ---------------------------------------------------------------------------


@_q(
    "q10_returned_items",
    f"""
    SELECT c_custkey, c_name, CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: quarter + returnflag filters prune both fact sides
    before the key shuffle; the ranking is a TakeOrdered(20) — a
    per-partition top-k then a 20-row driver merge, never a full sort.
    Tiebreak on c_custkey keeps the LIMIT deterministic."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q11 — important stock (share-of-total threshold via scalar subquery)
# ---------------------------------------------------------------------------


@_q(
    "q11_important_parts",
    """
    WITH val AS (
      SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS value
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_5'
      GROUP BY l_partkey
    )
    SELECT l_partkey AS p_partkey, CAST(value AS DOUBLE) AS value
    FROM val
    WHERE CAST(value AS DOUBLE) > (SELECT CAST(SUM(value) AS DOUBLE) * 0.002
                                   FROM val)
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (lineitem value stands in for partsupp stock).
    The scalar subquery (global total) is a 1-row aggregate
    crossJoin-broadcast back onto the per-part values — the per-group
    table is computed ONCE and reused for both sides.  Threshold
    compare happens in double on identical decimal-exact operands."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    val = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("l_partkey")
        .agg(F.sum(_dec2("l_extendedprice")).alias("value_dec"))
    )
    total = val.agg(
        (F.sum("value_dec").cast("double") * F.lit(0.002)).alias("threshold")
    )
    return (
        val.join(F.broadcast(total))
        .filter(F.col("value_dec").cast("double") > F.col("threshold"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("value_dec").cast("double").alias("value"),
        )
    )


# ---------------------------------------------------------------------------
# Q12 — shipping priority classes (CASE-sum pivot over a join)
# ---------------------------------------------------------------------------


@_q(
    "q12_priority_class",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)
def q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (returnflag stands in for the absent shipmode;
    shipdate > orderdate + 90 days stands in for the late-receipt
    predicate).  The CASE-sum pair is the classic conditional-pivot
    aggregation — one pass, map-side partials."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            o,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q13 — customer order-count distribution (outer join + double group-by)
# ---------------------------------------------------------------------------


@_q(
    "q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) t GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: LEFT OUTER with a filter INSIDE the join condition
    (not a WHERE — customers with zero matching orders must survive
    with c_count = 0), then a distribution over the per-customer
    counts.  COUNT(o_orderkey) counts non-null matches only.  Scale:
    one shuffle on custkey, then a tiny second agg over |distinct
    counts| rows."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


# ---------------------------------------------------------------------------
# Q14 — promotion effect (conditional revenue ratio)
# ---------------------------------------------------------------------------


@_q(
    "q14_promo_revenue",
    f"""
    SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_SQL_DISC_PRICE}
                                       ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                 / CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE), 6) AS promo_revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo share of one month's revenue.  Part broadcasts;
    the month filter reaches the lineitem scan.  Numerator and
    denominator are decimal-exact; the final 100*x/y + ROUND happens on
    identical doubles in both engines."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    zero = F.lit(0).cast("decimal(18,6)")
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", _disc_price()).otherwise(zero)
                ).cast("double")
                / F.sum(_disc_price()).cast("double"),
                6,
            ).alias("promo_revenue")
        )
    )


# ---------------------------------------------------------------------------
# Q15 — top supplier (scalar MAX subquery over a derived view)
# ---------------------------------------------------------------------------


@_q(
    "q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, SUM({_SQL_DISC_PRICE}) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the view + scalar-MAX pattern.  The per-supplier
    revenue table is computed once; its 1-row MAX crossJoin-broadcasts
    back for the equality probe.  Equality is decimal-on-decimal —
    exact, so 'all suppliers tied at the max' reproduces faithfully."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_disc_price()).alias("total_revenue_dec")
    )
    mx = rev.agg(F.max("total_revenue_dec").alias("mx"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue_dec") == F.col("mx"))
        .join(s, F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue_dec").cast("double").alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Q16 — supplier variety (NOT IN -> anti join + count distinct)
# ---------------------------------------------------------------------------


@_q(
    "q16_supplier_variety",
    """
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (1,5,9,13,17,21,25,29)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (negative account balance stands in for the
    complaints filter).  NOT IN over a null-free key set is exactly a
    left-anti join — the excluded-supplier set broadcasts.  The count
    distinct shuffles (group keys, suppkey) pairs once."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
    )
    li = _t(spark, sf_dir, "lineitem")
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    return (
        li.join(bad, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (correlated AVG -> aggregate+join)
# ---------------------------------------------------------------------------


@_q(
    "q17_small_qty_revenue",
    """
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                / 7.0 AS DOUBLE) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    JOIN (SELECT l_partkey AS pk,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*) AS avg_qty
          FROM lineitem GROUP BY l_partkey) a ON a.pk = p_partkey
    WHERE p_brand = 'Brand#3' AND l_quantity < 0.5 * avg_qty
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: the correlated per-part AVG becomes
    aggregate-then-join.  The average is decimal-sum / count — exact
    and order-independent — computed over the SAME row set in both
    engines (per-part averages don't depend on the brand filter, so
    Spark computes them from the brand-pruned semi subset for free
    identical values).  The threshold probe broadcasts the tiny
    per-part average table."""
    li = _t(spark, sf_dir, "lineitem")
    p3 = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    # per-part average over ALL lineitems of that part (restricting to
    # brand parts keeps values identical — the avg is per-part)
    li_brand = li.join(
        p3.select("p_partkey"),
        F.col("l_partkey") == F.col("p_partkey"),
        "left_semi",
    )
    avg = li_brand.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.sum(_dec2("l_quantity")).cast("double") / F.count("*")).alias("avg_qty")
    )
    return (
        li.join(p3, F.col("p_partkey") == F.col("l_partkey"))
        .join(avg, F.col("pk") == F.col("p_partkey"))
        .filter(F.col("l_quantity") < F.lit(0.5) * F.col("avg_qty"))
        .agg(
            (F.sum(_dec2("l_extendedprice")).cast("double") / F.lit(7.0))
            .cast("double")
            .alias("avg_yearly")
        )
    )


# ---------------------------------------------------------------------------
# Q18 — large-volume customers (HAVING-subquery -> pre-aggregated probe)
# ---------------------------------------------------------------------------


@_q(
    "q18_large_volume_customers",
    """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(sum_qty AS DOUBLE) AS sum_qty
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN (SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250) q
      ON q.l_orderkey = o_orderkey
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: the IN + HAVING subquery collapses into one
    aggregate — group lineitem by order, filter > 250, and the
    survivor table (tiny) broadcasts into orders; lineitem is never
    re-joined.  TakeOrdered(100) with the orderkey tiebreak."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    qual = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec2("l_quantity")).alias("sum_qty_dec"))
        .filter(F.col("sum_qty_dec") > F.lit(250).cast("decimal(18,2)"))
    )
    return (
        o.join(qual, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q19 — discounted revenue (disjunction of conjunctive range predicates)
# ---------------------------------------------------------------------------


@_q(
    "q19_disjunctive_revenue",
    f"""
    SELECT CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) AS revenue, COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: an OR of per-branch conjunctions spanning both join
    sides.  Catalyst derives the common implied part filter
    (brand IN (...) AND size <= 15) and pushes it below the broadcast
    join, so the part build side holds only candidate rows; the full
    disjunction re-checks after the join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#11")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#22")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            F.sum(_disc_price()).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Q20 — potential part promotion (nested IN -> semi-join chain)
# ---------------------------------------------------------------------------


@_q(
    "q20_promotion_suppliers",
    """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_name LIKE '%red%'
        AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_suppkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > CAST(100 AS DECIMAL(18,2)))
      AND s_nationkey IN (SELECT n_nationkey FROM nation
                          WHERE n_name IN ('NATION_2','NATION_3','NATION_4'))
    """,
)
def q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested INs become a chain of semi joins — the
    qualifying-supplier aggregate (year of shipped quantity for parts
    matching the name pattern) is tiny and broadcasts; the nation IN
    is a broadcast semi too.  Supplier is never widened."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_2", "NATION_3", "NATION_4")
    )
    qual = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(_dec2("l_quantity")).alias("qty"))
        .filter(F.col("qty") > F.lit(100).cast("decimal(18,2)"))
    )
    return (
        s.join(qual, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(
            F.broadcast(n),
            F.col("s_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
        .select("s_suppkey", "s_name")
    )


# ---------------------------------------------------------------------------
# Q21 — sole returning supplier (EXISTS + NOT EXISTS -> per-order stats)
# ---------------------------------------------------------------------------


@_q(
    "q21_sole_returner",
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R' AND n_name = 'NATION_1'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    """,
)
def q21_sole_returner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (returnflag 'R' stands in for the late-delivery
    predicate).  The correlated EXISTS pair collapses into ONE
    per-order aggregate: EXISTS(other supplier) == distinct suppliers
    > 1; NOT EXISTS(other returning supplier) == distinct RETURNING
    suppliers == 1 (l1's own supplier always returns, so it is the
    sole member).  One extra shuffle over lineitem replaces two
    correlated probes — the aggregate-instead-of-EXISTS rewrite that
    survives 100x scale."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    stats = li.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.count_distinct(F.col("l_suppkey")).alias("nsupp"),
        F.count_distinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("nretsupp"),
    )
    l1 = li.filter(F.col("l_returnflag") == "R")
    return (
        l1.join(stats, F.col("ok") == F.col("l_orderkey"))
        .filter((F.col("nsupp") > 1) & (F.col("nretsupp") == 1))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Q22 — dormant wealthy customers (scalar AVG + NOT EXISTS -> anti join)
# ---------------------------------------------------------------------------


@_q(
    "q22_dormant_customers",
    """
    SELECT c_nationkey, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                                   AS DOUBLE) / COUNT(*)
                       FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    GROUP BY c_nationkey
    """,
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (nationkey stands in for the phone country
    code; dormant = no orders since 1999).  The global average is a
    decimal-exact 1-row crossJoin broadcast; NOT EXISTS is a left-anti
    join against the date-pruned orders — at scale the anti side
    shrinks to recent order keys before any shuffle."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp")
    )
    avg = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (F.sum(_dec2("c_acctbal")).cast("double") / F.count("*")).alias(
                "avg_bal"
            )
        )
    )
    return (
        c.join(F.broadcast(avg))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(_dec2("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )
