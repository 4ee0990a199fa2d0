"""Relational core queries (SURVEY.md §2.B rows B1–B13).

The reference delegates this entire surface to pandas on the decoded
GeoDataFrame (geoparquet/__init__.py:47-70≈ produces the frame; the
README workflow is read → dataframe algebra → write). Here each
operator is a declarative DataFrame plan — Catalyst does pushdown,
pruning, broadcast selection and partial aggregation (SURVEY.md §4.2).

Scale posture: every join against `region`/`nation`/`supplier` is
explicitly broadcast (they are fixed-size or sublinear dims — at 100 TB
the fact side never shuffles for them); fact⋈fact joins are equi-joins
that AQE can re-plan, and every aggregate output is a small key space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geoparquet_python_spark.functions.exact import broadcast_narrow, davg, dsum, sql_davg, sql_dsum
from geoparquet_python_spark.io import load_table
from geoparquet_python_spark.registry import query




# --------------------------------------------------------------------------
# B1/B2 + C1: scan → filter → aggregate (flagship)
# --------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      {sql_dsum("l_quantity", "sum_qty")},
      {sql_dsum("l_extendedprice", "sum_base_price")},
      {sql_dsum("l_extendedprice * (1.0 - l_discount)", "sum_disc_price")},
      {sql_dsum("(l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax)", "sum_charge")},
      {sql_davg("l_quantity", "avg_qty")},
      {sql_davg("l_extendedprice", "avg_price")},
      {sql_davg("l_discount", "avg_disc")},
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary: scan → filter → hash agg → sort.

    The shipdate filter reaches Parquet row-group stats (PushedFilters)
    and only the 7 referenced columns are read; the only shuffle is the
    final agg exchange on a 6-value key after map-side partial agg.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# B3: inner equi-join chain through broadcast dims
# --------------------------------------------------------------------------


@query(
    "q2_regional_revenue",
    oracle=f"""
    SELECT r_name,
           {sql_dsum("o_totalprice", "revenue")},
           COUNT(*) AS num_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name
    ORDER BY r_name
    """,
)
def q2_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact → customer → nation → region, revenue per region.

    nation/region are broadcast: the orders side is never shuffled for
    the dim joins; the single shuffle is orders⋈customer on custkey
    (both sides shrink to the join columns first via column pruning).
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(broadcast_narrow(n), c.c_nationkey == n.n_nationkey)
        .join(broadcast_narrow(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(dsum("o_totalprice", "revenue"), F.count(F.lit(1)).alias("num_orders"))
        .orderBy("r_name")
    )


# --------------------------------------------------------------------------
# B3 + B10: join + top-k with fully deterministic ordering
# --------------------------------------------------------------------------


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           o_orderdate,
           o_orderpriority,
           {sql_dsum("l_extendedprice * (1.0 - l_discount)", "revenue")}
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1997-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3 shape: selective dim filter → fact join → agg → top-k.

    The LIMIT is deterministic because `revenue` is decimal-exact
    (identical on any engine/partitioning) and l_orderkey breaks ties.
    Spark plans TakeOrderedAndProject — no global sort materialization.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp"))
        .join(
            o.where(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")),
            li.l_orderkey == o.o_orderkey,
        )
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# B5: left-semi join (EXISTS shape)
# --------------------------------------------------------------------------


@query(
    "q4_priority_with_heavy_items",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_quantity > 45.0
    )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_priority_with_heavy_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as left-semi join: orders having a >45-quantity line item."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 45.0)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# B3 ×5: multi-way join with a cross-dimension equality (TPC-H Q5 shape)
# --------------------------------------------------------------------------


@query(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name,
           {sql_dsum("l_extendedprice * (1.0 - l_discount)", "revenue")}
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by nation where customer and supplier share a nation.

    supplier/nation/region broadcast; the only big shuffles are
    orders⋈customer and lineitem⋈orders, both on their natural keys.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            broadcast_narrow(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(broadcast_narrow(n), s.s_nationkey == n.n_nationkey)
        .join(broadcast_narrow(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(revenue, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


# --------------------------------------------------------------------------
# B5: left-anti join (NOT EXISTS shape)
# --------------------------------------------------------------------------


@query(
    "q_customers_without_orders",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS num_customers
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as left-anti join: customers that never ordered."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("num_customers"))
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# B4: left outer join with null-handling
# --------------------------------------------------------------------------


@query(
    "q_customer_order_profile",
    oracle="""
    SELECT c_custkey,
           c_mktsegment,
           COUNT(o_orderkey) AS order_count,
           COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 0.0)
             AS total_spend
    FROM customer
    LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey, c_mktsegment
    ORDER BY c_custkey
    """,
)
def q_customer_order_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join: every customer, with 0-filled order stats."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("order_count"),
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double"),
                F.lit(0.0),
            ).alias("total_spend"),
        )
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# B6: non-equi (range) join against a small banding dimension
# --------------------------------------------------------------------------

_PRICE_BANDS = [
    ("budget", 900.0, 925.0),
    ("mid", 925.0, 950.0),
    ("premium", 950.0, 975.0),
    ("luxury", 975.0, 1000.0),
]


@query(
    "q_price_band_range_join",
    oracle=f"""
    WITH bands(band, lo, hi) AS (
      VALUES {", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _PRICE_BANDS)}
    )
    SELECT band,
           COUNT(*) AS num_parts,
           {sql_davg("p_retailprice", "avg_price")}
    FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
    GROUP BY band
    ORDER BY band
    """,
)
def q_price_band_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: broadcast the tiny band dim → BroadcastNestedLoopJoin.

    The generic big⋈big range-join strategy (bucketize the range key to
    an equi-join prefix) is in operators/asof.py; here the small side is
    broadcast so the nested-loop join never shuffles the fact table.
    """
    p = load_table(spark, sf_dir, "part")
    bands = spark.createDataFrame(_PRICE_BANDS, "band string, lo double, hi double")
    return (
        p.join(
            broadcast_narrow(bands),
            (p.p_retailprice >= bands.lo) & (p.p_retailprice < bands.hi),
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("num_parts"), davg("p_retailprice", "avg_price"))
        .orderBy("band")
    )


# --------------------------------------------------------------------------
# B8 + B4: cross join of two tiny distinct sets, 0-filled against facts
# --------------------------------------------------------------------------


@query(
    "q_status_priority_matrix",
    oracle="""
    WITH s AS (SELECT DISTINCT o_orderstatus FROM orders),
         p AS (SELECT DISTINCT o_orderpriority FROM orders),
         counts AS (
           SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
           FROM orders GROUP BY 1, 2
         )
    SELECT s.o_orderstatus, p.o_orderpriority, COALESCE(counts.n, 0) AS n
    FROM s CROSS JOIN p
    LEFT JOIN counts USING (o_orderstatus, o_orderpriority)
    ORDER BY s.o_orderstatus, p.o_orderpriority
    """,
)
def q_status_priority_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense status×priority matrix: crossJoin + left join + 0-fill."""
    o = load_table(spark, sf_dir, "orders")
    statuses = o.select("o_orderstatus").distinct()
    priorities = o.select("o_orderpriority").distinct()
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        statuses.crossJoin(priorities)
        .join(counts, ["o_orderstatus", "o_orderpriority"], "left")
        .select(
            "o_orderstatus",
            "o_orderpriority",
            F.coalesce("n", F.lit(0)).alias("n"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


# --------------------------------------------------------------------------
# B11/B12: union / except / intersect
# --------------------------------------------------------------------------


@query(
    "q_active_nation_keys_union",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    ORDER BY nationkey
    """,
)
def q_active_nation_keys_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (set) of nation keys present in customer or supplier."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.union(s).distinct().orderBy("nationkey")


@query(
    "q_nations_without_suppliers",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    ORDER BY nationkey
    """,
)
def q_nations_without_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: nations with customers but no suppliers."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.subtract(s).orderBy("nationkey")


@query(
    "q_nations_with_both",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    ORDER BY nationkey
    """,
)
def q_nations_with_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: nations with both customers and suppliers."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s).orderBy("nationkey")


# --------------------------------------------------------------------------
# B13: distinct
# --------------------------------------------------------------------------


@query(
    "q_distinct_flag_status",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus
    FROM lineitem
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q_distinct_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT pairs (map-side partial dedup then tiny exchange)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# B9: multi-key global sort with nulls-last semantics
# --------------------------------------------------------------------------


@query(
    "q_supplier_sorted",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal
    FROM supplier
    ORDER BY s_nationkey DESC, s_acctbal ASC, s_suppkey
    """,
)
def q_supplier_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global multi-key sort (range-partitioned sample sort in Spark)."""
    s = load_table(spark, sf_dir, "supplier")
    return s.orderBy(
        F.col("s_nationkey").desc_nulls_last(),
        F.col("s_acctbal").asc_nulls_first(),
        F.col("s_suppkey"),
    )


@query(
    "q_user_activity_full_outer",
    oracle="""
    WITH p AS (
      SELECT user_id, COUNT(*) AS n_purchases
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    c AS (
      SELECT user_id, COUNT(*) AS n_clicks
      FROM events WHERE event_type = 'click' GROUP BY user_id
    )
    SELECT COALESCE(p.user_id, c.user_id) AS user_id,
           COALESCE(n_purchases, 0) AS n_purchases,
           COALESCE(n_clicks, 0) AS n_clicks
    FROM p FULL OUTER JOIN c ON p.user_id = c.user_id
    ORDER BY user_id
    """,
)
def q_user_activity_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4 full-outer join: users who only click and users who only
    purchase both survive with zero-filled counts. Both inputs are
    pre-aggregated (shrunk to |users| before the join), so the full
    outer is a join of two small keyed sides — the 100 TB pattern is
    aggregate-then-outer-join, never outer-join raw facts."""
    e = load_table(spark, sf_dir, "events")
    p = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    c = (
        e.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    return (
        p.join(c, "user_id", "full")
        .select(
            "user_id",
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
            F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# B+: correlated subqueries (scalar + EXISTS) — Catalyst decorrelation
# --------------------------------------------------------------------------

_SQL_CORR_SUBQ = """
    SELECT s_suppkey, s_name, s_acctbal
    FROM {sup} s
    WHERE CAST(s_acctbal AS DECIMAL(38,6))
          * (SELECT COUNT(*) FROM {sup} s2
             WHERE s2.s_nationkey = s.s_nationkey)
          > (SELECT CAST(SUM(CAST(s2.s_acctbal AS DECIMAL(38,6)))
                         AS DECIMAL(38,6))
             FROM {sup} s2 WHERE s2.s_nationkey = s.s_nationkey)
      AND EXISTS (SELECT 1 FROM {cust} c
                  WHERE c.c_nationkey = s.s_nationkey
                    AND c.c_acctbal < 0)
    ORDER BY s_suppkey
"""


@query(
    "q_correlated_subquery_balance",
    oracle=_SQL_CORR_SUBQ.format(sup="supplier", cust="customer"),
)
def q_correlated_subquery_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery surface: suppliers whose balance is above
    their NATION's average (correlated scalar subqueries) in nations
    that have at least one overdrawn customer (correlated EXISTS) —
    the query shape ORM/BI layers emit constantly.

    Declared as literal ANSI SQL and handed to Catalyst, whose
    decorrelation rewrites both subqueries into aggregate + join
    (RewriteCorrelatedScalarSubquery / RewritePredicateSubquery →
    left-semi) — never a per-row re-execution, which is what a naive
    engine does and what kills this shape at scale. The above-average
    compare is exact: balance·count > sum in DECIMAL(38,6) on both
    engines (a double AVG would be summation-order-dependent at the
    boundary). Same SQL text runs on DuckDB as the oracle."""
    return spark.sql(
        _SQL_CORR_SUBQ,
        sup=load_table(spark, sf_dir, "supplier"),
        cust=load_table(spark, sf_dir, "customer"),
    )


# --------------------------------------------------------------------------
# B+: LATERAL correlated subquery join (top-k per driving row)
# --------------------------------------------------------------------------

_SQL_LATERAL_TOPK = """
    SELECT n.n_name AS nation, t.s_suppkey, t.s_name, t.s_acctbal
    FROM {nat} n, LATERAL (
      SELECT s.s_suppkey, s.s_name, s.s_acctbal
      FROM {sup} s
      WHERE s.s_nationkey = n.n_nationkey
      ORDER BY s.s_acctbal DESC, s.s_suppkey
      LIMIT 2
    ) t
    ORDER BY nation, t.s_acctbal DESC, t.s_suppkey
"""


@query(
    "q_lateral_topk_suppliers",
    oracle=_SQL_LATERAL_TOPK.format(nat="nation", sup="supplier"),
)
def q_lateral_topk_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL-join surface: for every nation, its two richest
    suppliers — a correlated subquery with ORDER BY ... LIMIT that
    references the driving row, the "top-k related rows per entity"
    idiom (latest orders per customer, best chunks per query, ...).

    The IDENTICAL SQL text runs on both engines (comma-LATERAL form;
    Spark 4 and DuckDB both parse it). Catalyst decorrelates the
    lateral into a per-group limit over an equi-join — a broadcast
    hash join plus rank-limit, never a per-driving-row re-execution
    of the inner query (the nested-loop interpretation a naive engine
    executes, O(|nation|) scans of supplier). Ties are broken by
    s_suppkey so the k-th row is deterministic cross-engine; decimal
    s_acctbal ordering is exact."""
    return spark.sql(
        _SQL_LATERAL_TOPK,
        nat=load_table(spark, sf_dir, "nation"),
        sup=load_table(spark, sf_dir, "supplier"),
    )


@query(
    "q_nation_customer_surplus_multiset",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT ALL
    SELECT s_nationkey FROM supplier
    ORDER BY nationkey
    """,
)
def q_nation_customer_surplus_multiset(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXCEPT ALL — the MULTISET difference the distinct EXCEPT above
    cannot express: one output row per SURPLUS customer (a nation with
    30 customers and 4 suppliers emits 26 rows; bag semantics
    max(m−n, 0), the ANSI definition). The pair with INTERSECT ALL
    below completes the set-operator surface. Spark plans exceptAll
    as a signed-count aggregate + generate (count occurrences on each
    side, re-emit the difference) — one shuffle on the compared
    columns, never a row-by-row anti-join cascade; same result from
    DuckDB's native EXCEPT ALL."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.exceptAll(s).orderBy("nationkey")


@query(
    "q_nation_matched_pairs_multiset",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT ALL
    SELECT s_nationkey FROM supplier
    ORDER BY nationkey
    """,
)
def q_nation_matched_pairs_multiset(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INTERSECT ALL — multiset intersection: per nation, min(#cust,
    #supp) rows — the 'how many 1:1 pairings exist' cardinality that
    distinct INTERSECT collapses to membership. Same signed-count
    aggregate plan class as exceptAll; one shuffle."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersectAll(s).orderBy("nationkey")
