"""Relational query surface over the driver's TPC-H-ish star schema.

The reference engine has NO joins — one ``input_path`` per job, no
second-input plumbing (mr/proto/mapreduce.proto:16; SURVEY.md §2.4) —
so this module is pure Spark-first capability fill-in: scan → filter →
join → aggregate → order/limit plans in the shapes a 100 TB cluster
wants.

Scale notes baked into every query:
- fixed-cardinality dimensions (region=5, nation=25 rows at ANY scale
  factor) are explicitly ``broadcast()`` — no shuffle for them, ever;
- fact-fact joins (orders⋈lineitem) stay shuffle hash/sort-merge on
  the join key and AQE handles skew/coalescing;
- every float aggregate goes through the exact decimal-sum pattern
  (``functions.numeric``) so the DuckDB oracle hash matches bit-exact
  regardless of partitioning/order;
- filters sit directly on the scans so Catalyst pushes them into the
  parquet reader (PushedFilters) and prunes columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dsum_col, dsum_expr, dsum_sql
from ..sources.tables import BROADCAST_TABLES, load_table


def dim(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a table, broadcast-hinted when it's a fixed-size dimension."""
    df = load_table(spark, sf_dir, name)
    return F.broadcast(df) if name in BROADCAST_TABLES else df


# ------------------------------------------------------ pricing summary

PRICING_CUTOFF = "2000-09-02"


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem.

    Single pruned scan (5 value cols + 3 key/filter cols) → partial+
    final hash aggregate on a 6-group key. No join, one shuffle of 6
    rows per map partition — the canonical 100 TB aggregation plan.
    Averages are computed as exact-decimal-sum / count in DOUBLE so
    both engines produce the identical IEEE result.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit(PRICING_CUTOFF).cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    grouped = li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum_col("l_quantity", "sum_qty"),
        dsum_col("l_extendedprice", "sum_base_price"),
        dsum_expr(disc_price, "sum_disc_price"),
        dsum_expr(charge, "sum_charge"),
        F.count("*").alias("count_order"),
    )
    return grouped.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        (F.col("sum_qty") / F.col("count_order")).alias("avg_qty"),
        (F.col("sum_base_price") / F.col("count_order")).alias("avg_price"),
        "count_order",
    )


PRICING_SUMMARY_ORACLE = f"""
WITH g AS (
  SELECT l_returnflag, l_linestatus,
         {dsum_sql('l_quantity', 'sum_qty', scale=2, precision=18)},
         {dsum_sql('l_extendedprice', 'sum_base_price', scale=2, precision=18)},
         {dsum_sql('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
         {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
         count(*) AS count_order
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '{PRICING_CUTOFF} 00:00:00'
  GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price,
       sum_charge, sum_qty / count_order AS avg_qty,
       sum_base_price / count_order AS avg_price, count_order
FROM g
"""

# ------------------------------------------------------- top revenue (Q3)

TOPREV_SEGMENT = "BUILDING"
TOPREV_DATE = "1998-01-01"
TOPREV_K = 10


def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: top-K unshipped-revenue orders for one segment.

    customer(filtered) ⋈ orders(filtered) ⋈ lineitem(filtered): both
    filters push into the scans, the orders⋈lineitem side is the big
    shuffle join, and the pre-filtered customer side shrinks to ~1/5
    of customers (AQE picks broadcast when it fits — at 100 TB it
    correctly stays a shuffle join). Top-K runs as a global
    TakeOrdered on the already-aggregated rows with a deterministic
    (revenue DESC, orderkey ASC) tie-break.
    """
    cutoff = F.lit(TOPREV_DATE).cast("timestamp")
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == TOPREV_SEGMENT
    )
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum_expr(rev, "revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(TOPREV_K)
    )


TOP_REVENUE_ORACLE = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = '{TOPREV_SEGMENT}'
  AND o_orderdate < TIMESTAMP '{TOPREV_DATE} 00:00:00'
  AND l_shipdate > TIMESTAMP '{TOPREV_DATE} 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT {TOPREV_K}
"""

# ---------------------------------------------------- nation revenue (Q5)

NATREV_REGION = "ASIA"
NATREV_FROM = "1996-01-01"
NATREV_TO = "1998-01-01"


def nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped: revenue by nation where customer and supplier
    share a nation, within one region and a two-year order window.

    Join order (big→small): lineitem ⋈ orders (shuffle, both filtered)
    ⋈ customer (shuffle) ⋈ supplier (broadcast: fixed small) with the
    c_nationkey = s_nationkey locality condition, then nation and
    region as broadcast dims. Only nation-level rows survive the final
    6-way plan — the aggregate output is 5 rows at any scale.
    """
    lo = F.lit(NATREV_FROM).cast("timestamp")
    hi = F.lit(NATREV_TO).cast("timestamp")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    supp = dim(spark, sf_dir, "supplier")
    nation = dim(spark, sf_dir, "nation")
    region = dim(spark, sf_dir, "region")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == NATREV_REGION)
        .groupBy("n_name")
        .agg(dsum_expr(rev, "revenue"), F.count("*").alias("n_items"))
    )


NATION_REVENUE_ORACLE = f"""
SELECT n_name, {dsum_sql('l_extendedprice * (1 - l_discount)', 'revenue')},
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{NATREV_REGION}'
  AND o_orderdate >= TIMESTAMP '{NATREV_FROM} 00:00:00'
  AND o_orderdate <  TIMESTAMP '{NATREV_TO} 00:00:00'
GROUP BY n_name
"""

# ------------------------------------------------- order priority (Q4-ish)

PRIO_FROM = "1997-07-01"
PRIO_TO = "1997-10-01"


def order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders per priority that had at least one line shipped AFTER the
    order date (late shipment), within one quarter.

    The existence test is a LEFT SEMI join — Spark never materializes
    the matching lineitem rows, just probes; at scale this is the
    shape that avoids both the fan-out join and a distinct.
    """
    lo = F.lit(PRIO_FROM).cast("timestamp")
    hi = F.lit(PRIO_TO).cast("timestamp")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


ORDER_PRIORITY_ORACLE = f"""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '{PRIO_FROM} 00:00:00'
  AND o_orderdate <  TIMESTAMP '{PRIO_TO} 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""

# --------------------------------------------- region/nation acctbal roll-up


def region_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer account-balance roll-up through the broadcast dims.

    customer ⋈ nation ⋈ region with both dimension sides broadcast —
    zero shuffle until the final 25-group aggregate. This is the
    plan-shape witness for ``BROADCAST_TABLES``.
    """
    cust = load_table(spark, sf_dir, "customer")
    nation = dim(spark, sf_dir, "nation")
    region = dim(spark, sf_dir, "region")
    return (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            dsum_col("c_acctbal", "sum_acctbal"),
        )
        .withColumn("avg_acctbal", F.col("sum_acctbal") / F.col("n_customers"))
    )


REGION_ACCTBAL_ORACLE = f"""
WITH g AS (
  SELECT r_name, n_name, count(*) AS n_customers,
         {dsum_sql('c_acctbal', 'sum_acctbal', scale=2, precision=18)}
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name
)
SELECT r_name, n_name, n_customers, sum_acctbal,
       sum_acctbal / n_customers AS avg_acctbal
FROM g
"""

# ------------------------------------------------------ promo share (Q14)

PROMO_FROM = "1997-01-01"
PROMO_TO = "1997-04-01"


def promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped: % of revenue from PROMO-type parts in a window.

    lineitem(filtered) ⋈ part on partkey with part broadcast
    (BROADCAST_TABLES); conditional exact-decimal sums, scalar output.
    """
    lo = F.lit(PROMO_FROM).cast("timestamp")
    hi = F.lit(PROMO_TO).cast("timestamp")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    part = dim(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    agg = li.join(part, li.l_partkey == part.p_partkey).agg(
        dsum_expr(promo_rev, "promo_rev"), dsum_expr(rev, "total_rev")
    )
    return agg.select(
        "promo_rev",
        "total_rev",
        (F.lit(100.0) * F.col("promo_rev") / F.col("total_rev")).alias("promo_pct"),
    )


PROMO_REVENUE_ORACLE = f"""
WITH g AS (
  SELECT
    {dsum_sql("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END", 'promo_rev')},
    {dsum_sql('l_extendedprice * (1 - l_discount)', 'total_rev')}
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '{PROMO_FROM} 00:00:00'
    AND l_shipdate <  TIMESTAMP '{PROMO_TO} 00:00:00'
)
SELECT promo_rev, total_rev, 100.0 * promo_rev / total_rev AS promo_pct
FROM g
"""

# -------------------------------------- small-quantity revenue (Q17-ish)


def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped: revenue from line items whose quantity is
    below 20% of their part's average quantity.

    The correlated scalar subquery becomes an aggregate-then-join:
    per-part averages (one shuffle, output = |parts| rows) joined back
    to lineitem on the part key. The per-part frame is orders of
    magnitude smaller than the fact table, so AQE broadcast-joins it
    at any realistic scale; avg is computed as exact-decimal sum /
    count so the 0.2x threshold is bit-identical in both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
            / F.count("*")
        ).alias("avg_qty")
    )
    return (
        li.join(per_part, li.l_partkey == per_part.pk)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            dsum_col("l_extendedprice", "total_price", scale=2, precision=18),
            F.count("*").alias("n_items"),
        )
    )


SMALL_QUANTITY_REVENUE_ORACLE = f"""
WITH per_part AS (
  SELECT l_partkey AS pk,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)
           AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT {dsum_sql('l_extendedprice', 'total_price', scale=2, precision=18)},
       count(*) AS n_items
FROM lineitem JOIN per_part ON l_partkey = pk
WHERE l_quantity < 0.2 * avg_qty
"""

# ------------------------------------------------- top supplier (Q15-ish)

TOPSUP_FROM = "1997-01-01"
TOPSUP_TO = "1997-04-01"


def top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped: supplier(s) with maximum revenue in a window.

    The argmax is a join-back against the global max of the aggregated
    per-supplier frame (both tiny after aggregation; the max side is a
    1-row broadcast). Returns every tied supplier — deterministic
    without needing a tie-break.

    ``per_supp`` feeds both the max side and the join-back side;
    without a persist Spark would run the lineitem scan + aggregation
    twice (once per branch) — at 100 TB that doubles the dominant
    cost, so the small aggregated frame is cached.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(TOPSUP_FROM).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(TOPSUP_TO).cast("timestamp"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_supp = (
        li.groupBy(F.col("l_suppkey").alias("sk"))
        .agg(dsum_expr(rev, "total_revenue"))
        .persist()
    )
    mx = per_supp.agg(F.max("total_revenue").alias("max_rev"))
    supp = dim(spark, sf_dir, "supplier")
    return (
        per_supp.join(F.broadcast(mx), F.col("total_revenue") == F.col("max_rev"))
        .join(supp, F.col("sk") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


TOP_SUPPLIER_ORACLE = f"""
WITH per_supp AS (
  SELECT l_suppkey AS sk,
         {dsum_sql('l_extendedprice * (1 - l_discount)', 'total_revenue')}
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{TOPSUP_FROM} 00:00:00'
    AND l_shipdate <  TIMESTAMP '{TOPSUP_TO} 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM per_supp
JOIN supplier ON sk = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM per_supp)
"""

# ------------------------------------------------------------- rollup


def returns_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus): per-group, per-flag
    subtotal, and grand-total rows from ONE shuffle (Spark expands the
    grouping sets map-side) — the hierarchy-totals companion to
    log_analyzer's GROUPING SETS."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_items"),
        dsum_col("l_quantity", "sum_qty"),
    )


RETURNS_ROLLUP_ORACLE = f"""
SELECT l_returnflag, l_linestatus, count(*) AS n_items,
       {dsum_sql('l_quantity', 'sum_qty', scale=2, precision=18)}
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""

# ----------------------------------------- cross-nation volume (Q7-ish)

CNV_NATION_A = "NATION_1"
CNV_NATION_B = "NATION_2"
CNV_FROM = "1996-01-01"
CNV_TO = "1998-01-01"


def cross_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped: shipped revenue between two nations, per
    direction and year.

    The two nation dims are filtered to the two names BEFORE joining,
    so supplier and customer shrink to ~2/25 of their rows via
    broadcast joins and the expensive fact-side joins see pre-reduced
    build sides. The (supp, cust) pair predicate keeps only the two
    cross directions. One final shuffle on the 3-part group key.
    """
    pair = F.col("supp_nation") != F.col("cust_nation")
    nations = F.broadcast(
        load_table(spark, sf_dir, "nation").filter(
            F.col("n_name").isin(CNV_NATION_A, CNV_NATION_B)
        )
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(nations, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(nations, F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(CNV_FROM).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(CNV_TO).cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(dsum_expr(rev, "revenue"))
    )


CROSS_NATION_VOLUME_ORACLE = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name IN ('{CNV_NATION_A}', '{CNV_NATION_B}')
  AND n2.n_name IN ('{CNV_NATION_A}', '{CNV_NATION_B}')
  AND n1.n_name <> n2.n_name
  AND l_shipdate >= TIMESTAMP '{CNV_FROM} 00:00:00'
  AND l_shipdate <  TIMESTAMP '{CNV_TO} 00:00:00'
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
"""

# ------------------------------------------------- market share (Q8-ish)

MKT_REGION = "ASIA"
MKT_NATION = "NATION_2"
MKT_TYPE = "ECONOMY"
MKT_FROM = "1996-01-01"
MKT_TO = "1998-01-01"


def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped: one supplier nation's share of a region's
    revenue for one part type, by order year.

    Seven-table star join where every dimension path is broadcast
    (part filtered to one type ~1/6, nation⋈region filtered to one
    region, full 25-row nation for the supplier side); the only
    shuffle joins are lineitem⋈orders and the final 1-column group.
    The share is a conditional-sum / total-sum ratio computed from two
    exact decimal sums so both engines emit the identical double.
    """
    part = F.broadcast(
        load_table(spark, sf_dir, "part").filter(F.col("p_type") == MKT_TYPE)
    )
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == MKT_REGION)
    cust_nations = F.broadcast(
        load_table(spark, sf_dir, "nation")
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    supp_nation = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
        )
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(cust_nations, F.col("c_nationkey") == F.col("cn_key"))
        .select("c_custkey")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(supp_nation, F.col("s_nationkey") == F.col("sn_key"))
        .select("s_suppkey", "supp_nation")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(MKT_FROM).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(MKT_TO).cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
    )
    target = F.when(F.col("supp_nation") == MKT_NATION, rev).otherwise(F.lit(0.0))
    g = joined.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        dsum_expr(target, "nation_revenue"),
        dsum_expr(rev, "total_revenue"),
    )
    return g.select(
        "o_year",
        (F.col("nation_revenue") / F.col("total_revenue")).alias("mkt_share"),
    )


MARKET_SHARE_ORACLE = f"""
WITH g AS (
  SELECT year(o_orderdate) AS o_year,
         {dsum_sql(f"CASE WHEN n2.n_name = '{MKT_NATION}' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END", 'nation_revenue')},
         {dsum_sql('l_extendedprice * (1 - l_discount)', 'total_revenue')}
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = '{MKT_REGION}' AND p_type = '{MKT_TYPE}'
    AND o_orderdate >= TIMESTAMP '{MKT_FROM} 00:00:00'
    AND o_orderdate <  TIMESTAMP '{MKT_TO} 00:00:00'
  GROUP BY year(o_orderdate)
)
SELECT o_year, nation_revenue / total_revenue AS mkt_share FROM g
"""

# -------------------------------------------- disjunctive filter (Q19-ish)

DISJ_BRANCHES: tuple[tuple[str, int, int, int, int], ...] = (
    # (brand, size_lo, size_hi, qty_lo, qty_hi)
    ("Brand#13", 1, 15, 1, 20),
    ("Brand#20", 10, 30, 10, 30),
    ("Brand#7", 20, 50, 20, 50),
)


def disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped: revenue from an OR-of-ANDs predicate across
    the lineitem⋈part join.

    Catalyst splits the disjunction: the part-only conjuncts
    (brand, size) push into the broadcast part scan as an OR
    predicate, the lineitem-only bound (quantity between the global
    min/max of all branches) pushes into the fact scan, and the full
    per-branch predicate evaluates on the joined row. Single agg row
    out — no shuffle beyond the final 1-row reduce.
    """
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    branch = None
    for brand, slo, shi, qlo, qhi in DISJ_BRANCHES:
        b = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(slo, shi)
            & F.col("l_quantity").between(qlo, qhi)
        )
        branch = b if branch is None else (branch | b)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(branch)
        .agg(dsum_expr(rev, "total_revenue"), F.count("*").alias("n_items"))
    )


_DISJ_SQL = " OR ".join(
    f"(p_brand = '{b}' AND p_size BETWEEN {slo} AND {shi}"
    f" AND l_quantity BETWEEN {qlo} AND {qhi})"
    for b, slo, shi, qlo, qhi in DISJ_BRANCHES
)

DISJUNCTIVE_REVENUE_ORACLE = f"""
SELECT {dsum_sql('l_extendedprice * (1 - l_discount)', 'total_revenue')},
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE {_DISJ_SQL}
"""

# ------------------------------------------------- large orders (Q18-ish)

LARGE_QTY_MIN = 400


def large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped: orders whose total quantity exceeds a
    threshold, with their customer.

    The HAVING subquery becomes aggregate-then-filter: one map-side-
    combined shuffle keyed on l_orderkey, the >threshold filter cuts
    the frame to a handful of rows, and the join-backs to orders and
    customer run as broadcasts of that tiny survivor set (AQE picks
    this up at any scale because the filtered agg is always small).
    """
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum_col("l_quantity", "total_qty"))
        .filter(F.col("total_qty") > LARGE_QTY_MIN)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
    )


LARGE_ORDERS_ORACLE = f"""
WITH big AS (
  SELECT l_orderkey,
         {dsum_sql('l_quantity', 'total_qty', scale=2, precision=18)}
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > {LARGE_QTY_MIN}
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
"""

# --------------------------------------------- idle rich customers (Q22-ish)

IDLE_SINCE = "2001-01-01"


def idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped: per-nation count/balance of above-average-
    balance customers with no recent orders.

    The scalar AVG subquery is a 1-row aggregate broadcast-cross-
    joined onto customer (no driver collect — the scalar stays on the
    cluster); the NOT EXISTS is a left-anti join against the
    date-filtered orders (filter pushed to the orders scan). The
    average divides two exact decimal sums so the threshold double is
    bit-identical in both engines.
    """
    cust = load_table(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count("*")
        ).alias("avg_bal")
    )
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(IDLE_SINCE).cast("timestamp")
    )
    rich = cust.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("avg_bal"))
    idle = rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
    nation = dim(spark, sf_dir, "nation")
    return (
        idle.join(nation, idle.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_custs"),
            dsum_col("c_acctbal", "total_acctbal"),
        )
    )


IDLE_CUSTOMER_BALANCE_ORACLE = f"""
SELECT n_name, count(*) AS n_custs,
       {dsum_sql('c_acctbal', 'total_acctbal', scale=2, precision=18)}
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        FROM customer WHERE c_acctbal > 0
      )
  AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '{IDLE_SINCE} 00:00:00'
      )
GROUP BY n_name
"""

# ---------------------------------------------- Q9-shaped nation profit

PROFIT_PART_TOKEN = "red"


def nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped: revenue by SUPPLIER nation x order year for
    lineitems of parts whose name contains a token (no partsupp table
    in this schema, so profit = discounted revenue).

    Shape: the orders⋈lineitem fact-fact join shuffles on the order
    key; part (name-filtered, shrinks at the scan), supplier and
    nation ride as broadcasts; 2-column group with exact decimal sums.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = dim(spark, sf_dir, "part").filter(
        F.col("p_name").contains(PROFIT_PART_TOKEN)
    )
    supp = dim(spark, sf_dir, "supplier")
    nation = dim(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(dsum_expr(rev, "profit"))
    )


NATION_PROFIT_ORACLE = f"""
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS INT) AS o_year,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 'profit')}
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%{PROFIT_PART_TOKEN}%'
GROUP BY 1, 2
"""

# ------------------------------------- Q10-shaped returned-item revenue

RETURNED_FROM, RETURNED_TO = "1996-01-01", "1996-07-01"
RETURNED_TOP_K = 20


def returned_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: top customers by revenue lost to returned
    items ('R' lineitems) for orders in a half-year window.

    The order-date filter pushes into the orders scan and the
    returnflag filter into lineitem's BEFORE the fact-fact join;
    customer joins on the shrunken result, nation broadcasts. Global
    top-k via orderBy+limit on the aggregated (small) frame, with a
    deterministic custkey tie-break.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(RETURNED_FROM).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(RETURNED_TO).cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = dim(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum_expr(rev, "revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(RETURNED_TOP_K)
    )


RETURNED_CUSTOMER_REVENUE_ORACLE = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '{RETURNED_FROM} 00:00:00'
  AND o_orderdate <  TIMESTAMP '{RETURNED_TO} 00:00:00'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey ASC
LIMIT {RETURNED_TOP_K}
"""

# ----------------------------- Q11-shaped important part types (HAVING)

IMPORTANT_FRACTION_DENOM = 50  # HAVING share > 1/50 = 2% of total


def important_part_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped: part types whose revenue exceeds a fixed
    FRACTION of total revenue — the HAVING-against-scalar-subquery
    shape (no partsupp here, so value = lineitem revenue by p_type).

    Exactness trick: the 2% threshold compares ``rev_dec * 50 >
    total_dec`` on EXACT decimals (1/50 == 2%), so the cut is
    bit-identical in both engines — a double-ratio comparison could
    disagree on the boundary. The scalar total rides a 1-row broadcast
    cross join; ``share`` is exported as the double ratio of the two
    exact decimals.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = dim(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(27,6)"
    )
    per_type = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_type")
        .agg(F.sum(rev).alias("rev_dec"))
    )
    total = per_type.agg(F.sum("rev_dec").alias("total_dec"))
    return (
        per_type.crossJoin(F.broadcast(total))
        .filter(
            F.col("rev_dec") * IMPORTANT_FRACTION_DENOM > F.col("total_dec")
        )
        .select(
            "p_type",
            F.col("rev_dec").cast("double").alias("revenue"),
            (
                F.col("rev_dec").cast("double")
                / F.col("total_dec").cast("double")
            ).alias("share"),
        )
    )


IMPORTANT_PART_TYPES_ORACLE = f"""
WITH per_type AS (
  SELECT p_type,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6)))
           AS rev_dec
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_type
),
total AS (SELECT SUM(rev_dec) AS total_dec FROM per_type)
SELECT p_type,
       CAST(rev_dec AS DOUBLE) AS revenue,
       CAST(rev_dec AS DOUBLE) / CAST(total_dec AS DOUBLE) AS share
FROM per_type, total
WHERE rev_dec * {IMPORTANT_FRACTION_DENOM} > total_dec
"""

# ------------------------- Q16-shaped supplier counts per part attr

SUPPLIER_COUNT_EXCLUDED_BRAND = "Brand#3"
SUPPLIER_COUNT_MAX_SIZE = 10


def supplier_counts_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped: distinct suppliers that shipped each
    (p_brand, p_size) combination, excluding one brand — the
    distinct-aggregate-after-join shape (lineitem stands in for the
    absent partsupp as the part↔supplier bridge).

    The brand/size predicates prune the broadcast part side at its
    scan; countDistinct expands to the standard two-phase
    partial-distinct plan (pre-aggregate on (brand, size, suppkey),
    then count) — no row-level distinct shuffle of the fact table.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = dim(spark, sf_dir, "part").filter(
        (F.col("p_brand") != SUPPLIER_COUNT_EXCLUDED_BRAND)
        & (F.col("p_size") <= SUPPLIER_COUNT_MAX_SIZE)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


SUPPLIER_COUNTS_BY_BRAND_ORACLE = f"""
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> '{SUPPLIER_COUNT_EXCLUDED_BRAND}'
  AND p_size <= {SUPPLIER_COUNT_MAX_SIZE}
GROUP BY 1, 2
"""


# ------------------------------------------- bucketed co-located join (r8)

BUCKETED_JOIN_BUCKETS = 8


def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority revenue off a SHUFFLE-FREE fact-fact join: both fact
    tables are published as BUCKETED parquet tables (``bucketBy`` on
    the join key, same bucket count, one file per bucket via an
    aligned pre-repartition), read back through the catalog, and
    sort-merge-joined with NO exchange on either side — the only
    shuffle left in the whole plan is the final tiny priority
    aggregate (``tests/test_plan_shapes.py`` pins exchange count <= 1
    and the SortMergeJoin node).

    This is the write-once / join-forever layout a 100 TB warehouse
    uses for its biggest recurring join: the two full-table shuffles
    (the dominant cost of orders⋈lineitem at scale) are paid ONCE at
    publish time and amortized across every subsequent join, and
    Spark's bucket spec hashes rows identically at write and read so
    co-location is guaranteed, not probabilistic. The oracle is the
    plain join on the source parquet — the bucketed roundtrip must
    cancel out of the answer exactly, which also hash-gates that the
    publish lost/duplicated/mangled nothing (same storage-level
    contract as dataset_publish_manifest).

    Output: (o_orderpriority, n_lineitems, revenue).
    """
    import re

    from ..sources.tables import _artifact_dir, corpus_path_token

    # table names carry the same full-path corpus token as the data
    # path (_artifact_dir), so two corpora with equal basenames in one
    # session get DISTINCT catalog entries instead of silently
    # clobbering each other's bucketed tables (r8 advisor finding)
    safe = re.sub(r"[^A-Za-z0-9_]", "_", corpus_path_token(sf_dir))
    sides = [
        (
            f"bj_lineitem_{safe}",
            load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_extendedprice", "l_discount"
            ),
            "l_orderkey",
        ),
        (
            f"bj_orders_{safe}",
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderpriority"
            ),
            "o_orderkey",
        ),
    ]
    for tbl, df, key in sides:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            # repartition on the key with n == bucket count uses the
            # same murmur3-pmod layout as the bucket spec, so each
            # task holds exactly one bucket -> one file per bucket and
            # the bucket-side sort is a cheap single-run sort at read
            df.repartition(BUCKETED_JOIN_BUCKETS, F.col(key))
            .write.mode("overwrite")
            .option("path", _artifact_dir(spark, sf_dir, tbl))
            .bucketBy(BUCKETED_JOIN_BUCKETS, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(tbl)
        )
    li = spark.table(sides[0][0])
    orders = spark.table(sides[1][0])
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        # merge hint keeps the demo honest: without it AQE would
        # broadcast the toy-SF orders side and the exchange-free
        # bucket co-location this query exists to exercise would
        # never appear in the plan
        li.hint("merge")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lineitems"),
            dsum_expr(revenue, "revenue"),
        )
    )


BUCKETED_JOIN_REVENUE_ORACLE = f"""
SELECT o.o_orderpriority AS o_orderpriority,
       count(*) AS n_lineitems,
       {dsum_sql('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1
"""
