"""TPC-H-style relational gate queries - split from plans/queries.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from market_microstructure_toolkit_spark.functions.decimal_sum import exact_decimal_sum
from market_microstructure_toolkit_spark.plans.base import (
    _scratch,
    register,
)


_PRICING_SUMMARY_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,8))), 2) AS DOUBLE) AS sum_disc_price,
  CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(24,8))), 2) AS DOUBLE) AS sum_charge,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("lineitem_pricing_summary", _PRICING_SUMMARY_SQL)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: filter -> partial-aggregated groupBy.

    Catalyst pushes the shipdate filter to the parquet scan and map-side
    combines before the single shuffle on (returnflag, linestatus). The
    DECIMAL(18,2) sums go through ``functions.exact_decimal_sum`` (BIGINT
    buffers, same value and type as the oracle's SUM); the DECIMAL(24,8)
    ones are above its precision-18 bound and stay plain SUMs.
    """
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.filter(
            F.col("l_shipdate")
            <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz")
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_decimal_sum("l_quantity", 18, 2).cast("double").alias("sum_qty"),
            exact_decimal_sum("l_extendedprice", 18, 2).cast("double").alias("sum_base_price"),
            F.round(F.sum(disc_price.cast("decimal(24,8)")), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge.cast("decimal(24,8)")), 2).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_REVENUE_BY_NATION_SQL = """
SELECT
  n.n_name AS nation,
  r.r_name AS region,
  CAST(ROUND(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(24,8))), 2) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY n.n_name, r.r_name
"""


@register("revenue_by_nation", _REVENUE_BY_NATION_SQL)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema join: fact ⋈ dims with explicit broadcast of the small
    dimension tables (customer/nation/region) — only the lineitem⋈orders
    join shuffles; at cluster scale that one is sort-merge with AQE.
    """
    rd = lambda t: spark.read.parquet(f"{sf_dir}/{t}.parquet")  # noqa: E731
    li, orders = rd("lineitem"), rd("orders")
    cust, nation, region = rd("customer"), rd("nation"), rd("region")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.round(F.sum(revenue.cast("decimal(24,8)")), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_TOP_ORDERS_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
WHERE rn <= 3
"""


@register("top_orders_per_customer", _TOP_ORDERS_SQL)
def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k (the W13 tail-N pattern on a relational table):
    rank-and-filter, no global sort."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


_ROLLUP_SQL = """
SELECT r_name AS region, n_name AS nation,
  SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
      * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))) / 10000.0 AS revenue,
  COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


@register("revenue_rollup", _ROLLUP_SQL)
def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP revenue at (region, nation) / (region) / () grain in one
    pass — Spark's native grouping-sets path (partial aggregation per
    grain, no extra scans). Money math runs in exact integer cents
    (2dp x 2dp values), summed order-free in BIGINT, divided once at the
    end — engine-identical at every grain, unlike per-row double->decimal
    casts whose rounding differs between engines."""
    rd = lambda t: spark.read.parquet(f"{sf_dir}/{t}.parquet")  # noqa: E731
    li, orders = rd("lineitem"), rd("orders")
    cust, nation, region = rd("customer"), rd("nation"), rd("region")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    disc_pct = F.round(F.col("l_discount") * 100, 0).cast("long")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.sum(cents * (F.lit(100) - disc_pct)).alias("_rev_i"),
            F.count(F.lit(1)).alias("_n"),
        )
        # two-phase rollup: the Expand x3 multiplier runs over the 25-row
        # partial aggregate, not the full fact table (integer sums
        # re-aggregate exactly across grains)
        .rollup("region", "nation")
        .agg(
            (F.sum("_rev_i") / F.lit(10000.0)).alias("revenue"),
            F.sum("_n").alias("n_items"),
        )
    )


_BRAND_REVENUE_SQL = """
SELECT n_name AS supp_nation, p_brand,
  SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
      * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))) / 10000.0 AS revenue,
  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
  COUNT(*) AS n_items
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_size <= 10
GROUP BY n_name, p_brand
"""


@register("brand_revenue_by_supp_nation", _BRAND_REVENUE_SQL)
def q_brand_revenue_by_supp_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9-shaped star join through part AND supplier dimensions with a
    selective part filter: the p_size predicate prunes the broadcast
    build side BEFORE the join, so the fact scan only keeps matching
    rows; money stays in exact integer cents."""
    rd = lambda t: spark.read.parquet(f"{sf_dir}/{t}.parquet")  # noqa: E731
    li = rd("lineitem")
    part = rd("part").filter(F.col("p_size") <= 10)
    supp, nation = rd("supplier"), rd("nation")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    disc_pct = F.round(F.col("l_discount") * 100, 0).cast("long")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("supp_nation"), "p_brand")
        .agg(
            (F.sum(cents * (F.lit(100) - disc_pct)) / F.lit(10000.0)).alias(
                "revenue"
            ),
            F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_SHIP_PRIORITY_SQL = """
SELECT l_orderkey,
  SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
      * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))) / 10000.0 AS revenue,
  epoch_ms(o_orderdate) AS o_orderdate_ms,
  o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_orderkey, epoch_ms(o_orderdate), o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@register("shipping_priority_top10", _SHIP_PRIORITY_SQL)
def q_shipping_priority_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3-shaped: date predicates pushed to both scans, join, aggregate,
    distributed top-10 (TakeOrderedAndProject — no global sort). Exact
    cents revenue makes the cross-engine ordering deterministic."""
    rd = lambda t: spark.read.parquet(f"{sf_dir}/{t}.parquet")  # noqa: E731
    cutoff = F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    cust = rd("customer")
    orders = rd("orders").filter(F.col("o_orderdate") < cutoff)
    li = rd("lineitem").filter(F.col("l_shipdate") > cutoff)
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    disc_pct = F.round(F.col("l_discount") * 100, 0).cast("long")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            "l_orderkey",
            F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias(
                "o_orderdate_ms"
            ),
            "o_orderpriority",
        )
        .agg(
            (F.sum(cents * (F.lit(100) - disc_pct)) / F.lit(10000.0)).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate_ms", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


_BUCKETED_JOIN_SQL = """
SELECT o_orderpriority,
  COUNT(*) AS n_items,
  CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,8))), 2) AS DOUBLE) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
"""


@register("orders_bucketed_join", _BUCKETED_JOIN_SQL)
def q_orders_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact join through pre-bucketed tables
    (partitioning.write_bucketed): orders and lineitem are each written
    hash-clustered into 8 buckets on their order key, then joined by
    reading the bucketed tables back — the join plans as a SortMergeJoin
    with NO Exchange on either side (asserted in
    tests/test_properties_and_plans.py), because the shuffle was paid
    once at write time. At 100 TB this is the difference between
    re-shuffling two fact tables on every query and a metadata-only
    co-located merge; the oracle is the PLAIN join on the raw parquet,
    so hash-equality also proves bucketing is semantics-preserving.
    Money sums use the DECIMAL idiom (order-free exact, 2 dp). This one
    sums DECIMAL(24,8), so it stays a plain SUM: the BIGINT-buffer
    ``functions.exact_decimal_sum`` covers precision <= 18 only (and up
    to ~8.6e9 rows per group)."""
    import uuid

    from market_microstructure_toolkit_spark.partitioning import write_bucketed

    base = _scratch(prefix="mmt_bucketed_")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    # uuid-suffixed catalog names: sessions sharing a metastore must not
    # clobber each other's (or a user's same-named) tables
    tag = uuid.uuid4().hex[:12]
    t_orders, t_li = f"mmt_bucket_orders_{tag}", f"mmt_bucket_lineitem_{tag}"
    write_bucketed(orders, t_orders, f"{base}/orders", "o_orderkey")
    write_bucketed(li, t_li, f"{base}/lineitem", "l_orderkey")
    bo = spark.table(t_orders)
    bl = spark.table(t_li)
    joined = bo.join(bl, bo["o_orderkey"] == bl["l_orderkey"])
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
                .cast("decimal(24,8)")
            ),
            2,
        )
        .cast("double")
        .alias("revenue"),
    )


_ANTI_JOIN_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS n_customers_no_urgent
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
"""


@register("customers_no_urgent_orders", _ANTI_JOIN_SQL)
def q_customers_no_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS (customers with no urgent order) as a LEFT ANTI join — the relational shape Spark turns
    into one pass with NO second scan of the probe side: the orders key
    set builds once (broadcast at dim scale; shuffled hash at fact
    scale, AQE picks), and customers stream through it. The oracle's
    correlated NOT EXISTS is semantically identical, so hash-equality
    pins null/absence handling of the anti join."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    okeys = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        cust.join(okeys, "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers_no_urgent"))
    )


_CONSTRAINT_AUDIT_SQL = """
WITH bad AS (
  SELECT o_orderkey, o_custkey FROM orders
  UNION ALL
  SELECT MIN(o_orderkey), MIN(o_custkey) FROM orders          -- planted dup pk
  UNION ALL
  SELECT 900000001, NULL                                      -- planted null fk
  UNION ALL
  SELECT 900000002, -42                                       -- planted orphan fk
),
dup AS (
  SELECT COUNT(*) AS n FROM (
    SELECT o_orderkey FROM bad GROUP BY o_orderkey HAVING COUNT(*) > 1
  )
),
nullfk AS (SELECT COUNT(*) AS n FROM bad WHERE o_custkey IS NULL),
orphan AS (
  SELECT COUNT(*) AS n FROM bad b
  WHERE b.o_custkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = b.o_custkey)
)
SELECT 'duplicate_pk' AS check_name, n AS n_violations FROM dup
UNION ALL
SELECT 'null_fk', n FROM nullfk
UNION ALL
SELECT 'orphan_fk', n FROM orphan
"""


@register("orders_constraint_audit", _CONSTRAINT_AUDIT_SQL)
def q_orders_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint validation (the dbt-test / Deequ pattern): audit a
    fact table for primary-key uniqueness, foreign-key null-ness, and
    referential integrity against its dimension — with three violations
    PLANTED in-plan (a duplicated min-key row, a null-FK row, an
    orphan-FK row) so the audit provably detects each kind: expected
    output is exactly one violation per check. Scale shape: uniqueness
    is one pk-keyed partial-aggregated groupBy; the orphan check is a
    LEFT ANTI join that broadcasts the dimension when small and
    shuffles on the key otherwise — never a count-per-row subquery.
    Integer output."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey")
    planted = orders.agg(
        F.min("o_orderkey").alias("o_orderkey"),
        F.min("o_custkey").alias("o_custkey"),
    )
    bad = (
        orders.unionByName(planted)
        .unionByName(
            spark.createDataFrame(
                [(900000001, None), (900000002, -42)],
                "o_orderkey long, o_custkey long",
            )
        )
    )
    dup = (
        bad.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(F.lit("duplicate_pk").alias("check_name"), "n_violations")
    )
    nullfk = bad.filter(F.col("o_custkey").isNull()).agg(
        F.lit("null_fk").alias("check_name"),
        F.count(F.lit(1)).alias("n_violations"),
    )
    orphan = (
        bad.filter(F.col("o_custkey").isNotNull())
        .join(cust, bad["o_custkey"] == cust["c_custkey"], "left_anti")
        .agg(
            F.lit("orphan_fk").alias("check_name"),
            F.count(F.lit(1)).alias("n_violations"),
        )
    )
    return dup.unionByName(nullfk).unionByName(orphan)


_LATE_SHIP_SQL = """
SELECT o.o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
)
GROUP BY o.o_orderpriority
"""


@register("orders_late_shipping_priority", _LATE_SHIP_SQL)
def q_orders_late_shipping_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q4 shape: per priority, orders with at least one line item
    shipped more than 60 days after the order date — EXISTS over a
    big-big correlated pair. Spark plans the EXISTS as a LEFT SEMI join
    on the order key (each order counted once no matter how many late
    lines), with the lateness predicate evaluated inside the join —
    one key-partitioned shuffle, no per-row subquery execution. Counts:
    integer-exact."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_shipdate"
    )
    late = orders.join(
        li,
        (orders["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > F.date_add(orders["o_orderdate"], 60)),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


_RETURNFLAG_PRIORITY_SQL = """
SELECT l.l_returnflag,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_high_priority,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_low_priority
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l.l_returnflag
"""


@register("lineitem_priority_by_returnflag", _RETURNFLAG_PRIORITY_SQL)
def q_lineitem_priority_by_returnflag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q12 shape: line items shipped in 1997, bucketed by return
    flag, split into high/low order-priority counts with conditional
    aggregation — the two-level CASE rollup pattern. The date-range
    filter pushes to the parquet scan (PushedFilters), the join
    shuffles once on the order key with map-side partial counts, and
    the CASE arms are JVM codegen. Integer-exact."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(hi.cast("long")).alias("n_high_priority"),
            F.sum((~hi).cast("long")).alias("n_low_priority"),
        )
    )


_PROMO_SHARE_SQL = """
SELECT
  CAST(ROUND(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
        THEN CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(24,8))
        ELSE CAST(0 AS DECIMAL(24,8)) END)
      / SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(24,8))),
      6) AS DOUBLE) AS promo_revenue_pct,
  CAST(ROUND(SUM(CASE WHEN p.p_type = 'PROMO'
        THEN CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(24,8))
        ELSE CAST(0 AS DECIMAL(24,8)) END), 2) AS DOUBLE) AS promo_revenue,
  COUNT(*) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
"""


@register("lineitem_promo_revenue_share", _PROMO_SHARE_SQL)
def q_lineitem_promo_revenue_share(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q14 shape: the share of revenue from promotional parts —
    conditional revenue over total revenue in one aggregate. The part
    dimension broadcasts (it is the small side); revenue accumulates in
    DECIMAL(24,8) (order-free exact, the money idiom) and only the
    final ratio is rounded. One broadcast join + one
    grouped-by-nothing aggregate: scan-bound at any scale."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_type"
    )
    rev = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast("decimal(24,8)")
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(24,8)")
    )
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .agg(
            F.round(
                F.lit(100.0) * F.sum(promo_rev) / F.sum(rev), 6
            )
            .cast("double")
            .alias("promo_revenue_pct"),
            F.round(F.sum(promo_rev), 2).cast("double").alias("promo_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_DISJUNCTIVE_SQL = """
SELECT
  CAST(ROUND(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                      AS DECIMAL(24,8))), 2) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_size BETWEEN 16 AND 35 AND l.l_quantity BETWEEN 15 AND 35)
   OR (p.p_size BETWEEN 36 AND 50 AND l.l_quantity BETWEEN 30 AND 50)
"""


@register("lineitem_disjunctive_filter_revenue", _DISJUNCTIVE_SQL)
def q_lineitem_disjunctive_filter_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q19 shape: revenue under a DISJUNCTION of conjunctive
    band predicates spanning both join sides — the pattern that defeats
    naive predicate pushdown (no single conjunct holds everywhere).
    Spark still broadcasts the part side and evaluates the whole
    disjunction post-join in codegen; per-side implied filters
    (p_size 1..50, l_quantity 1..50) remain pushable. DECIMAL revenue,
    integer count."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_size"
    )
    qty, sz = F.col("l_quantity"), F.col("p_size")
    pred = (
        (sz.between(1, 15) & qty.between(1, 20))
        | (sz.between(16, 35) & qty.between(15, 35))
        | (sz.between(36, 50) & qty.between(30, 50))
    )
    rev = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast("decimal(24,8)")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .filter(pred)
        .agg(
            F.round(F.sum(rev), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
