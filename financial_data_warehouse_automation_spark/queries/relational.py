"""Relational core: scans, filters, joins, aggregations, set ops, sorts.

Covers SURVEY.md §2.1 (scans), §2.2 (filters/predicates), §2.3 (join
matrix incl. the reference's disguised anti-join P6), §2.4 (aggregations)
and the §2.10 additions (rollup/cube, distinct counts, set ops, pivot,
top-k). All pure DataFrame API — Catalyst handles pushdown/pruning; small
dimensions are broadcast explicitly (the GS version's glMap probe,
Code.gs:147-166, *is* a broadcast hash join — SURVEY §2.3 J1).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from financial_data_warehouse_automation_spark.functions.scalars import md5_prefix_int
from financial_data_warehouse_automation_spark.lineage import cut
from financial_data_warehouse_automation_spark.queries._helpers import (
    davg,
    dsum,
    money,
    rate,
    scratch_dir,
    sql_money,
    sql_rate,
)
from financial_data_warehouse_automation_spark.registry import query
from financial_data_warehouse_automation_spark.tables import load_table

M_PRICE = sql_money("l_extendedprice")
M_QTY = sql_money("l_quantity")
R_DISC = sql_rate("l_discount")
R_TAX = sql_rate("l_tax")


# ---------------------------------------------------------------------------
# Group-by aggregation over a filtered scan (TPC-H Q1 shape). The income
# statement's TOTAL REVENUES/TOTAL EXPENSES footer rows are exactly this
# operator (SURVEY §2.4: GROUP BY dept, category → SUM(amount)).
# ---------------------------------------------------------------------------
@query(
    "pricing_summary",
    headline=True,
    tags=("agg", "filter", "scan"),
    oracle=f"""
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM({M_QTY}) AS DOUBLE) AS sum_qty,
  CAST(SUM({M_PRICE}) AS DOUBLE) AS sum_base_price,
  CAST(SUM({M_PRICE} * (CAST(1.0 AS DECIMAL(2,1)) - {R_DISC})) AS DOUBLE) AS sum_disc_price,
  CAST(ROUND(SUM(({M_PRICE} * (CAST(1.0 AS DECIMAL(2,1)) - {R_DISC})) * (CAST(1.0 AS DECIMAL(2,1)) + {R_TAX})), 2) AS DOUBLE) AS sum_charge,
  CAST(SUM({M_QTY}) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM({M_PRICE}) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM({R_DISC}) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered scan → hash aggregate; filter + projection push to
    parquet. ``spread_by`` fans the decimal partial-agg work out of the
    harness's single-row-group scan; plan no-op on a well-split table.
    The spread key is a column the query already reads (extendedprice —
    high-cardinality, skew-free) so column pruning is untouched: the
    plan-hygiene suite pins the 7-column ReadSchema."""
    l = load_table(spark, sf_dir, "lineitem", spread_by=("l_extendedprice",))
    one = F.lit("1.0").cast("decimal(2,1)")
    disc_price = money("l_extendedprice") * (one - rate("l_discount"))
    charge = disc_price * (one + rate("l_tax"))
    return (
        l.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(money("l_quantity")).alias("sum_qty"),
            dsum(money("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            # ROUND the scale-10 decimal sum to scale 2 before the double
            # cast: both engines round half-away-from-zero in ROUND, and a
            # scale-2 decimal converts to double exactly — the r1 1-ulp
            # divergence came from DuckDB's inexact scale-10→double path
            # (and a plain decimal downcast won't do: DuckDB truncates it).
            F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
            davg(money("l_quantity")).alias("avg_qty"),
            davg(money("l_extendedprice")).alias("avg_price"),
            davg(rate("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        # no final ORDER BY (r15): the driver gate hashes rows
        # order-insensitively, and the global sort was a range exchange
        # + sampling pass over the result (guide §2.4 — "an orderBy
        # used only to make output deterministic").
    )


# ---------------------------------------------------------------------------
# The flagship: "monthly department totals" — the query the reference
# warehouse exists to serve (SURVEY §7 minimum slice). mktsegment plays
# the department role, (year, month) the reporting period.
# ---------------------------------------------------------------------------
@query(
    "monthly_segment_totals",
    headline=True,
    tags=("join", "agg", "date"),
    oracle=f"""
SELECT
  EXTRACT(YEAR FROM o.o_orderdate) AS year,
  EXTRACT(MONTH FROM o.o_orderdate) AS month,
  c.c_mktsegment AS segment,
  CAST(SUM({sql_money('l.l_extendedprice')} * (CAST(1.0 AS DECIMAL(2,1)) - {sql_rate('l.l_discount')})) AS DOUBLE) AS revenue,
  COUNT(DISTINCT o.o_orderkey) AS n_orders
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
""",
)
def monthly_segment_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact × dim enrichment join + period aggregation (SURVEY §2.4 A2's
    read side; the reference's (Year, Month, Department) grain).

    Plan shape: lineitem pre-aggregates to order grain BEFORE joining
    (partial agg on the join key) — the join input shrinks ~4:1 and the
    COUNT(DISTINCT orderkey) over the fat join becomes a plain COUNT(*)
    at order grain. Equivalent results (orders partition cleanly into
    (year, month, segment) groups); ~20% faster at sf0.1 and the gap
    widens with scale. No broadcast hint on customer: multi-GB at
    100 TB; AQE picks broadcast at small SFs on its own (VERDICT r1 #6).
    ``spread_by`` on the join key: the order-grain pre-aggregate then
    runs partition-local on the harness's single-row-group file, and on
    a well-split table no exchange is added at all.
    """
    l = load_table(spark, sf_dir, "lineitem", spread_by=("l_orderkey",))
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    one = F.lit("1.0").cast("decimal(2,1)")
    revenue = money("l_extendedprice") * (one - rate("l_discount"))
    per_order = l.groupBy("l_orderkey").agg(F.sum(revenue).alias("order_rev"))
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.year("o_orderdate").cast("long").alias("year"),
            F.month("o_orderdate").cast("long").alias("month"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.sum("order_rev").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        # no final ORDER BY (r15): order-insensitive gate; see
        # pricing_summary.
    )


# ---------------------------------------------------------------------------
# Multi-way star join through two broadcast dims (region ← nation ← customer).
# ---------------------------------------------------------------------------
@query(
    "region_revenue",
    headline=True,
    tags=("join", "broadcast", "agg"),
    oracle=f"""
SELECT
  r.r_name AS region,
  EXTRACT(YEAR FROM o.o_orderdate) AS year,
  CAST(SUM({sql_money('l.l_extendedprice')} * (CAST(1.0 AS DECIMAL(2,1)) - {sql_rate('l.l_discount')})) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way star join; tiny dims broadcast so the only big-side shuffle
    is lineitem⋈orders (at 100 TB: bucket both on orderkey). Lineitem
    pre-aggregates to order grain before the join (same rationale as
    monthly_segment_totals, including its ``spread_by``)."""
    l = load_table(spark, sf_dir, "lineitem", spread_by=("l_orderkey",))
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    one = F.lit("1.0").cast("decimal(2,1)")
    revenue = money("l_extendedprice") * (one - rate("l_discount"))
    per_order = l.groupBy("l_orderkey").agg(F.sum(revenue).alias("order_rev"))
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)  # AQE decides; not broadcastable at 100 TB
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.year("o_orderdate").cast("long").alias("year"),
        )
        .agg(F.sum("order_rev").cast("double").alias("revenue"))
        # no final ORDER BY (r15): order-insensitive gate; see
        # pricing_summary.
    )


# ---------------------------------------------------------------------------
# Join matrix: semi / anti / full outer. The anti-join is the reference's
# missing-GL QA semantic in disguise (SURVEY §2.3: P6 ≡ LEFT ANTI JOIN).
# ---------------------------------------------------------------------------
@query(
    "customers_with_big_orders_semi",
    tags=("join", "semi"),
    oracle="""
SELECT c.c_custkey AS custkey, c.c_name AS name
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000.0
)
ORDER BY custkey
""",
)
def customers_with_big_orders_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join — existence probe without row duplication."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 200000.0)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select(F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name"))
    )


@query(
    "customers_without_orders_anti",
    tags=("join", "anti", "qa"),
    oracle="""
SELECT c.c_custkey AS custkey, c.c_name AS name, c.c_mktsegment AS segment
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND EXTRACT(YEAR FROM o.o_orderdate) = 1995
)
ORDER BY custkey
""",
)
def customers_without_orders_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join — the missing-dim QA filter (reference
    build_warehouse.py:203 / Code.gs:296) generalized. Probes against
    the 1995 order subset so the expected result is non-empty (every
    customer has *some* order in this data — VERDICT r1 #5)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.year("o_orderdate") == 1995)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("segment"),
        )
    )


@query(
    "customer_order_full_outer",
    tags=("join", "outer"),
    oracle=f"""
WITH per_cust AS (
  SELECT o_custkey, COUNT(*) AS n_orders,
         CAST(SUM({sql_money('o_totalprice')}) AS DOUBLE) AS total_spend
  FROM orders GROUP BY o_custkey
)
SELECT
  COALESCE(c.c_custkey, p.o_custkey) AS custkey,
  c.c_name AS name,
  COALESCE(p.n_orders, 0) AS n_orders,
  COALESCE(p.total_spend, 0.0) AS total_spend
FROM customer c
FULL OUTER JOIN per_cust p ON c.c_custkey = p.o_custkey
ORDER BY custkey
""",
)
def customer_order_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of a dim against a pre-aggregated fact — catches
    both unmatched dim rows and orphan fact keys in one pass."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(money("o_totalprice")).alias("total_spend"),
    )
    return (
        c.join(per_cust, c.c_custkey == per_cust.o_custkey, "full_outer")
        .select(
            F.coalesce(c.c_custkey, per_cust.o_custkey).alias("custkey"),
            F.col("c_name").alias("name"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("total_spend", F.lit(0.0)).alias("total_spend"),
        )
    )


# ---------------------------------------------------------------------------
# Hierarchical subtotals — the balance sheet's TOTAL CASH / TOTAL CURRENT
# ASSETS / TOTAL ASSETS rows are a ROLLUP (SURVEY §2.4 commentary).
# ---------------------------------------------------------------------------
@query(
    "rollup_flag_status",
    tags=("agg", "rollup"),
    oracle=f"""
SELECT
  COALESCE(l_returnflag, 'ALL') AS returnflag,
  COALESCE(l_linestatus, 'ALL') AS linestatus,
  CAST(SUM({M_PRICE}) AS DOUBLE) AS total_price,
  COUNT(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
""",
)
def rollup_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP — grand total + per-flag subtotals + leaf groups, one shuffle."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(dsum(money("l_extendedprice")).alias("total_price"),
             F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "total_price",
            "n_rows",
        )
    )


@query(
    "cube_brand_size",
    tags=("agg", "cube"),
    oracle=f"""
SELECT
  COALESCE(p_brand, 'ALL') AS brand,
  COALESCE(CAST(p_size % 5 AS VARCHAR), 'ALL') AS size_mod,
  CAST(SUM({sql_money('p_retailprice')}) AS DOUBLE) AS total_retail,
  COUNT(*) AS n_parts
FROM part
GROUP BY CUBE (p_brand, p_size % 5)
ORDER BY brand, size_mod
""",
)
def cube_brand_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE — all 2^k grouping-set combinations in one pass."""
    p = load_table(spark, sf_dir, "part").withColumn(
        "size_mod_raw", (F.col("p_size") % 5).cast("string")
    )
    return (
        p.cube("p_brand", "size_mod_raw")
        .agg(dsum(money("p_retailprice")).alias("total_retail"),
             F.count(F.lit(1)).alias("n_parts"))
        .select(
            F.coalesce("p_brand", F.lit("ALL")).alias("brand"),
            F.coalesce("size_mod_raw", F.lit("ALL")).alias("size_mod"),
            "total_retail",
            "n_parts",
        )
    )


# ---------------------------------------------------------------------------
# Distinct / approx-distinct (SURVEY §2.10).
# ---------------------------------------------------------------------------
@query(
    "distinct_counts_per_segment",
    tags=("agg", "distinct"),
    oracle="""
SELECT
  c_mktsegment AS segment,
  COUNT(DISTINCT c_nationkey) AS n_nations,
  COUNT(*) AS n_customers
FROM customer
GROUP BY c_mktsegment
ORDER BY segment
""",
)
def distinct_counts_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) — expands to a two-stage partial agg in Spark."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


@query("approx_distinct_parts", tags=("agg", "approx"))
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approx distinct — sketch-merge, no exact-distinct shuffle.
    No SQL oracle (engine-specific sketch); driver does a rows-only check.
    At 100 TB this replaces exact distinct wherever ±2% is tolerable."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
    )


@query(
    "approx_distinct_parts_kmv",
    tags=("agg", "approx", "sketch"),
    oracle="""
WITH dh AS (
  SELECT DISTINCT l_returnflag AS returnflag,
         CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))
              AS BIGINT) AS h
  FROM lineitem
), ranked AS (
  SELECT returnflag, h,
         ROW_NUMBER() OVER (PARTITION BY returnflag ORDER BY h) AS rn
  FROM dh
)
SELECT returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_hashes,
       CAST(MAX(CASE WHEN rn = 256 THEN h END) AS BIGINT) AS kth_hash,
       CAST(ROUND(CASE
         WHEN COUNT(*) < 256 THEN CAST(COUNT(*) AS DOUBLE)
         ELSE 255.0 * 1152921504606846976.0
              / CAST(MAX(CASE WHEN rn = 256 THEN h END) AS DOUBLE)
       END, 4) AS DOUBLE) AS kmv_estimate
FROM ranked GROUP BY 1 ORDER BY 1
""",
)
def approx_distinct_parts_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-Minimum-Values cardinality sketch, made DETERMINISTIC: the
    exact-oracle twin of ``approx_distinct_parts`` (whose HLL++ sketch
    is engine-specific and can only be rows-only checked). KMV hashes
    each distinct key to uniform [0, 2^60) via md5 — identical in any
    engine — keeps the k=256 smallest hashes per group, and estimates
    distinct count as (k-1) * 2^60 / h_(k) (Bar-Yossef et al.'s KMV
    estimator, ~1/sqrt(k) ≈ 6% relative error). Every intermediate is
    a pure function of the data, so DuckDB replays the sketch
    bit-for-bit and the driver hash-checks the ESTIMATE itself.

    Scale shape: the k-smallest-per-group selection never funnels a
    group's full distinct-hash set through one task — Spark's
    WindowGroupLimit rewrite caps a row_number-limit window to its k
    smallest per input partition BEFORE the exchange (partial + final,
    pinned structurally in tests/test_plan_hygiene.py), so the final
    rank receives <= k x n_map_partitions rows per group. The r6
    version added a 64-way salted pre-pass for the same bound by hand;
    round 10's A/B measured it as pure overhead on top of
    WindowGroupLimit (1.33s vs 1.57s at sf1, identical values) and
    removed it. Groups under k distinct values fall back to the exact
    count (h_(k) undefined), emitting a NULL kth_hash in both engines.
    """
    k = 256
    m_double = float(1 << 60)  # hash domain: 15 hex digits = 60 bits
    l = load_table(spark, sf_dir, "lineitem")
    h = md5_prefix_int(F.col("l_partkey").cast("string").cast("binary"))
    dh = l.select(
        F.col("l_returnflag").alias("returnflag"), h.alias("h")
    ).distinct()
    # no salt stage: WindowGroupLimit (rank-limit pushdown, pinned in
    # test_plan_hygiene) caps the window to its k smallest per input
    # partition BEFORE the exchange, so a group's final-rank task sees
    # <= k * n_map_partitions rows — the engine already provides the
    # bound the r6-era salted two-pass added by hand, and the salt
    # measured as pure overhead once WindowGroupLimit existed
    # (PERF.md round 10: 1.33s vs 1.57s at sf1, identical values)
    w2 = Window.partitionBy("returnflag").orderBy("h")
    kth = (
        dh.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") == k)
        .select("returnflag", F.col("h").alias("kth_hash"))
    )
    counts = dh.groupBy("returnflag").agg(F.count(F.lit(1)).alias("n_hashes"))
    return (
        counts.join(F.broadcast(kth), "returnflag", "left")
        .select(
            "returnflag",
            F.col("n_hashes").cast("long").alias("n_hashes"),
            F.col("kth_hash").cast("long").alias("kth_hash"),
            F.round(
                F.when(
                    F.col("n_hashes") < k, F.col("n_hashes").cast("double")
                ).otherwise(
                    F.lit((k - 1) * 1.0)
                    * F.lit(m_double)
                    / F.col("kth_hash").cast("double")
                ),
                4,
            ).alias("kmv_estimate"),
        )
    )


@query(
    "part_freq_count_min",
    tags=("agg", "approx", "sketch"),
    oracle="""
WITH g AS (SELECT unnest([0, 1, 2, 3]) AS j),
sketch AS (
  SELECT j, cell, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT g.j,
           CAST(concat('0x', substr(md5(CAST(l.l_partkey AS VARCHAR)),
                1 + 8 * g.j, 8)) AS BIGINT) % 1024 AS cell
    FROM lineitem l CROSS JOIN g
  ) GROUP BY 1, 2
), probes AS (
  SELECT l_partkey AS partkey, CAST(COUNT(*) AS BIGINT) AS true_cnt
  FROM lineitem WHERE l_partkey <= 25 GROUP BY 1
), pc AS (
  SELECT p.partkey, p.true_cnt, g.j,
         CAST(concat('0x', substr(md5(CAST(p.partkey AS VARCHAR)),
              1 + 8 * g.j, 8)) AS BIGINT) % 1024 AS cell
  FROM probes p CROSS JOIN g
)
SELECT pc.partkey,
       CAST(MAX(pc.true_cnt) AS BIGINT) AS true_cnt,
       CAST(MIN(s.c) AS BIGINT) AS cms_est
FROM pc JOIN sketch s ON s.j = pc.j AND s.cell = pc.cell
GROUP BY 1 ORDER BY 1
""",
)
def part_freq_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch (Cormode & Muthukrishnan), made
    deterministic with md5 row-hashes so DuckDB replays the counters
    bit-for-bit and the driver hash-checks the ESTIMATES. Depth 4 x
    width 1024: each item increments one cell per row-hash; a key's
    estimate is the MIN of its 4 cells — always >= the true count,
    within eps*N with high probability.

    Why a sketch at 100 TB: exact per-key counts shuffle every
    distinct key; the CMS aggregate map-side-combines to <= 4096
    counters PER TASK regardless of key cardinality, so the shuffle
    carries a fixed 4x1024 grid per partition and the reduce side is
    constant-size. The probe stage joins a fixed key set against the
    broadcast 4096-row sketch. The d row hashes are the four disjoint
    32-bit slices of ONE md5 digest per key (pairwise-independent
    within the family, the standard one-hash CMS economy) — round 7;
    the previous form hashed d separate 'j:key' strings, so the scan
    paid 4 md5s + 4 string concats per row where one suffices, and
    exploded BEFORE hashing so the generator quadrupled string rows
    rather than int pairs. sf1: 8.9s -> ~2s."""
    depth, width = 4, 1024
    l = load_table(spark, sf_dir, "lineitem")

    def cells(h) -> Column:
        # four disjoint 32-bit slices of ONE digest attribute — h must
        # already be a projected column, NOT the md5 expression: the
        # r7 comment claimed codegen CSE shares an inline md5 across
        # the array elements, but the Generate node does not CSE
        # (measured r16, interleaved noop A/B at sf0.1: sketch build
        # 2.07 -> 1.41 s min-of-4 with the digest projected first,
        # and the after-plan carries exactly one md5)
        return F.array(*[
            F.pmod(
                F.conv(F.substring(h, 1 + 8 * j, 8), 16, 10).cast("long"),
                F.lit(width),
            )
            for j in range(depth)
        ])

    def digest(key_col) -> Column:
        return F.md5(key_col.cast("string").cast("binary"))

    sketch = (
        l.select(digest(F.col("l_partkey")).alias("h"))
        .select(F.posexplode(cells(F.col("h"))).alias("j", "cell"))
        .groupBy("j", "cell")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    probes = (
        l.where(F.col("l_partkey") <= 25)
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.count(F.lit(1)).alias("true_cnt"))
    )
    pc = probes.select(
        "partkey", "true_cnt", digest(F.col("partkey")).alias("h")
    ).select(
        "partkey",
        "true_cnt",
        F.posexplode(cells(F.col("h"))).alias("j", "cell"),
    )
    return (
        pc.join(F.broadcast(sketch), ["j", "cell"])
        .groupBy("partkey")
        .agg(
            F.max("true_cnt").cast("long").alias("true_cnt"),
            F.min("c").cast("long").alias("cms_est"),
        )
    )


@query(
    "doc_priority_sample",
    tags=("text", "sampling", "sketch", "llm-pipeline"),
    oracle=r"""
WITH w AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
           AS n_tokens,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) + 1 AS u
  FROM documents
)
SELECT doc_id, n_tokens, u
FROM w
ORDER BY CAST(n_tokens AS DOUBLE) / CAST(u AS DOUBLE) DESC, doc_id
LIMIT 32
""",
)
def doc_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield-Lund-Thorup): a weighted
    sample-without-replacement where item i gets priority w_i / u_i
    (u_i uniform) and the k highest priorities win — the
    token-weighted 'pick k representative documents' step of corpus
    curation, with unbiased subset-sum estimates by construction.

    Determinism across engines without transcendentals: u is an md5
    60-bit integer (a pure function of doc_id, so the sample is
    content-addressed and partition-invariant) and the priority is ONE
    double division — IEEE-correctly-rounded in every engine, unlike
    ln/pow whose libm rounding can differ — so the ordering is
    bit-identical and the output columns are exact integers. The plan
    is a TakeOrderedAndProject global top-k (per-partition heads, no
    global sort), the same shape as top10_orders_global."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    u = md5_prefix_int(F.col("doc_id").cast("string").cast("binary")) + 1
    w = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        u.alias("u"),
    )
    return w.orderBy(
        (F.col("n_tokens").cast("double") / F.col("u").cast("double")).desc(),
        "doc_id",
    ).limit(32)


@query(
    "orders_bloom_filter_probe",
    tags=("join", "approx", "sketch", "prefilter"),
    oracle="""
WITH b_keys AS (
  SELECT DISTINCT o_custkey AS k FROM orders
  WHERE EXTRACT(YEAR FROM o_orderdate) = 1995
), p_keys AS (
  SELECT DISTINCT o_custkey AS k FROM orders
  WHERE EXTRACT(YEAR FROM o_orderdate) = 1996
), g AS (SELECT unnest([0, 1, 2]) AS i),
bloom AS (
  SELECT pos // 32 AS w,
         bit_or(1::BIGINT << CAST(pos % 32 AS INTEGER)) AS bits
  FROM (
    SELECT CAST(concat('0x', substr(md5(CAST(g.i AS VARCHAR) || ':' ||
           CAST(b.k AS VARCHAR)), 1, 15)) AS BIGINT) % 16384 AS pos
    FROM b_keys b CROSS JOIN g
  ) GROUP BY 1
), pb AS (
  SELECT k, pos, pos // 32 AS w FROM (
    SELECT p.k,
           CAST(concat('0x', substr(md5(CAST(g.i AS VARCHAR) || ':' ||
           CAST(p.k AS VARCHAR)), 1, 15)) AS BIGINT) % 16384 AS pos
    FROM p_keys p CROSS JOIN g
  )
), chk AS (
  SELECT pb.k,
         BOOL_AND((COALESCE(bloom.bits, 0) &
                   (1::BIGINT << CAST(pb.pos % 32 AS INTEGER))) <> 0)
           AS bloom_positive
  FROM pb LEFT JOIN bloom ON bloom.w = pb.w GROUP BY 1
)
SELECT (b.k IS NOT NULL) AS exact_member, chk.bloom_positive,
       CAST(COUNT(*) AS BIGINT) AS n_keys
FROM chk LEFT JOIN b_keys b ON b.k = chk.k
GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def orders_bloom_filter_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pre-filter, deterministic: a 16384-bit /
    3-hash Bloom filter over 1995 buyers, probed with 1996 buyers, with
    the md5 bit positions replayed exactly in DuckDB so the driver
    hash-checks the sketch's membership decisions (including its false
    positives — output is the exact×bloom 2x2 census; the
    no-false-negative row (true, false) is structurally absent).

    This is THE structure that replaces a shuffle at 100 TB: the build
    side map-side-combines into a CONSTANT 512-word bit table (bit_or
    partial agg), which broadcasts for free, and the probe side then
    drops most non-members before any wide join — what Spark's runtime
    bloom filter (spark.sql.optimizer.runtime.bloomFilter.*) injects
    automatically for selective joins, built here explicitly so the
    mechanics (k positions, bit_or words, bool_and probe) are visible
    and verifiable."""
    m, k_hashes = 16384, 3
    o = load_table(spark, sf_dir, "orders")

    def pos(i_col, key_col):
        s = F.concat_ws(":", i_col.cast("string"), key_col.cast("string"))
        return F.pmod(md5_prefix_int(s.cast("binary")), F.lit(m))

    def year_keys(y):
        return (
            o.where(F.year("o_orderdate") == y)
            .select(F.col("o_custkey").alias("k"))
            .distinct()
        )

    hashes = F.explode(F.array(*[F.lit(i) for i in range(k_hashes)])).alias("i")
    b_keys, p_keys = year_keys(1995), year_keys(1996)
    bloom = (
        b_keys.select("k", hashes)
        .withColumn("pos", pos(F.col("i"), F.col("k")))
        .groupBy(F.expr("pos div 32").alias("w"))
        .agg(
            F.expr("bit_or(shiftleft(1L, cast(pos % 32 as int)))").alias("bits")
        )
    )
    pb = (
        p_keys.select("k", hashes)
        .withColumn("pos", pos(F.col("i"), F.col("k")))
        .withColumn("w", F.expr("pos div 32"))
    )
    chk = (
        pb.join(F.broadcast(bloom), "w", "left")
        .groupBy("k")
        .agg(
            F.expr(
                "bool_and((coalesce(bits, 0L) & "
                "shiftleft(1L, cast(pos % 32 as int))) != 0)"
            ).alias("bloom_positive")
        )
    )
    return (
        chk.join(
            b_keys.select(F.col("k").alias("bk")),
            chk["k"] == F.col("bk"),
            "left",
        )
        .groupBy(
            F.col("bk").isNotNull().alias("exact_member"), "bloom_positive"
        )
        .agg(F.count(F.lit(1)).alias("n_keys"))
    )


@query(
    "order_sampled_quantiles",
    tags=("agg", "approx", "sampling", "quantile"),
    oracle="""
WITH s AS (
  SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS price_cents,
         o_orderkey
  FROM orders
  WHERE CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2))
             AS BIGINT) < 16
), ranked AS (
  SELECT price_cents,
         ROW_NUMBER() OVER (ORDER BY price_cents, o_orderkey) AS rnk
  FROM s
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_s FROM s),
ps AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.95 AS DOUBLE),
                      CAST(0.99 AS DOUBLE)]) AS p)
SELECT ps.p,
       CAST(CEIL(ps.p * t.n_s) AS BIGINT) AS sample_rank,
       r.price_cents,
       t.n_s AS sample_n
FROM ps CROSS JOIN tot t
JOIN ranked r ON r.rnk = CAST(CEIL(ps.p * t.n_s) AS BIGINT)
ORDER BY ps.p
""",
)
def order_sampled_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass approximate quantiles via a deterministic 1/16 sample:
    the cheap sibling of the exact two-pass order_equidepth_bins, and
    the deterministic stand-in for percentile_approx (whose t-digest
    sketch is engine-specific and unverifiable). The sample is
    content-addressed (first md5 byte of the key < 16), so it is the
    SAME sample at any partition count and in any engine; nearest-rank
    quantiles of the sample are then exact picks replayed identically
    in DuckDB — the estimate itself hash-verifies. Sampling theory:
    nearest-rank of a uniform 1/16 sample is within O(1/sqrt(n/16))
    quantile distance of the true quantile.

    Scale shape: the filter prunes ~94% of rows at the scan, and the
    rank over the surviving sample uses the two-pass bucket-offset
    global_row_number — no single-task sort anywhere, unlike a naive
    global ROW_NUMBER (the plan a percentile query must not have)."""
    from financial_data_warehouse_automation_spark.operators.ranks import global_row_number

    o = load_table(spark, sf_dir, "orders")
    u = md5_prefix_int(F.col("o_orderkey").cast("string").cast("binary"), 2)
    s = o.where(u < 16).select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("price_cents"),
        "o_orderkey",
    )
    ranked = global_row_number(s, "price_cents", ("o_orderkey",), "rnk")
    tot = s.agg(F.count(F.lit(1)).cast("long").alias("n_s"))
    ps = spark.createDataFrame([(0.5,), (0.95,), (0.99,)], "p double")
    targets = ps.crossJoin(F.broadcast(tot)).select(
        "p",
        F.ceil(F.col("p") * F.col("n_s")).cast("long").alias("sample_rank"),
        "n_s",
    )
    return (
        ranked.select("price_cents", F.col("rnk").alias("sample_rank"))
        .join(F.broadcast(targets), "sample_rank")  # 3-row probe broadcast
        .select("p", "sample_rank", "price_cents", F.col("n_s").alias("sample_n"))
    )


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.8 target additions).
# ---------------------------------------------------------------------------
@query(
    "set_intersect_buyers",
    tags=("setop",),
    oracle="""
SELECT o_custkey AS custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1995
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1996
ORDER BY custkey
""",
)
def set_intersect_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) of two filtered projections."""
    o = load_table(spark, sf_dir, "orders")
    y95 = o.where(F.year("o_orderdate") == 1995).select(F.col("o_custkey").alias("custkey"))
    y96 = o.where(F.year("o_orderdate") == 1996).select(F.col("o_custkey").alias("custkey"))
    return y95.intersect(y96)


@query(
    "set_except_churned",
    tags=("setop",),
    oracle="""
SELECT o_custkey AS custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1995
EXCEPT
SELECT o_custkey AS custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1996
ORDER BY custkey
""",
)
def set_except_churned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) — 1995 buyers who placed nothing in 1996."""
    o = load_table(spark, sf_dir, "orders")
    y95 = o.where(F.year("o_orderdate") == 1995).select(F.col("o_custkey").alias("custkey"))
    y96 = o.where(F.year("o_orderdate") == 1996).select(F.col("o_custkey").alias("custkey"))
    return y95.subtract(y96)


# ---------------------------------------------------------------------------
# Global sort + limit (SURVEY §2.7 O1/O3).
# ---------------------------------------------------------------------------
@query(
    "top10_orders_global",
    tags=("sort", "limit"),
    oracle="""
SELECT o_orderkey AS orderkey, o_custkey AS custkey, o_totalprice AS totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
""",
)
def top10_orders_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — per-partition
    heaps + driver merge, no full sort at any scale. Tie-break on key
    keeps it deterministic."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_custkey").alias("custkey"),
            F.col("o_totalprice").alias("totalprice"),
        )
        .orderBy(F.desc("totalprice"), F.asc("orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Pivot (long → wide; the reference's month-name columns in reports).
# ---------------------------------------------------------------------------
@query(
    "pivot_returnflag_by_year",
    tags=("pivot", "agg"),
    oracle=f"""
SELECT
  EXTRACT(YEAR FROM o.o_orderdate) AS year,
  CAST(SUM(CASE WHEN l.l_returnflag = 'A' THEN {sql_money('l.l_extendedprice')} END) AS DOUBLE) AS flag_a,
  CAST(SUM(CASE WHEN l.l_returnflag = 'N' THEN {sql_money('l.l_extendedprice')} END) AS DOUBLE) AS flag_n,
  CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN {sql_money('l.l_extendedprice')} END) AS DOUBLE) AS flag_r
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1
ORDER BY year
""",
)
def pivot_returnflag_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (no extra distinct-values job)."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("year"))
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(dsum(money("l_extendedprice")))
        .select(
            "year",
            F.col("A").alias("flag_a"),
            F.col("N").alias("flag_n"),
            F.col("R").alias("flag_r"),
        )
    )


# ---------------------------------------------------------------------------
# SQL API surface: the same engine through spark.sql over registered views
# (TPC-H Q3 shape). The reference has no query language; this engine gets
# one for free — worth one registered proof.
# ---------------------------------------------------------------------------
@query(
    "sql_shipping_priority",
    tags=("sql", "join", "agg", "topk"),
    oracle=f"""
SELECT l.l_orderkey AS orderkey,
       CAST(SUM({sql_money('l.l_extendedprice')} * (CAST(1.0 AS DECIMAL(2,1)) - {sql_rate('l.l_discount')})) AS DOUBLE) AS revenue,
       CAST(o.o_orderdate AS DATE) AS orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
  AND l.l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, orderkey
LIMIT 10
""",
)
def sql_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front door: identical semantics expressed as a spark.sql
    string over temp views — proves the engine's second API surface
    compiles to the same Catalyst plans as the DataFrame queries."""
    from financial_data_warehouse_automation_spark.tables import register_views

    register_views(spark, sf_dir, names=("customer", "orders", "lineitem"))
    return spark.sql(f"""
        SELECT l.l_orderkey AS orderkey,
               CAST(SUM({sql_money('l.l_extendedprice')} * (CAST(1.0 AS DECIMAL(2,1)) - {sql_rate('l.l_discount')})) AS DOUBLE) AS revenue,
               CAST(o.o_orderdate AS DATE) AS orderdate
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-03-15'
          AND l.l_shipdate > TIMESTAMP '1995-03-15'
        GROUP BY l.l_orderkey, o.o_orderdate
        ORDER BY revenue DESC, orderkey
        LIMIT 10
    """)


@query(
    "grouping_sets_flag_year",
    tags=("agg", "grouping-sets", "sql"),
    oracle=f"""
SELECT
  COALESCE(l_returnflag, 'ALL') AS returnflag,
  COALESCE(CAST(EXTRACT(YEAR FROM l_shipdate) AS VARCHAR), 'ALL') AS shipyear,
  CAST(SUM({M_PRICE}) AS DOUBLE) AS total_price,
  COUNT(*) AS n_rows
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (EXTRACT(YEAR FROM l_shipdate)))
ORDER BY returnflag, shipyear
""",
)
def grouping_sets_flag_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither pure rollup nor cube): per-flag
    totals and per-shipyear totals in one shuffle. (No final ORDER BY:
    the r16 registry-wide §2.4 sort sweep — the gate hashes
    order-insensitively, and this SQL string is not oracle-shared, so
    the trailing sort was purely presentational.)"""
    l = load_table(spark, sf_dir, "lineitem")
    l.createOrReplaceTempView("lineitem")
    return spark.sql(f"""
        SELECT
          COALESCE(l_returnflag, 'ALL') AS returnflag,
          COALESCE(CAST(YEAR(l_shipdate) AS STRING), 'ALL') AS shipyear,
          CAST(SUM({M_PRICE}) AS DOUBLE) AS total_price,
          COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (YEAR(l_shipdate)))
    """)


@query(
    "set_except_all_lineitems",
    tags=("setop", "except-all"),
    oracle="""
SELECT l_partkey AS partkey FROM lineitem WHERE l_returnflag = 'A'
EXCEPT ALL
SELECT l_partkey AS partkey FROM lineitem WHERE l_returnflag = 'R'
ORDER BY partkey
""",
)
def set_except_all_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag semantics, exceptAll) — each right occurrence
    cancels one left occurrence; the multiplicity-aware complement of
    set_except_churned's EXCEPT DISTINCT."""
    l = load_table(spark, sf_dir, "lineitem")
    a = l.where(F.col("l_returnflag") == "A").select(F.col("l_partkey").alias("partkey"))
    r = l.where(F.col("l_returnflag") == "R").select(F.col("l_partkey").alias("partkey"))
    return a.exceptAll(r)


@query(
    "minmax_by_order_per_segment",
    tags=("agg", "min_by", "max_by"),
    oracle="""
SELECT c.c_mktsegment AS segment,
       max_by(o.o_orderkey, CAST(o.o_totalprice AS DECIMAL(12,2)) * 10000000000 + o.o_orderkey) AS biggest_order,
       min_by(o.o_orderkey, CAST(o.o_totalprice AS DECIMAL(12,2)) * 10000000000 + o.o_orderkey) AS smallest_order,
       MAX(o.o_totalprice) AS max_price,
       MIN(o.o_totalprice) AS min_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1 ORDER BY segment
""",
)
def minmax_by_order_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax/argmin aggregates). The ordering key is an
    exact decimal composite (price scaled + orderkey) so price ties
    break deterministically and identically in both engines (DuckDB's
    max_by takes scalar orderings only)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    key = money("o_totalprice") * F.lit(10000000000) + F.col("o_orderkey")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.max_by("o_orderkey", key).alias("biggest_order"),
            F.min_by("o_orderkey", key).alias("smallest_order"),
            F.max("o_totalprice").alias("max_price"),
            F.min("o_totalprice").alias("min_price"),
        )
    )


@query(
    "price_percentiles_per_status",
    tags=("agg", "percentile"),
    oracle="""
SELECT o_orderstatus AS status,
       quantile_cont(o_totalprice, 0.25) AS p25,
       quantile_cont(o_totalprice, 0.5) AS p50,
       quantile_cont(o_totalprice, 0.9) AS p90,
       COUNT(*) AS n
FROM orders GROUP BY 1 ORDER BY status
""",
)
def price_percentiles_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles: Spark's percentile() and DuckDB's
    quantile_cont use the same sorted-linear-interpolation rule, so the
    doubles agree bit-for-bit (verified at sf0.01)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.expr("percentile(o_totalprice, 0.25)").alias("p25"),
            F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
            F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "part_name_similarity",
    tags=("string", "levenshtein", "topk"),
    oracle="""
WITH p AS (SELECT p_partkey, p_name FROM part WHERE p_partkey < 200)
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       levenshtein(a.p_name, b.p_name) AS dist
FROM p a JOIN p b ON a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 2
ORDER BY key_a, key_b
""",
)
def part_name_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance string matching (dirty-dimension reconciliation —
    the fuzzy cousin of the header-synonym resolution), subset-bounded
    like every all-pairs anchor."""
    p = load_table(spark, sf_dir, "part").where(F.col("p_partkey") < 200)
    a = p.select(F.col("p_partkey").alias("key_a"), F.col("p_name").alias("name_a"))
    b = p.select(F.col("p_partkey").alias("key_b"), F.col("p_name").alias("name_b"))
    return (
        a.join(b, F.col("key_a") < F.col("key_b"))
        .select(
            "key_a", "key_b",
            F.levenshtein("name_a", "name_b").alias("dist"),
        )
        .where(F.col("dist") <= 2)
    )


_LATERAL_SQL = """
SELECT c.c_custkey AS custkey, t.o_orderkey AS orderkey, t.o_totalprice AS totalprice
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
         WHERE o.o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
WHERE c.c_custkey % 100 = 0
ORDER BY custkey, totalprice DESC, orderkey
"""


@query(
    "lateral_top2_orders",
    tags=("sql", "lateral", "topk"),
    oracle=_LATERAL_SQL,
)
def lateral_top2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row LIMIT — the other
    formulation of per-group top-k (Catalyst rewrites it to a
    DomainJoin + window; identical SQL runs on both engines)."""
    from financial_data_warehouse_automation_spark.tables import register_views

    register_views(spark, sf_dir, names=("customer", "orders"))
    return spark.sql(_LATERAL_SQL)


@query(
    "null_safe_join_semantics",
    tags=("join", "null-safe"),
    oracle="""
WITH keyed AS (
  SELECT o_orderkey,
         CASE WHEN o_orderpriority = '1-URGENT' THEN NULL
              ELSE o_orderpriority END AS prio_key
  FROM orders
), dim(prio_key, label) AS (
  VALUES ('2-HIGH', 'high'), ('3-MEDIUM', 'medium'), (NULL, 'unprioritized')
)
SELECT COALESCE(d.label, 'other') AS label, COUNT(*) AS n
FROM keyed k LEFT JOIN dim d ON k.prio_key IS NOT DISTINCT FROM d.prio_key
GROUP BY 1 ORDER BY label
""",
)
def null_safe_join_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other — the semantics a plain equi-join silently drops
    (and the reference's blank-GL rows would hit)."""
    o = load_table(spark, sf_dir, "orders")
    keyed = o.select(
        "o_orderkey",
        F.when(F.col("o_orderpriority") == "1-URGENT", F.lit(None))
        .otherwise(F.col("o_orderpriority"))
        .alias("prio_key"),
    )
    dim = spark.createDataFrame(
        [("2-HIGH", "high"), ("3-MEDIUM", "medium"), (None, "unprioritized")],
        "prio_key string, label string",
    )
    return (
        keyed.join(F.broadcast(dim), keyed.prio_key.eqNullSafe(dim.prio_key), "left")
        .groupBy(F.coalesce("label", F.lit("other")).alias("label"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "set_intersect_all_parts",
    tags=("setop", "intersect-all"),
    oracle="""
SELECT l_partkey AS partkey FROM lineitem WHERE l_returnflag = 'A'
INTERSECT ALL
SELECT l_partkey AS partkey FROM lineitem WHERE l_returnflag = 'R'
ORDER BY partkey
""",
)
def set_intersect_all_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (bag semantics): each partkey appears
    min(count_A, count_R) times — completes the set-op matrix."""
    l = load_table(spark, sf_dir, "lineitem")
    a = l.where(F.col("l_returnflag") == "A").select(F.col("l_partkey").alias("partkey"))
    r = l.where(F.col("l_returnflag") == "R").select(F.col("l_partkey").alias("partkey"))
    return a.intersectAll(r)


@query(
    "profile_customer_table",
    tags=("profile", "quality", "agg"),
    oracle="""
SELECT 'c_custkey' AS col_name, COUNT(*) - COUNT(c_custkey) AS n_nulls,
       COUNT(DISTINCT c_custkey) AS n_distinct,
       MIN(CAST(c_custkey AS VARCHAR)) AS min_str, MAX(CAST(c_custkey AS VARCHAR)) AS max_str
FROM customer
UNION ALL
SELECT 'c_mktsegment', COUNT(*) - COUNT(c_mktsegment), COUNT(DISTINCT c_mktsegment),
       MIN(CAST(c_mktsegment AS VARCHAR)), MAX(CAST(c_mktsegment AS VARCHAR))
FROM customer
UNION ALL
SELECT 'c_nationkey', COUNT(*) - COUNT(c_nationkey), COUNT(DISTINCT c_nationkey),
       MIN(CAST(c_nationkey AS VARCHAR)), MAX(CAST(c_nationkey AS VARCHAR))
FROM customer
ORDER BY col_name
""",
)
def profile_customer_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style profile (operators/profile.py): per-column null /
    distinct / min / max in ONE aggregation pass (the oracle unions
    three passes — same answer, our plan reads the table once)."""
    from financial_data_warehouse_automation_spark.operators.profile import profile_table

    c = load_table(spark, sf_dir, "customer")
    return (
        profile_table(c, ["c_custkey", "c_mktsegment", "c_nationkey"])
        .withColumnRenamed("column", "col_name")
    )


@query(
    "conditional_agg_filter",
    tags=("agg", "conditional"),
    oracle=f"""
SELECT c_mktsegment AS segment,
       COUNT(*) AS n_orders,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
       COUNT(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
       CAST(COALESCE(SUM({sql_money('o_totalprice')})
              FILTER (WHERE o_orderpriority = '1-URGENT'), 0) AS DOUBLE)
         AS urgent_total
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
ORDER BY segment
""",
)
def conditional_agg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation — SQL FILTER-clause semantics via
    count_if / sum(when): several differently-predicated aggregates in
    ONE pass over the joined input (vs one scan per predicate). The
    map-side partial agg means the join output never materializes."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
            F.count_if(F.col("o_totalprice") > 150000).alias("n_big"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("o_orderpriority") == "1-URGENT",
                        money("o_totalprice"),
                    )
                ),
                F.lit(0).cast("decimal(12,2)"),
            ).cast("double").alias("urgent_total"),
        )
    )


@query(
    "unpivot_revenue_by_flag",
    tags=("unpivot", "reshape"),
    oracle=f"""
WITH wide_axis AS (
  SELECT DISTINCT EXTRACT(YEAR FROM l_shipdate) AS year FROM lineitem
), flags AS (
  SELECT unnest(['A', 'N', 'R']) AS returnflag
), agg AS (
  SELECT EXTRACT(YEAR FROM l_shipdate) AS year, l_returnflag AS returnflag,
         CAST(SUM({sql_money('l_extendedprice')}) AS DOUBLE) AS revenue
  FROM lineitem GROUP BY 1, 2
)
SELECT w.year AS year, f.returnflag AS returnflag, a.revenue AS revenue
FROM wide_axis w CROSS JOIN flags f
LEFT JOIN agg a ON a.year = w.year AND a.returnflag = f.returnflag
ORDER BY w.year, f.returnflag
""",
)
def unpivot_revenue_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot → unpivot round trip (wide↔long reshape): revenue per year
    pivoted to one column per returnflag, then melted back with
    DataFrame.unpivot. Absent (year, flag) cells survive as NULL rows —
    the oracle reproduces that with an explicit axis cross join."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = (
        li.groupBy(F.year("l_shipdate").cast("long").alias("year"))
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum(money("l_extendedprice")).cast("double"))
    )
    return (
        wide.unpivot(["year"], ["A", "N", "R"], "returnflag", "revenue")
    )


@query(
    "segment_revenue_correlation",
    tags=("agg", "statistics", "trend"),
    oracle=f"""
WITH monthly AS (
  SELECT EXTRACT(YEAR FROM o_orderdate) AS year,
         EXTRACT(MONTH FROM o_orderdate) AS month,
         CAST(SUM({sql_money('o_totalprice')})
              FILTER (WHERE c_mktsegment = 'BUILDING') AS DOUBLE) AS x,
         CAST(SUM({sql_money('o_totalprice')})
              FILTER (WHERE c_mktsegment = 'MACHINERY') AS DOUBLE) AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
), paired AS (
  SELECT CAST(round(x / 1000.0) AS BIGINT) AS xk,
         CAST(round(y / 1000.0) AS BIGINT) AS yk
  FROM monthly WHERE x IS NOT NULL AND y IS NOT NULL
), s AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(xk) AS BIGINT) AS sx, CAST(SUM(yk) AS BIGINT) AS sy,
         CAST(SUM(xk * yk) AS BIGINT) AS sxy,
         CAST(SUM(xk * xk) AS BIGINT) AS sxx,
         CAST(SUM(yk * yk) AS BIGINT) AS syy
  FROM paired
)
SELECT n AS n_months,
       CAST(sx AS DOUBLE) / n AS mean_building_k,
       CAST(sy AS DOUBLE) / n AS mean_machinery_k,
       (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         AS corr_xy
FROM s
""",
)
def segment_revenue_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between two segments' monthly revenue series
    — the 'do these departments trend together' question the reference
    warehouse exists for. Built-in F.corr sums doubles in shuffle order
    (non-deterministic at the ulp level), so instead: exact decimal
    monthly sums → k$-rounded integer series → integer moments (Σx, Σy,
    Σxy, Σx², Σy² — one pass, order-free) → closed form in double.
    Bit-identical across engines and cluster layouts. (The k$ unit
    keeps Σx² inside int64 at bench scale; scale the unit with SF.)"""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    seg_sum = lambda seg: F.sum(  # noqa: E731
        F.when(F.col("c_mktsegment") == seg, money("o_totalprice"))
    ).cast("double")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.year("o_orderdate").alias("year"),
            F.month("o_orderdate").alias("month"),
        )
        .agg(seg_sum("BUILDING").alias("x"), seg_sum("MACHINERY").alias("y"))
        .where(F.col("x").isNotNull() & F.col("y").isNotNull())
        .select(
            F.round(F.col("x") / 1000.0).cast("long").alias("xk"),
            F.round(F.col("y") / 1000.0).cast("long").alias("yk"),
        )
    )
    xk, yk = F.col("xk"), F.col("yk")
    s = monthly.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xk).alias("sx"),
        F.sum(yk).alias("sy"),
        F.sum(xk * yk).alias("sxy"),
        F.sum(xk * xk).alias("sxx"),
        F.sum(yk * yk).alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    return s.select(
        n.alias("n_months"),
        (sx / n).alias("mean_building_k"),
        (sy / n).alias("mean_machinery_k"),
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias("corr_xy"),
    )


# ---------------------------------------------------------------------------
# Hot-key resilience: the salted-join operator registered as a query, so
# the driver gate pins "salted execution ≡ plain join" every round.
# ---------------------------------------------------------------------------
@query(
    "skew_salted_segment_revenue",
    tags=("join", "skew", "agg"),
    oracle=f"""
SELECT c.c_mktsegment AS segment,
       CAST(SUM({sql_money('o.o_totalprice')}) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1
ORDER BY 1
""",
)
def skew_salted_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per segment through operators.skew.salted_join.

    Semantically identical to a plain orders⋈customer equi-join — the
    oracle IS the plain join — but executed with the fact side sprayed
    across 8 sub-keys and the dim side replicated 8×, the manual
    fallback for a hot key one task can't hold (beyond AQE's
    shuffle-partition splitting; see operators/skew.py). Salt derives
    from o_orderkey, so the spray is deterministic and uniform even
    when o_custkey is pathologically skewed.
    """
    from financial_data_warehouse_automation_spark.operators.skew import salted_join

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    joined = salted_join(
        o, c, on=["o_custkey"], n_salts=8,
        salt_source=F.xxhash64("o_orderkey"),
    )
    return (
        joined.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.sum(money("o_totalprice")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# Distribution analysis: fixed-width histogram via identical floor-
# division bucketing in both engines (width_bucket boundary semantics
# differ across engines; the explicit formula doesn't).
# ---------------------------------------------------------------------------
@query(
    "order_value_histogram",
    tags=("agg", "histogram", "stats"),
    oracle=f"""
SELECT LEAST(CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT), 11) AS bucket,
       COUNT(*) AS n_orders,
       CAST(SUM({sql_money('o_totalprice')}) AS DOUBLE) AS total_value
FROM orders
GROUP BY 1
ORDER BY 1
""",
)
def order_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-bucket $50k-wide histogram of order values (top bucket open).
    One hash aggregate on a computed key — the bucket expression is the
    same double division + floor in both engines, so bucket membership
    is bit-identical. The shape every data-profiling pass runs first."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor(F.col("o_totalprice") / 50000.0).cast("long"), F.lit(11)
    )
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(money("o_totalprice")).cast("double").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Ordered string aggregation (group-concat): deterministic only with an
# explicit element order — gated so the discipline can't regress.
# ---------------------------------------------------------------------------
@query(
    "top_customers_concat_per_nation",
    tags=("agg", "string-agg", "topk"),
    oracle="""
WITH ranked AS (
  SELECT n.n_name AS nation, c.c_name AS name, c.c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY n.n_name
                            ORDER BY c.c_acctbal DESC, c.c_custkey) AS rn
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT nation,
       COUNT(*) AS n_top,
       string_agg(name, ',' ORDER BY rn) AS top3_names
FROM ranked WHERE rn <= 3
GROUP BY nation
ORDER BY nation
""",
)
def top_customers_concat_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-concat of each nation's top-3 customers by balance.
    collect_list order is shuffle-dependent, so the elements carry
    their rank and are array_sort-ed before joining — the only
    formulation whose string is reproducible across runs and cluster
    sizes (the same discipline as DuckDB's string_agg ... ORDER BY).
    WindowGroupLimit pushes the rn<=3 cut below the shuffle."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    w = Window.partitionBy("n_name").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    ranked = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
    )
    return (
        ranked.groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_top"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "c_name"))),
                    lambda s: s["c_name"],
                ),
                ",",
            ).alias("top3_names"),
        )
    )


# ---------------------------------------------------------------------------
# Reconciliation audit: header total vs line-derived total — the
# data-quality report every warehouse load runs across source systems.
# ---------------------------------------------------------------------------
@query(
    "order_total_reconciliation",
    tags=("audit", "join", "agg", "quality"),
    oracle=f"""
WITH l AS (
  SELECT l_orderkey,
         SUM({sql_money('l_extendedprice')}
             * (CAST(1.0 AS DECIMAL(2,1)) - {sql_rate('l_discount')})
             * (CAST(1.0 AS DECIMAL(2,1)) + {sql_rate('l_tax')})) AS line_total
  FROM lineitem GROUP BY 1
), joined AS (
  SELECT CAST(o.o_totalprice AS DECIMAL(12,2)) AS header_total,
         l.line_total,
         CASE
           WHEN l.line_total IS NULL THEN 'missing_lines'
           WHEN CAST(l.line_total AS DOUBLE) / CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) AS DOUBLE) < 0.5 THEN 'ratio_below_50pct'
           WHEN CAST(l.line_total AS DOUBLE) / CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) AS DOUBLE) < 0.9 THEN 'ratio_50_90pct'
           WHEN CAST(l.line_total AS DOUBLE) / CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) AS DOUBLE) <= 1.1 THEN 'ratio_90_110pct'
           WHEN CAST(l.line_total AS DOUBLE) / CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) AS DOUBLE) <= 2.0 THEN 'ratio_110_200pct'
           ELSE 'ratio_over_200pct'
         END AS band
  FROM orders o LEFT JOIN l ON o.o_orderkey = l.l_orderkey
)
SELECT band,
       COUNT(*) AS n_orders,
       CAST(SUM(header_total) AS DOUBLE) AS header_sum,
       CAST(ROUND(SUM(line_total), 2) AS DOUBLE) AS line_sum
FROM joined GROUP BY 1 ORDER BY 1
""",
)
def order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-system reconciliation: the order header's total against the
    total derived from its lines (price × (1−disc) × (1+tax)), banded
    by ratio — the audit every multi-source warehouse load runs before
    trusting a feed (this synthetic data reconciles for NO order, and
    257 orders at sf0.01 have no lines at all — both facts the report
    must surface, not hide). Exact decimal sums on both sides; the band
    decision divides the same exact values in double, so banding is
    bit-identical cross-engine. Scale: one orderkey-grain aggregate +
    one key-partitioned left join."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    one = F.lit("1.0").cast("decimal(2,1)")
    line_total = F.sum(
        money("l_extendedprice") * (one - rate("l_discount"))
        * (one + rate("l_tax"))
    ).alias("line_total")
    per_order = l.groupBy("l_orderkey").agg(line_total)
    header = money("o_totalprice")
    joined = o.join(per_order, o.o_orderkey == per_order.l_orderkey, "left")
    ratio = F.col("line_total").cast("double") / header.cast("double")
    band = (
        # band labels name the ratio range they cover (round-3 ADVICE:
        # 'under_10pct' actually covered [0.5, 0.9) — misleading)
        F.when(F.col("line_total").isNull(), "missing_lines")
        .when(ratio < 0.5, "ratio_below_50pct")
        .when(ratio < 0.9, "ratio_50_90pct")
        .when(ratio <= 1.1, "ratio_90_110pct")
        .when(ratio <= 2.0, "ratio_110_200pct")
        .otherwise("ratio_over_200pct")
    )
    return (
        joined.select(
            band.alias("band"),
            header.alias("header_total"),
            F.col("line_total"),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("header_total").cast("double").alias("header_sum"),
            # ROUND before the double cast: DuckDB's scale-10
            # decimal->double conversion is not correctly rounded
            # (same 1-ulp path as pricing_summary.sum_charge, r1 #4).
            F.round(F.sum("line_total"), 2).cast("double").alias("line_sum"),
        )
    )


@query(
    "order_price_percentiles",
    tags=("agg", "percentile", "window"),
    oracle=f"""
WITH priced AS (
  SELECT o_orderpriority,
         {sql_money('o_totalprice')} AS price,
         o_orderkey
  FROM orders
), ranked AS (
  SELECT o_orderpriority, price,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY price, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM priced
)
SELECT o_orderpriority,
       CAST(MAX(n) AS BIGINT) AS n_orders,
       CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN price END) AS DOUBLE) AS p50,
       CAST(MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN price END) AS DOUBLE) AS p90,
       CAST(MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN price END) AS DOUBLE) AS p99
FROM ranked GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
)
def order_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nearest-rank percentiles (p50/p90/p99 of order value per
    priority) via rank selection, NOT interpolating percentile
    functions: k = ceil(q*n) computed in integer arithmetic, the value
    at rank k picked by a conditional aggregate. Interpolating
    quantiles (percentile_cont) mix doubles with engine-specific
    formulas — nearest-rank is the distribution statistic that
    hash-matches across engines bit-for-bit. Shape: one window pass
    partitioned by the group key + one group aggregate, no joins; at
    scale the window shuffle is the only exchange. The approximate
    sibling for 100 TB dashboards is percentile_approx (t-digest,
    mergeable sketch) — same plan shape, bounded error."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    priced = o.select(
        "o_orderpriority", money("o_totalprice").alias("price"), "o_orderkey"
    )
    w = Window.partitionBy("o_orderpriority").orderBy("price", "o_orderkey")
    wn = Window.partitionBy("o_orderpriority")
    ranked = priced.select(
        "o_orderpriority",
        "price",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    n = F.col("n")

    def at_rank(k) -> F.Column:
        # k = ceil(q*n) in exact integer arithmetic: (num*n + den-1) div den
        return F.max(F.when(F.col("rn") == k, F.col("price"))).cast("double")

    return (
        ranked.groupBy("o_orderpriority")
        .agg(
            F.max("n").cast("long").alias("n_orders"),
            at_rank(F.floor((n + 1) / 2)).alias("p50"),
            at_rank(F.floor((9 * n + 9) / 10)).alias("p90"),
            at_rank(F.floor((99 * n + 99) / 100)).alias("p99"),
        )
    )


@query(
    "part_basket_affinity",
    tags=("join", "agg", "market-basket", "topk"),
    oracle="""
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_ab
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
), singles AS (
  SELECT l_partkey, COUNT(*) AS n FROM op GROUP BY 1
), total AS (
  SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM op
)
SELECT p.part_a, p.part_b,
       CAST(p.n_ab AS BIGINT) AS n_ab,
       ROUND(CAST(p.n_ab AS DOUBLE) * t.n_orders
             / (sa.n * sb.n), 6) AS lift
FROM pairs p
JOIN singles sa ON p.part_a = sa.l_partkey
JOIN singles sb ON p.part_b = sb.l_partkey
CROSS JOIN total t
WHERE p.n_ab >= 2
ORDER BY lift DESC, p.part_a, p.part_b
LIMIT 50
""",
)
def part_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association: part pairs that co-occur in orders
    far above chance (lift = P(ab) / P(a)P(b)), min support 2, top 50.
    Pair generation explodes within the per-order BASKET, so fan-out
    is bounded by basket size (~N_lines per order choose 2), never
    parts x parts — the same bounded-bucket argument as the LSH pair
    expansion, scale-safe at 100 TB. Lineitem is scanned ONCE: the
    basket relation (one collect_set row per order) feeds pairs,
    part marginals, and the order total, and is localCheckpoint'ed
    because Spark re-evaluates shared subplans — the previous
    self-join form planned 5 lineitem scans + 4 distinct shuffles
    with zero exchange reuse (sf1 7.0s -> ~2s). The single-row order
    total broadcasts. Lift multiplies exact longs before one double
    division + round-6, so ranking ties are bit-stable; the top-50
    cut rides (lift desc, part_a, part_b) and plans as
    TakeOrderedAndProject."""
    l = load_table(spark, sf_dir, "lineitem")
    baskets = (
        l.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("parts"))
    )
    baskets = cut(baskets, eager=True)
    pairs = (
        baskets.select(F.explode("parts").alias("part_a"), "parts")
        .select("part_a", F.explode("parts").alias("part_b"))
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= 2)
    )
    singles = (
        baskets.select(F.explode("parts").alias("s_key"))
        .groupBy("s_key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    sa = singles.select(F.col("s_key").alias("a_key"), F.col("n").alias("n_a"))
    sb = singles.select(F.col("s_key").alias("b_key"), F.col("n").alias("n_b"))
    return (
        pairs.join(sa, pairs.part_a == F.col("a_key"))
        .join(sb, pairs.part_b == F.col("b_key"))
        .crossJoin(F.broadcast(total))
        .select(
            "part_a", "part_b", "n_ab",
            F.round(
                F.col("n_ab").cast("double") * F.col("n_orders")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(50)
    )


# Benford first-digit expectation, log10(1 + 1/d) rounded to 6 — shared
# literals so Spark and the oracle test against identical constants.
_BENFORD = [0.30103, 0.176091, 0.124939, 0.09691, 0.079181,
            0.066947, 0.057992, 0.051153, 0.045757]


@query(
    "orders_benford_audit",
    tags=("agg", "audit", "qa"),
    oracle=f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                     AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders WHERE o_totalprice >= 0.01
), expected AS (
  SELECT digit, CAST(exp_share AS DOUBLE) AS exp_share FROM (VALUES
    {', '.join(f'({d + 1}, {p})' for d, p in enumerate(_BENFORD))}
  ) AS t(digit, exp_share)
), counts AS (
  SELECT digit, COUNT(*) AS n FROM digits GROUP BY 1
), tot AS (SELECT SUM(n) AS total FROM counts)
SELECT e.digit, CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
       e.exp_share,
       ROUND(CAST(COALESCE(c.n, 0) AS DOUBLE) / t.total, 6) AS obs_share,
       ROUND(POWER(CAST(COALESCE(c.n, 0) AS DOUBLE) / t.total - e.exp_share, 2)
             / e.exp_share, 6) AS chi2_term
FROM expected e LEFT JOIN counts c ON e.digit = c.digit
CROSS JOIN tot t
ORDER BY e.digit
""",
)
def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    financial-forensics QA check (the reference's QA sheet tracks
    mapping gaps; a warehouse also wants distribution-level fraud
    signals). The leading digit comes from the DECIMAL STRING of exact
    integer cents — never floor(log10(x)), whose float landing near a
    power of ten can disagree between libms. Chi-square terms divide
    exact counts in double against shared round-6 Benford literals.
    Shape: scan -> 9-row aggregate; the expected table is a 9-row
    broadcast spine (LEFT join so missing digits surface as 0)."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 0.01)
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").cast("string"), 1, 1
    ).cast("long")
    counts = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    expected = spark.createDataFrame(
        [(d + 1, p) for d, p in enumerate(_BENFORD)], "digit long, exp_share double"
    )
    tot = counts.agg(F.sum("n").alias("total"))
    return (
        expected
        .join(counts, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            "exp_share",
            F.round(F.coalesce("n", F.lit(0)).cast("double") / F.col("total"), 6)
            .alias("obs_share"),
            F.round(
                F.pow(
                    F.coalesce("n", F.lit(0)).cast("double") / F.col("total")
                    - F.col("exp_share"),
                    2,
                )
                / F.col("exp_share"),
                6,
            ).alias("chi2_term"),
        )
    )


@query(
    "part_abc_pareto",
    tags=("window", "agg", "pareto", "two-pass"),
    oracle="""
WITH per_part AS (
  SELECT l_partkey,
         SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS cents
  FROM lineitem GROUP BY 1
), tot AS (SELECT SUM(cents) AS total FROM per_part),
ranked AS (
  SELECT l_partkey, cents,
         SUM(cents) OVER (ORDER BY cents DESC, l_partkey) AS cum_cents
  FROM per_part
)
SELECT CASE WHEN CAST(r.cum_cents AS DOUBLE) / t.total <= 0.8 THEN 'A'
            WHEN CAST(r.cum_cents AS DOUBLE) / t.total <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(r.cents) AS BIGINT) AS class_cents,
       ROUND(CAST(SUM(r.cents) AS DOUBLE) / MAX(t.total), 6) AS revenue_share
FROM ranked r CROSS JOIN tot t
GROUP BY 1 ORDER BY 1
""",
)
def part_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/Pareto inventory classification: parts ranked by revenue,
    class A = the head covering 80% of cumulative revenue, B to 95%,
    C the tail. The global running sum is computed with the TWO-PASS
    pattern, not a single-partition window: pass 1 buckets parts by
    revenue magnitude (32 integer bands over [0, max]) and computes
    per-bucket totals — a ~32-row broadcast of cumulative offsets;
    pass 2 runs the running sum WITHIN each bucket (window partitioned
    by bucket) and adds the offset of all higher buckets. An
    unpartitioned `SUM OVER (ORDER BY ...)` funnels 100 TB through one
    task; this plan's widest window partition is one bucket. Exact
    integer cents end-to-end; the 0.8/0.95 cuts divide exact int64
    sums in double, identical in both engines."""
    from pyspark.sql import Window

    l = load_table(spark, sf_dir, "lineitem")
    per_part = l.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")).alias(
            "cents"
        )
    )
    # per_part feeds bounds, bucketing, and the totals; Spark
    # re-evaluates shared subplans, so the uncut form scanned lineitem
    # 5x (scan census, round 7). Part-grain, bounded — cut it.
    per_part = cut(per_part, eager=False)
    # pass 1: magnitude buckets (descending revenue order == ascending
    # bucket index); bounds from one tiny aggregate
    bounds = per_part.agg(F.max("cents").alias("max_c"))
    bucketed = per_part.crossJoin(F.broadcast(bounds)).select(
        "l_partkey",
        "cents",
        # bucket 0 holds the largest revenues; int arithmetic only
        (31 - F.floor(F.col("cents") * 32 / (F.col("max_c") + 1)))
        .cast("int")
        .alias("bkt"),
    )
    per_bucket = bucketed.groupBy(F.col("bkt").alias("b_idx")).agg(
        F.sum("cents").alias("b_cents")
    )
    # cumulative offset of all strictly-higher buckets: tiny frame, the
    # window here is over <=32 rows, then broadcast back
    wb = Window.orderBy("b_idx").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_bucket.select(
        "b_idx", F.coalesce(F.sum("b_cents").over(wb), F.lit(0)).alias("offset")
    )
    tot = per_part.agg(F.sum("cents").alias("total"))
    # pass 2: running sum within bucket + offset
    ww = Window.partitionBy("bkt").orderBy(F.desc("cents"), "l_partkey")
    ranked = (
        bucketed.join(F.broadcast(offsets), F.col("bkt") == F.col("b_idx"))
        .select(
            "l_partkey",
            "cents",
            "bkt",
            (F.sum("cents").over(ww) + F.col("offset")).alias("cum_cents"),
        )
    )
    share = F.col("cum_cents").cast("double") / F.col("total")
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C")
            .alias("abc_class"),
            "cents",
            "total",
        )
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("cents").alias("class_cents"),
            F.round(
                F.sum("cents").cast("double") / F.max("total"), 6
            ).alias("revenue_share"),
        )
    )


@query(
    "supplier_concentration_hhi",
    tags=("agg", "stats", "audit"),
    oracle="""
WITH ps AS (
  SELECT p.p_type, l.l_suppkey,
         SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)) AS cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
), tot AS (
  SELECT p_type, SUM(cents) AS t_cents, COUNT(*) AS n_suppliers
  FROM ps GROUP BY 1
)
SELECT ps.p_type,
       CAST(MAX(tot.n_suppliers) AS BIGINT) AS n_suppliers,
       ROUND(CAST(SUM(CAST(ROUND(POWER(CAST(ps.cents AS DOUBLE)
                                    / tot.t_cents, 2), 9) AS DECIMAL(18,9)))
             AS DOUBLE), 6) AS hhi
FROM ps JOIN tot ON ps.p_type = tot.p_type
GROUP BY 1 ORDER BY 1
""",
)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman supplier-concentration index per part type —
    the procurement-risk audit (HHI -> 1 means one supplier owns the
    category; 1/n means perfect competition). Shares divide exact
    integer cents in double and each squared share rounds into the sum
    only at the end (round-6 on the final sum, one double reduction of
    <=100 supplier terms per type — order within a type could matter for
    doubles, so terms are summed as round-9 decimals first). Shape: one
    fact scan, (type, supplier) aggregate, type marginals re-reduced
    from it, broadcast join back."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    ps = (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_type", "l_suppkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")).alias(
                "cents"
            )
        )
    )
    tot = ps.groupBy(F.col("p_type").alias("t_type")).agg(
        F.sum("cents").alias("t_cents"),
        F.count(F.lit(1)).alias("n_suppliers"),
    )
    share2 = F.pow(F.col("cents").cast("double") / F.col("t_cents"), 2)
    term = F.round(share2, 9).cast("decimal(18,9)")
    return (
        ps.join(F.broadcast(tot), ps.p_type == F.col("t_type"))
        .groupBy("p_type")
        .agg(
            F.max("n_suppliers").cast("long").alias("n_suppliers"),
            F.round(F.sum(term).cast("double"), 6).alias("hhi"),
        )
    )


@query(
    "segment_revenue_trend",
    tags=("agg", "regression", "window", "stats"),
    oracle="""
WITH monthly AS (
  SELECT c.c_mktsegment AS segment,
         (EXTRACT(YEAR FROM o.o_orderdate) - 1995) * 12
           + EXTRACT(MONTH FROM o.o_orderdate) AS x,
         SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), sums AS (
  SELECT segment, COUNT(*) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x * y) AS DOUBLE) AS sxy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx
  FROM monthly GROUP BY 1
)
SELECT segment,
       CAST(n AS BIGINT) AS n_months,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope_cents,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS intercept_cents
FROM sums ORDER BY segment
""",
)
def segment_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment OLS revenue trend line: slope of monthly revenue
    (cents) on month index — the 'is this segment growing' statistic,
    computed as closed-form normal equations over EXACT integer
    moments: x is an integer month index, y integer cents, so Sx, Sy,
    Sxy, Sxx are int64-exact regardless of shuffle order (and below
    2^53 each, so the final double conversions are value-preserving at
    these scales; at 1000x the data move the moments to decimal).
    Same pattern as doc_zipf_fit but grouped: one (segment, month)
    aggregate, one per-segment reduce — both map-side combined; no
    window, no join wider than orders x customer."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            (
                (F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate")
            ).cast("long").alias("x"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")).alias(
                "y"
            )
        )
    )
    sums = monthly.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        "segment",
        F.col("n").cast("long").alias("n_months"),
        F.round(slope, 6).alias("slope_cents"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / F.col("n"), 6
        ).alias("intercept_cents"),
    )


@query(
    "source_linegen_agg",
    tags=("source", "datasource-api", "agg"),
    oracle="""
WITH gen AS (
  SELECT i,
         md5(CAST(i AS VARCHAR)) AS key,
         (i % 997) / CAST(100 AS DOUBLE) AS amount
  FROM generate_series(0, 19999) t(i)
)
SELECT substr(key, 1, 1) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(amount * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
       CAST(MIN(i) AS BIGINT) AS min_i,
       CAST(MAX(i) AS BIGINT) AS max_i
FROM gen GROUP BY 1 ORDER BY 1
""",
)
def source_linegen_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over the custom Python DataSource (sources/linegen.py,
    Spark 4 ``pyspark.sql.datasource`` API): 20k generated ledger lines
    in 8 planned partitions, grouped by the md5-key's first nibble. The
    source is deterministic by construction, so DuckDB replays it with
    generate_series + md5 and the hash certifies the ENTIRE custom
    connector path — option parsing, partition planning, per-partition
    iterators on executors — not just the aggregate. (sf_dir is unused:
    the relation is synthesized, which is the point.)"""
    from financial_data_warehouse_automation_spark.sources.linegen import LineGenDataSource

    # runtime conf, not just session-factory default: the driver's gate
    # may hand us ITS OWN SparkSession, and a reader that implements
    # pushFilters() hard-errors when the flag is off
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:  # idempotent under repeated registration in one session
        spark.dataSource.register(LineGenDataSource)
    except Exception:
        pass
    gen = (
        spark.read.format("linegen")
        .option("rows", 20000)
        .option("numpartitions", 8)
        .load()
    )
    return (
        gen.groupBy(F.substring("key", 1, 1).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("amount") * 100, 0).cast("bigint")).alias(
                "cents"
            ),
            F.min("i").alias("min_i"),
            F.max("i").alias("max_i"),
        )
    )


@query(
    "source_linegen_stream_agg",
    tags=("source", "datasource-api", "streaming"),
    oracle="""
WITH gen AS (
  SELECT i,
         md5(CAST(i AS VARCHAR)) AS key,
         (i % 997) / CAST(100 AS DOUBLE) AS amount
  FROM generate_series(0, 19999) t(i)
)
SELECT substr(key, 1, 1) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(amount * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
       CAST(MIN(i) AS BIGINT) AS min_i,
       CAST(MAX(i) AS BIGINT) AS max_i
FROM gen GROUP BY 1 ORDER BY 1
""",
)
def source_linegen_stream_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom connector's STREAMING path (SimpleDataSourceStreamReader
    in sources/linegen.py): the same 20k-row relation arrives as 4k-row
    micro-batches with checkpointed {'i': n} offsets, drains into a
    memory sink, and must aggregate to the identical oracle as the
    batch read (source_linegen_agg) — one generator, two access paths,
    one hash. Exactly-once here means the drained union of micro-batch
    appends is exactly [0, 20000): a duplicated or dropped batch shifts
    every bucket count. (sf_dir unused: the relation is synthesized.)"""
    from financial_data_warehouse_automation_spark.sources.linegen import LineGenDataSource

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        spark.dataSource.register(LineGenDataSource)
    except Exception:
        pass
    for q in spark.streams.active:
        if q.name == "linegen_drain":
            q.stop()
            q.awaitTermination()
    stream = (
        spark.readStream.format("linegen")
        .option("batchrows", 4000)
        .option("maxrows", 20000)
        .load()
    )
    handle = (
        stream.writeStream.format("memory")
        .queryName("linegen_drain")
        .outputMode("append")
        .start()
    )
    try:
        # r16: processAllAvailable replaces the 0.25s count-polling
        # loop — every poll was a full Spark job over the growing
        # memory sink (up to ~10 per drain). The source is BOUNDED
        # (maxrows caps latestOffset at 20000), so the engine-side
        # wait returns exactly when the sink holds the full relation;
        # the exactly-once row-count gate below still runs once.
        handle.processAllAvailable()
    finally:
        handle.stop()
        handle.awaitTermination()
    drained = spark.table("linegen_drain").count()
    if drained != 20000:
        raise RuntimeError(
            f"linegen stream drained {drained}/20000 rows — refusing to "
            "return a partial aggregate (it would surface as a confusing "
            "oracle hash mismatch)"
        )
    return (
        spark.table("linegen_drain")
        .groupBy(F.substring("key", 1, 1).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("amount") * 100, 0).cast("bigint")).alias(
                "cents"
            ),
            F.min("i").alias("min_i"),
            F.max("i").alias("max_i"),
        )
    )


@query(
    "orders_installments_udtf",
    tags=("udtf", "explode", "finance"),
    oracle="""
SELECT o.o_orderkey AS orderkey,
       CAST(k AS BIGINT) AS installment_no,
       CAST(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) // 3
            + CASE WHEN k = 1
                   THEN CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) % 3
                   ELSE 0 END AS BIGINT) AS installment_cents,
       CAST(o.o_orderdate + TO_MONTHS(CAST(k - 1 AS INTEGER)) AS DATE)
         AS due_date
FROM orders o, LATERAL (
  SELECT unnest(generate_series(1, 3)) AS k
) t
WHERE o.o_totalprice >= 400000
ORDER BY orderkey, installment_no
""",
)
def orders_installments_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 ``@udtf``, arrow-enabled): expand each
    large order into a 3-installment payment schedule — one input row
    to N output rows with per-row arithmetic, the table-function
    extension point (SURVEY §2.10 UDF escape-hatch matrix: scalar UDF /
    pandas UDF / mapInPandas / applyInPandasWithState / DataSource are
    all exercised elsewhere; this is the remaining surface). Integer
    cents split exactly: each installment gets cents//3 and the first
    carries the remainder, so the schedule reconciles to the order
    total bit-for-bit (pinned in pytest). The lateral expansion is
    row-local — no shuffle at all until the final sort; at 100 TB the
    UDTF runs inside the scan stage like any generator."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="installment_no bigint, installment_cents bigint, "
                     "due_month_offset int")
    class Installments:
        def eval(self, cents: int, parts: int):
            base, rem = divmod(cents, parts)
            for k in range(1, parts + 1):
                yield k, base + (rem if k == 1 else 0), k - 1

    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice") >= 400000
    )
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    exploded = o.select(
        F.col("o_orderkey").alias("orderkey"),
        "o_orderdate",
        cents.alias("cents"),
    ).lateralJoin(
        Installments(F.col("cents").outer(), lit(3)).alias("i")
    )
    return exploded.select(
        "orderkey",
        F.col("installment_no"),
        F.col("installment_cents"),
        F.add_months(F.col("o_orderdate"), F.col("due_month_offset"))
        .cast("date")
        .alias("due_date"),
    )


@query(
    "part_copurchase_triangles",
    tags=("graph", "join", "triangles"),
    oracle="""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT a.l_partkey AS a, b.l_partkey AS b
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
)
SELECT e1.a AS part_a, e1.b AS part_b, e2.b AS part_c
FROM e e1
JOIN e e2 ON e1.b = e2.a
JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
ORDER BY part_a, part_b, part_c
""",
)
def part_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration in the co-purchase graph (edges = part
    pairs co-bought in >= 2 orders): the classic distributed graph-join
    pattern — orient every edge low->high so each triangle is counted
    exactly once, build length-2 paths by joining edges on the middle
    vertex, then close them against the edge set. Complements the
    dedup band's connected components (operators/graph.py) with a
    local-structure statistic (clustering/bundle detection). Scale:
    path fan-out is sum of deg(v)^2 over the ORIENTED graph — the
    low->high orientation caps effective degree, the standard
    mitigation; every join is an equi-join on vertex keys, and edge
    generation reuses the basket-bounded pair expansion of
    part_basket_affinity (never parts x parts). The edge list is
    built ONCE and localCheckpoint'ed: the 3-way triangle join
    references it three times, and Spark re-evaluates shared
    subplans, so the distinct+self-join+groupBy over lineitem would
    otherwise run 3x for a relation that is ~1% of lineitem (the
    part_reach_3hops lineage cut; sf1 8.3s -> ~4s)."""
    from financial_data_warehouse_automation_spark.operators.graph import copurchase_edges

    edges = copurchase_edges(spark, sf_dir)
    e1 = edges.select(F.col("a").alias("t_a"), F.col("b").alias("t_b"))
    e2 = edges.select(F.col("a").alias("m_a"), F.col("b").alias("t_c"))
    e3 = edges.select(F.col("a").alias("c_a"), F.col("b").alias("c_b"))
    return (
        e1.join(e2, F.col("t_b") == F.col("m_a"))
        .join(e3, (F.col("c_a") == F.col("t_a")) & (F.col("c_b") == F.col("t_c")))
        .select(
            F.col("t_a").alias("part_a"),
            F.col("t_b").alias("part_b"),
            F.col("t_c").alias("part_c"),
        )
    )


@query(
    "part_pagerank_step",
    tags=("graph", "join", "pagerank", "iterative"),
    oracle="""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS (
  SELECT a.l_partkey AS a, b.l_partkey AS b
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
e AS (SELECT a AS src, b AS dst FROM e0
      UNION ALL SELECT b AS src, a AS dst FROM e0),
deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY 1),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
r0 AS (
  SELECT node, deg, CAST(1.0 AS DOUBLE) / nn.n AS r
  FROM deg CROSS JOIN nn
),
s1 AS (
  SELECT e.dst AS node,
         SUM(CAST(ROUND(r0.r / r0.deg, 9) AS DECIMAL(18,9))) AS s
  FROM e JOIN r0 ON e.src = r0.node GROUP BY 1
),
r1 AS (
  SELECT d.node, d.deg,
         ROUND(CAST(0.15 AS DOUBLE) / nn.n
               + CAST(0.85 AS DOUBLE) * CAST(s1.s AS DOUBLE), 9) AS r
  FROM deg d JOIN s1 ON d.node = s1.node CROSS JOIN nn
),
s2 AS (
  SELECT e.dst AS node,
         SUM(CAST(ROUND(r1.r / r1.deg, 9) AS DECIMAL(18,9))) AS s
  FROM e JOIN r1 ON e.src = r1.node GROUP BY 1
),
r2 AS (
  SELECT d.node, d.deg,
         ROUND(CAST(0.15 AS DOUBLE) / nn.n
               + CAST(0.85 AS DOUBLE) * CAST(s2.s AS DOUBLE), 9) AS r
  FROM deg d JOIN s2 ON d.node = s2.node CROSS JOIN nn
)
SELECT node AS part, deg, r AS pagerank
FROM r2 ORDER BY pagerank DESC, part LIMIT 20
""",
)
def part_pagerank_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two power-iteration steps of PageRank (d = 0.85) over the
    co-purchase graph — the canonical distributed iterative-graph
    pattern (each step is ONE edges-to-ranks equi-join plus ONE
    aggregate keyed on the destination vertex; Pregel/GraphX reduces to
    exactly this under the hood). The graph reuses
    part_copurchase_triangles' basket-bounded edge derivation (part
    pairs co-bought in >= 2 orders, never parts x parts); the
    undirected edge set means every node has deg >= 1, so there is no
    dangling-mass term. Determinism: the per-edge contribution r/deg
    rounds to DECIMAL(18,9) BEFORE the destination sum (exact,
    shuffle-order independent — the doubles-in-any-order trap an
    unrounded PageRank has); the damping update is a single double
    expression per node, rounded at unit scale. The top-20 cut is
    TakeOrderedAndProject. At 100x edges each iteration is still one
    shuffle on the vertex key; rank state is O(nodes), never collected
    to the driver (the node-count scalar is the only broadcast)."""
    from financial_data_warehouse_automation_spark.operators.graph import copurchase_edges

    # the shared memoized edge build (one per session, checkpointed);
    # the symmetrized relation still gets its own cut — e feeds deg
    # plus one join PER power step, and Spark re-evaluates shared
    # subplans (8.4s -> ~4s at sf1 without it).
    e0 = copurchase_edges(spark, sf_dir)
    e = e0.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        e0.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    e = cut(e, eager=True)
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    nn = deg.agg(F.count(F.lit(1)).alias("n"))

    r = deg.crossJoin(F.broadcast(nn)).select(
        "node", "deg", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(2):
        contrib = e.join(r, e.src == r.node).select(
            F.col("dst"),
            F.round(F.col("r") / F.col("deg"), 9)
            .cast("decimal(18,9)")
            .alias("c"),
        )
        s = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        r = (
            deg.join(s, F.col("node") == F.col("dst"))
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                "deg",
                F.round(
                    F.lit(0.15) / F.col("n")
                    + F.lit(0.85) * F.col("s").cast("double"),
                    9,
                ).alias("r"),
            )
        )
    return (
        r.orderBy(F.desc("r"), "node")
        .limit(20)
        .select(
            F.col("node").alias("part"), "deg", F.col("r").alias("pagerank")
        )
    )


@query(
    "monthly_revenue_seasonality",
    tags=("agg", "timeseries", "decomposition", "stats"),
    oracle="""
WITH monthly AS (
  SELECT (EXTRACT(YEAR FROM o_orderdate) - 1995) * 12
           + EXTRACT(MONTH FROM o_orderdate) AS x,
         EXTRACT(MONTH FROM o_orderdate) AS cal_month,
         SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS y
  FROM orders GROUP BY 1, 2
), fit AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x * y) AS DOUBLE) AS sxy, CAST(SUM(x * x) AS DOUBLE) AS sxx
  FROM monthly
), coef AS (
  SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
         (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
           AS intercept
  FROM fit
), resid AS (
  SELECT m.cal_month,
         CAST(ROUND(m.y - (c.intercept + c.slope * m.x), 2)
              AS DECIMAL(24,2)) AS r
  FROM monthly m CROSS JOIN coef c
)
SELECT cal_month,
       CAST(COUNT(*) AS BIGINT) AS n_years,
       ROUND(CAST(SUM(r) AS DOUBLE) / COUNT(*), 2) AS seasonal_cents
FROM resid GROUP BY 1 ORDER BY 1
""",
)
def monthly_revenue_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition, step 2: detrend total monthly
    revenue with the exact-integer-moment OLS line (the
    segment_revenue_trend machinery, unsegmented) and average the
    residuals per calendar month — the seasonal index that answers
    'is December really bigger, or is that just growth?'. Residuals
    are rounded to 2 (cents scale — round-6 at ~1e10 magnitude exceeds
    double precision, the registry's scale-the-ROUND rule; that exact
    divergence was caught by the sf0.1 sweep in round 4) and
    accumulated as exact decimals before the
    final double division, so the per-month means are shuffle-order
    independent. Shape: one month-grain aggregate, a single-row
    coefficient broadcast, and a 12-row reduce."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (
            (F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate")
        ).cast("long").alias("x"),
        F.month("o_orderdate").cast("long").alias("cal_month"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")).alias("y")
    )
    fit = monthly.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    coef = fit.select(
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("intercept"),
    )
    resid = monthly.crossJoin(F.broadcast(coef)).select(
        "cal_month",
        F.round(
            F.col("y") - (F.col("intercept") + F.col("slope") * F.col("x")), 2
        ).cast("decimal(24,2)").alias("r"),
    )
    return (
        resid.groupBy("cal_month")
        .agg(
            F.count(F.lit(1)).alias("n_years"),
            F.round(F.sum("r").cast("double") / F.count(F.lit(1)), 2).alias(
                "seasonal_cents"
            ),
        )
    )


@query(
    "customer_ltv_cohorts",
    tags=("agg", "cohort", "window", "ltv"),
    oracle="""
WITH firsts AS (
  SELECT o_custkey,
         MIN((EXTRACT(YEAR FROM o_orderdate) - 1995) * 12
             + EXTRACT(MONTH FROM o_orderdate)) AS cohort_m
  FROM orders GROUP BY 1
), spend AS (
  SELECT o.o_custkey, f.cohort_m,
         (EXTRACT(YEAR FROM o.o_orderdate) - 1995) * 12
           + EXTRACT(MONTH FROM o.o_orderdate) - f.cohort_m AS age_m,
         CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
)
SELECT cohort_m, age_m,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_active,
       CAST(SUM(cents) AS BIGINT) AS revenue_cents
FROM spend
WHERE age_m <= 11
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def customer_ltv_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifetime-value cohort matrix: customers grouped by
    first-order month, revenue and active count tracked by months since
    acquisition (the retention/LTV triangle every warehouse report
    stack draws). The first-order month is ONE aggregate re-joined to
    the fact — not a window over the fact (a min-window would re-sort
    the whole orders table; the aggregate+join shuffles the same key
    once and AQE can broadcast the per-customer dim at small scale).
    Exact integer cents; month index arithmetic is integral end to
    end. Truncated to the first year of each cohort's life to keep the
    matrix dense."""
    o = load_table(spark, sf_dir, "orders")
    midx = ((F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate")).cast(
        "long"
    )
    firsts = o.groupBy(F.col("o_custkey").alias("f_cust")).agg(
        F.min(midx).alias("cohort_m")
    )
    spend = o.join(firsts, o.o_custkey == F.col("f_cust")).select(
        "o_custkey",
        "cohort_m",
        (midx - F.col("cohort_m")).alias("age_m"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    return (
        spend.where(F.col("age_m") <= 11)
        .groupBy("cohort_m", "age_m")
        .agg(
            F.count_distinct("o_custkey").alias("n_active"),
            F.sum("cents").alias("revenue_cents"),
        )
    )


@query(
    "customer_rfm_segments",
    tags=("agg", "rfm", "percentile", "scoring"),
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
         MAX(o_orderdate) AS last_order,
         COUNT(*) AS freq,
         SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS monetary
  FROM orders GROUP BY 1
), scored AS (
  SELECT o_custkey,
         DATEDIFF('day', last_order, TIMESTAMP '1998-08-02') AS rec_days,
         freq, monetary
  FROM per_cust
), ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY rec_days, o_custkey) AS r_rn,
         ROW_NUMBER() OVER (ORDER BY freq DESC, o_custkey) AS f_rn,
         ROW_NUMBER() OVER (ORDER BY monetary DESC, o_custkey) AS m_rn,
         COUNT(*) OVER () AS n
  FROM scored
), coded AS (
  SELECT o_custkey,
         LEAST(((r_rn - 1) * 4) // n + 1, 4) AS r_score,
         LEAST(((f_rn - 1) * 4) // n + 1, 4) AS f_score,
         LEAST(((m_rn - 1) * 4) // n + 1, 4) AS m_score
  FROM ranked
)
SELECT r_score, f_score, m_score,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM coded GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
""",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every customer scored 1-4 on Recency,
    Frequency and Monetary value by exact quartile of rank (score =
    (rank-1)*4 // n + 1 — pure integer arithmetic over ROW_NUMBER with
    deterministic tiebreaks, NOT ntile, whose remainder-distribution
    rules differ between engines), then the 64-cell segment census.
    Each of the three ranks is the TWO-PASS bucket-offset global
    row_number (operators/ranks.py, the part_abc_pareto pattern): a
    32-band value bucketing, per-bucket counts folded into a <=32-row
    broadcast of cumulative offsets, then row_number WITHIN each
    bucket — no partition-less window anywhere, so the plan's widest
    sort is one bucket, not all customers (round-4 verdict item #2).
    n arrives as a single-row broadcast. Anchor date is the dataset's
    epoch end, so recency is reproducible."""
    from financial_data_warehouse_automation_spark.operators.ranks import global_row_number

    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")).alias(
            "monetary"
        ),
    )
    scored = per_cust.select(
        "o_custkey",
        F.datediff(F.lit("1998-08-02").cast("date"), F.col("last_order")).alias(
            "rec_days"
        ),
        "freq",
        "monetary",
    )
    tb = ("o_custkey",)
    ranked = global_row_number(scored, "rec_days", tb, "r_rn")
    ranked = global_row_number(ranked, "freq", tb, "f_rn", descending=True)
    ranked = global_row_number(ranked, "monetary", tb, "m_rn", descending=True)
    n_row = scored.agg(F.count(F.lit(1)).alias("n"))
    ranked = ranked.crossJoin(F.broadcast(n_row))

    def score(rn):
        return F.least(
            F.floor((F.col(rn) - 1) * 4 / F.col("n")).cast("long") + 1, F.lit(4)
        )

    return (
        ranked.select(
            score("r_rn").alias("r_score"),
            score("f_rn").alias("f_score"),
            score("m_rn").alias("m_score"),
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "orders_psi_drift",
    tags=("agg", "drift", "audit", "stats"),
    oracle="""
WITH mix AS (
  SELECT EXTRACT(YEAR FROM o_orderdate) AS year,
         o_orderpriority AS bucket, COUNT(*) AS n
  FROM orders GROUP BY 1, 2
), year_tot AS (
  SELECT year, SUM(n) AS yn FROM mix GROUP BY 1
), base AS (
  SELECT bucket, SUM(n) AS bn FROM mix GROUP BY 1
), base_tot AS (SELECT SUM(bn) AS tn FROM base)
SELECT m.year,
       CAST(SUM(CAST(ROUND(
         (CAST(m.n AS DOUBLE) / y.yn - CAST(b.bn AS DOUBLE) / t.tn)
           * LN((CAST(m.n AS DOUBLE) / y.yn)
                / (CAST(b.bn AS DOUBLE) / t.tn)), 6) AS DECIMAL(18,6)))
         AS DOUBLE) AS psi
FROM mix m
JOIN year_tot y ON m.year = y.year
JOIN base b ON m.bucket = b.bucket
CROSS JOIN base_tot t
GROUP BY 1 ORDER BY 1
""",
)
def orders_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the order-priority mix, per year
    against the all-time baseline — THE production drift metric for
    categorical features feeding ML models (PSI > 0.1 = investigate,
    > 0.25 = shifted). Same determinism treatment as doc_kl_divergence
    (PSI is symmetrized KL): unit-scale per-bucket terms rounded to 6
    then accumulated as exact decimals. Shape: one (year, bucket)
    census; every marginal re-reduces it; the fact table is scanned
    once."""
    o = load_table(spark, sf_dir, "orders")
    mix = o.groupBy(
        F.year("o_orderdate").cast("long").alias("year"),
        F.col("o_orderpriority").alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("n"))
    year_tot = mix.groupBy(F.col("year").alias("y_year")).agg(
        F.sum("n").alias("yn")
    )
    base = mix.groupBy(F.col("bucket").alias("b_bucket")).agg(
        F.sum("n").alias("bn")
    )
    base_tot = base.agg(F.sum("bn").alias("tn"))
    p = F.col("n").cast("double") / F.col("yn")
    q = F.col("bn").cast("double") / F.col("tn")
    term = F.round((p - q) * F.log(p / q), 6).cast("decimal(18,6)")
    return (
        mix.join(F.broadcast(year_tot), mix.year == F.col("y_year"))
        .join(F.broadcast(base), mix.bucket == F.col("b_bucket"))
        .crossJoin(F.broadcast(base_tot))
        .groupBy("year")
        .agg(F.sum(term).cast("double").alias("psi"))
    )


@query(
    "customer_revenue_gini",
    tags=("agg", "stats", "inequality", "window"),
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
         SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
), ranked AS (
  SELECT cents,
         ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS rnk
  FROM per_cust
), moments AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS s,
         CAST(SUM(rnk * cents) AS BIGINT) AS rs
  FROM ranked
)
SELECT n AS n_customers,
       ROUND(CAST(2 * rs AS DOUBLE) / (CAST(n AS DOUBLE) * s)
             - CAST(n + 1 AS DOUBLE) / n, 6) AS gini
FROM moments
""",
)
def customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue — the individual-grain
    inequality statistic (the category-grain sibling is
    supplier_concentration_hhi): via the rank identity
    G = 2*sum(rank*y) / (n*sum(y)) - (n+1)/n over ascending-sorted
    values, every moment is an exact int64 (rank*cents <= ~1e17 at
    these scales; move to decimal beyond) and only the final two
    divisions run in double, rounded at unit scale. The rank is the
    TWO-PASS bucket-offset global row_number (operators/ranks.py, the
    part_abc_pareto pattern): 32 value bands, a <=32-row broadcast of
    cumulative offsets, row_number within bucket — no partition-less
    window, so the widest sort in the plan is one revenue band, not
    every customer (round-4 verdict item #3)."""
    from financial_data_warehouse_automation_spark.operators.ranks import global_row_number

    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")).alias(
            "cents"
        )
    )
    ranked = global_row_number(per_cust, "cents", ("o_custkey",), "rnk").select(
        "cents", "rnk"
    )
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("rnk") * F.col("cents")).alias("rs"),
    )
    return m.select(
        F.col("n").cast("long").alias("n_customers"),
        F.round(
            (2 * F.col("rs")).cast("double")
            / (F.col("n").cast("double") * F.col("s"))
            - (F.col("n") + 1).cast("double") / F.col("n"),
            6,
        ).alias("gini"),
    )


@query(
    "order_equidepth_bins",
    tags=("agg", "histogram", "feature-engineering", "two-pass"),
    oracle="""
WITH v AS (
  SELECT o_orderkey,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
), ranked AS (
  SELECT o_orderkey, cents,
         ROW_NUMBER() OVER (ORDER BY cents, o_orderkey) AS rnk,
         COUNT(*) OVER () AS n
  FROM v
)
SELECT CAST((rnk - 1) * 16 // n AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(cents) AS BIGINT) AS lo_cents,
       CAST(MAX(cents) AS BIGINT) AS hi_cents,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM ranked GROUP BY 1 ORDER BY 1
""",
)
def order_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) binning of order value into 16 buckets —
    the feature-engineering discretization step (each bin holds the
    same row count, so downstream models see a balanced categorical;
    contrast order_value_histogram's fixed-WIDTH bins). bin =
    (rank-1)*16 // n, pure integer arithmetic over the exact global
    rank — and the rank is the two-pass bucket-offset row_number
    (operators/ranks.py), so unlike an NTILE over an unpartitioned
    window the plan's widest sort is one of 32 value bands, not all
    orders. n arrives as a single-row broadcast. The per-bin min/max
    are the learned bin EDGES a scorer would broadcast; sum_cents
    checksums membership of every row."""
    from financial_data_warehouse_automation_spark.operators.ranks import global_row_number

    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    ranked = global_row_number(v, "cents", ("o_orderkey",), "rnk")
    n_row = v.agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.crossJoin(F.broadcast(n_row))
        .groupBy(
            F.floor((F.col("rnk") - 1) * 16 / F.col("n"))
            .cast("bigint")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
            F.sum("cents").alias("sum_cents"),
        )
    )


def morton_interleave16(xn, yn):
    """Morton (Z-curve) interleave of two 16-bit-normalized int64
    columns — x bits land in even positions, y bits in odd; unrolled
    into pure column bit math so it rides whole-stage codegen (shared
    by orders_zorder_layout's locality stats and
    orders_zorder_fileskip_2d's clustered write)."""
    zval = None
    for i in range(16):
        xt = F.shiftleft(F.shiftrightunsigned(xn, i) % 2, 2 * i)
        yt = F.shiftleft(F.shiftrightunsigned(yn, i) % 2, 2 * i + 1)
        term = xt + yt
        zval = term if zval is None else zval + term
    return zval


def _zorder_sql() -> str:
    """DuckDB twin of the Morton interleave below — same normalization
    and unrolled bit expression, pure int64 (both engines' <<, >>, &
    and // agree on non-negative operands)."""
    x_terms = " + ".join(
        f"(((xn >> {i}) & 1) << {2 * i})" for i in range(16)
    )
    y_terms = " + ".join(
        f"(((yn >> {i}) & 1) << {2 * i + 1})" for i in range(16)
    )
    return f"""
WITH base AS (
  SELECT o_custkey AS x,
         CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS y,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
), mx AS (
  SELECT MAX(x) AS mx, MAX(y) AS my FROM base
), norm AS (
  SELECT x, y, cents,
         (x * 65536) // (m.mx + 1) AS xn,
         (y * 65536) // (m.my + 1) AS yn
  FROM base CROSS JOIN mx m
), z AS (
  SELECT x, y, cents, ({x_terms}) + ({y_terms}) AS zval
  FROM norm
)
SELECT CAST(zval >> 27 AS BIGINT) AS zbucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(x) AS BIGINT) AS min_cust, CAST(MAX(x) AS BIGINT) AS max_cust,
       CAST(MIN(y) AS BIGINT) AS min_day, CAST(MAX(y) AS BIGINT) AS max_day,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM z GROUP BY 1 ORDER BY 1
"""


@query(
    "orders_zorder_layout",
    tags=("layout", "zorder", "clustering", "data-skipping"),
    oracle=_zorder_sql(),
)
def orders_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering key over (custkey, order day)
    — the multi-dimensional data-layout lever behind parquet row-group
    skipping: writing files in zval order bounds BOTH dimensions\'
    min/max inside every file, so a later scan filtered on EITHER
    customer or date range prunes most files (a single-column sort
    only bounds one). Both dimensions normalize to 16-bit range by
    exact integer scaling (scale-invariant: the same 32 buckets at
    any SF), then interleave as an unrolled pure-int64 bit expression
    (no UDF, identical in DuckDB). Each top-5-bit zbucket = what one
    z-sorted file\'s footer stats would show; tests/test_round4_ops.py
    asserts every bucket\'s custkey span <= global/4 and day span <=
    global/8 — exactly the locality data skipping depends on. Shape:
    scan -> single-row max broadcast -> map-side bit math -> one
    32-key aggregate; no sort is needed to MEASURE the layout (an
    actual rewrite would repartitionByRange on zval — an intentional
    shuffle)."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_custkey").alias("x"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("y"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    mx = base.agg(F.max("x").alias("mx"), F.max("y").alias("my"))
    norm = base.crossJoin(F.broadcast(mx)).select(
        "x",
        "y",
        "cents",
        F.floor(F.col("x") * 65536 / (F.col("mx") + 1)).cast("long").alias("xn"),
        F.floor(F.col("y") * 65536 / (F.col("my") + 1)).cast("long").alias("yn"),
    )
    z = norm.withColumn("zval", morton_interleave16(F.col("xn"), F.col("yn")))
    return (
        z.groupBy(
            F.shiftrightunsigned(F.col("zval"), 27).cast("bigint").alias("zbucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("x").alias("min_cust"),
            F.max("x").alias("max_cust"),
            F.min("y").alias("min_day"),
            F.max("y").alias("max_day"),
            F.sum("cents").alias("sum_cents"),
        )
    )


def _rm_warehouse_dir(spark: SparkSession, table: str) -> None:
    """Remove a managed table's leftover warehouse directory — the
    classic "managed table already exists over a previous session's
    location" guard. A local-filesystem warehouse (file:// or bare
    path) takes the shutil fast path; any other scheme (hdfs://,
    s3a://, ...) goes through the Hadoop FileSystem API so the cleanup
    actually happens instead of shutil silently no-opping on a path
    that doesn't exist locally (r9 advisor finding)."""
    import shutil
    from urllib.parse import urlparse

    wh = spark.conf.get("spark.sql.warehouse.dir")
    parsed = urlparse(wh)
    if parsed.scheme in ("", "file"):
        shutil.rmtree(os.path.join(parsed.path, table), ignore_errors=True)
        return
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(wh.rstrip("/") + "/" + table)
    fs = path.getFileSystem(hconf)
    fs.delete(path, True)  # recursive; False (absent) is fine


# Bucketed-table layout, written once per (session, sf_dir) and
# memoized like operators/graph.py's _EDGE_CACHE: the LAYOUT is the
# amortized artifact (a production warehouse buckets its fact tables
# at ingest, then every subsequent join rides the layout), so the
# registered query measures the co-located JOIN, not the one-time
# write. No memo bypass for audit mode is needed — the bucketed scan
# IS the plan under audit (there is no checkpoint to see through).
_BUCKETED_PAIR_CACHE: dict[tuple[str, str], tuple[str, str]] = {}


def _bucketed_li_orders(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    import re as _re

    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _BUCKETED_PAIR_CACHE:
        return _BUCKETED_PAIR_CACHE[key]
    tag = _re.sub(r"\W+", "_", sf_dir).strip("_").lower()
    li_name, ord_name = f"li_bucketed_{tag}", f"ord_bucketed_{tag}"
    # a PREVIOUS session's managed-table directory survives in
    # spark-warehouse while the in-memory catalog does not — creating
    # the table fresh over that leftover location is the classic
    # "managed table already exists" failure; drop + clear first
    for t in (li_name, ord_name):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        _rm_warehouse_dir(spark, t)
    (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(li_name)
    )
    (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(ord_name)
    )
    for k in [k for k in _BUCKETED_PAIR_CACHE if k[0] != key[0]]:
        del _BUCKETED_PAIR_CACHE[k]
    _BUCKETED_PAIR_CACHE[key] = (li_name, ord_name)
    return li_name, ord_name


@query(
    "bucketed_join_colocated",
    tags=("layout", "bucketing", "join", "shuffle-free"),
    oracle=f"""
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM({sql_money('l.l_extendedprice')}
                * (CAST(1.0 AS DECIMAL(2,1)) - {sql_rate('l.l_discount')}))
            AS DOUBLE) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1 ORDER BY 1
""",
)
def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-located fact-to-fact join — THE amortized shuffle lever
    for 100 TB: lineitem and orders are written ONCE as bucketed
    tables (8 buckets, hash(l_orderkey) == hash(o_orderkey) rows land
    in same-numbered files, sorted within each bucket), after which
    EVERY orderkey join between them is exchange-free — the
    sort-merge join reads matching bucket files directly, so the only
    shuffle in this whole query is the final 5-group priority
    aggregate. tests/test_plan_hygiene.py proves it structurally:
    the SortMergeJoin subtree of THIS plan contains zero
    ShuffleExchange nodes (and zero Sorts beyond the bucket-local
    ones), while the same join over the raw parquet shows two.
    The MERGE hint pins the join strategy so the demonstration can't
    silently degrade to a broadcast at small SF; at production scale
    SMJ is what AQE would pick anyway for fact-to-fact. At 100 TB the
    bucket count scales to O(cluster cores) and the layout amortizes
    across every downstream orderkey join, the same trade as the
    reference's one-time bronze conversion (python_version/
    build_warehouse.py:112-126: convert once, query forever)."""
    li_name, ord_name = _bucketed_li_orders(spark, sf_dir)
    li, od = spark.table(li_name), spark.table(ord_name)
    one = F.lit("1.0").cast("decimal(2,1)")
    revenue = money("l_extendedprice") * (one - rate("l_discount"))
    return (
        li.hint("merge")
        .join(od, li.l_orderkey == od.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(revenue).alias("revenue"),
        )
    )


# Month-partitioned orders table, written once per (session, sf_dir)
# — the DPP demonstration's layout artifact, memoized exactly like
# _BUCKETED_PAIR_CACHE above.
_PARTITIONED_ORDERS_CACHE: dict[tuple[str, str], str] = {}


def _month_partitioned_orders(spark: SparkSession, sf_dir: str) -> str:
    import re as _re

    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _PARTITIONED_ORDERS_CACHE:
        return _PARTITIONED_ORDERS_CACHE[key]
    tag = _re.sub(r"\W+", "_", sf_dir).strip("_").lower()
    name = f"ord_by_month_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    _rm_warehouse_dir(spark, name)
    (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        .write.partitionBy("month")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(name)
    )
    for k in [k for k in _PARTITIONED_ORDERS_CACHE if k[0] != key[0]]:
        del _PARTITIONED_ORDERS_CACHE[k]
    _PARTITIONED_ORDERS_CACHE[key] = name
    return name


def _month_dim(spark: SparkSession) -> DataFrame:
    """Static calendar dim (month -> quarter), 1992-01..1998-12 — the
    tiny broadcast side whose filter DPP pushes into the fact scan."""
    rows = [
        (f"{y}-{m:02d}", f"{y}-Q{(m - 1) // 3 + 1}")
        for y in range(1992, 1999)
        for m in range(1, 13)
    ]
    return spark.createDataFrame(rows, "month string, quarter string")


@query(
    "partitioned_join_dpp",
    tags=("layout", "partitioning", "dpp", "join"),
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders
WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-04-01'
GROUP BY 1 ORDER BY 1
""",
)
def partitioned_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC PARTITION PRUNING — the second half of the layout story
    bucketed_join_colocated starts: orders are written once per
    session PARTITIONED BY month (the hive-style layout a 100 TB fact
    table actually has), then joined to a tiny calendar dim filtered
    to one quarter. The quarter predicate lives on the DIM — no
    static filter mentions the fact's partition column — yet Catalyst
    injects a dynamicpruningexpression subquery into the fact scan's
    PartitionFilters, so the scan reads the 3 matching month
    directories out of ~81 instead of the whole table. That runtime
    dim-filter-to-fact-prune is THE mechanism star-schema queries
    live on at scale; tests/test_plan_hygiene.py pins it
    structurally (the scan node carries dynamicpruning, and a
    post-execution partition count proves 3 of 81, not 81). The dim
    broadcasts (84 rows); the only shuffle is the final 5-group
    aggregate. Oracle: the same quarter expressed as a static date
    range on the raw table — DPP must not change values, only I/O."""
    fact = spark.table(_month_partitioned_orders(spark, sf_dir))
    # select month ONLY before the join: physical DPP planning reuses
    # the join's broadcast iff its child canonically equals the
    # subquery's Project[month] — with quarter still in the build side
    # the reuse check fails and the filter silently degrades to
    # dynamicpruningexpression(true), i.e. a full 80-partition scan
    # (measured: 80 -> 3 partitions with this projection)
    dim = (
        _month_dim(spark)
        .where(F.col("quarter") == "1995-Q1")
        .select("month")
    )
    return (
        fact.join(dim.hint("broadcast"), "month")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
            ).alias("cents"),
        )
    )


@query(
    "source_linegen_pushdown_agg",
    tags=("source", "datasource-api", "pushdown", "agg"),
    oracle="""
WITH gen AS (
  SELECT i,
         md5(CAST(i AS VARCHAR)) AS key,
         (i % 997) / CAST(100 AS DOUBLE) AS amount
  FROM generate_series(0, 19999) t(i)
)
SELECT substr(key, 1, 1) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(amount * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
       CAST(MIN(i) AS BIGINT) AS min_i,
       CAST(MAX(i) AS BIGINT) AS max_i
FROM gen WHERE i >= 5000 AND i < 15000
GROUP BY 1 ORDER BY 1
""",
)
def source_linegen_pushdown_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """source_linegen_agg's filtered sibling, exercising the Spark 4.1
    Python DataSource FILTER PUSHDOWN API: the ``i`` range predicate
    reaches LineGenReader.pushFilters, which narrows the generated key
    space itself — partitions() plans only [5000, 15000) and executors
    never materialize an out-of-range row (a real connector turns the
    same filters into WHERE clauses or offset seeks; the unit pin is in
    tests/test_sources.py). The oracle applies the identical predicate
    to the DuckDB replay, so the hash certifies that pushdown changed
    WHERE the filtering happens, not WHAT survives it. (sf_dir unused:
    the relation is synthesized.)"""
    from financial_data_warehouse_automation_spark.sources.linegen import LineGenDataSource

    # runtime conf, not just session-factory default: the driver's gate
    # may hand us ITS OWN SparkSession, and a reader that implements
    # pushFilters() hard-errors when the flag is off
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:  # idempotent under repeated registration in one session
        spark.dataSource.register(LineGenDataSource)
    except Exception:
        pass
    gen = (
        spark.read.format("linegen")
        .option("rows", 20000)
        .option("numpartitions", 8)
        .load()
        .where((F.col("i") >= 5000) & (F.col("i") < 15000))
    )
    return (
        gen.groupBy(F.substring("key", 1, 1).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("amount") * 100, 0).cast("bigint")).alias(
                "cents"
            ),
            F.min("i").alias("min_i"),
            F.max("i").alias("max_i"),
        )
    )


_REACH_EDGE_SQL = """
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e0 AS (
  SELECT a.l_partkey AS a, b.l_partkey AS b
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
)
SELECT a AS src, b AS dst FROM e0
UNION ALL SELECT b AS src, a AS dst FROM e0
"""

# The BFS text proper. {prelude} inlines the edge CTEs in the oracle
# and is empty on the Spark side; {e} is the edge relation — the
# materialized temp view in Spark, the `e` CTE in the oracle. The walk
# text itself is engine-identical.
_REACH_WALK_SQL = """
WITH RECURSIVE {prelude}seeds AS (
  SELECT src AS seed FROM (
    SELECT src, COUNT(*) AS dg FROM {e} GROUP BY 1
    ORDER BY dg DESC, src LIMIT 20
  ) hubs
), walk(seed, node, hop) AS (
  SELECT seed, seed, 0 FROM seeds
  UNION ALL
  SELECT DISTINCT w.seed, e.dst, w.hop + 1
  FROM walk w JOIN {e} e ON e.src = w.node
  WHERE w.hop < 3
), reach AS (
  SELECT seed, node, MIN(hop) AS hop FROM walk GROUP BY 1, 2
)
SELECT hop,
       CAST(COUNT(*) AS BIGINT) AS n_reachable,
       CAST(COUNT(DISTINCT seed) AS BIGINT) AS n_seeds,
       CAST(SUM(node) AS BIGINT) AS node_checksum
FROM reach GROUP BY 1 ORDER BY 1
"""

_REACH_ORACLE = _REACH_WALK_SQL.format(
    prelude=_REACH_EDGE_SQL.strip().replace(
        "WITH op AS", "op AS", 1
    ).replace(
        ")\nSELECT a AS src", "), e AS (\nSELECT a AS src", 1
    ) + "\n), ",
    e="e",
)


@query(
    "part_reach_3hops",
    tags=("graph", "sql", "recursive-cte", "bfs"),
    oracle=_REACH_ORACLE,
)
def part_reach_3hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded multi-source BFS as a RECURSIVE CTE (Spark 4 WITH
    RECURSIVE — a whole SQL-surface capability the engine gains for
    free, run through the same front door as sql_shipping_priority):
    from the 20 highest-degree hub parts, walk the co-purchase graph
    up to 3 hops and report the min-hop reachability census per ring.
    The walk text is engine-identical (_REACH_WALK_SQL runs verbatim
    in DuckDB with the edge CTEs inlined). Iterative-DF siblings:
    part_pagerank_step (fixed-point arithmetic),
    dedup_cluster_components (unbounded closure); the recursion here
    is Spark's own loop-until-empty-frontier execution of the UNION
    ALL step — each iteration is one frontier-to-edges equi-join.
    Two scale guards, both found by the 10x sweep where this was the
    slowest query (21s, round 7):
      * the edge set is built ONCE and localCheckpoint'ed — a
        recursive CTE re-evaluates every non-recursive relation it
        references per iteration, so the distinct+self-join+groupBy
        edge build over lineitem was running 4x (seeds + 3 hops),
        ~14s of the 21. Materializing the (basket-bounded, ~1% of
        lineitem) edge list is the canonical iterative-graph
        lineage cut — what GraphX/MLlib do between supersteps.
      * the recursive member is SELECT DISTINCT, so each frontier is
        the level SET (<= seeds x |V| rows), never the walk MULTISET
        (seeds x deg^hops paths); min-hop only needs each
        (seed, node) witnessed once per level, so `reach` — and the
        query result — is unchanged.
    Depth and seed count stay fixed — the standard guard that keeps
    a recursive graph query from becoming all-pairs; the edge set
    reuses the basket-bounded pair expansion."""
    from financial_data_warehouse_automation_spark.tables import register_views

    register_views(spark, sf_dir, names=("lineitem",))
    from financial_data_warehouse_automation_spark.operators.graph import copurchase_edges

    e0 = copurchase_edges(spark, sf_dir)
    edges = e0.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        e0.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    edges.createOrReplaceTempView("part_copurchase_edges")
    return spark.sql(
        _REACH_WALK_SQL.format(prelude="", e="part_copurchase_edges")
    )


@query(
    "order_winsorized_stats",
    tags=("agg", "robust-stats", "percentile", "feature-engineering"),
    oracle="""
WITH priced AS (
  SELECT o_orderpriority AS priority,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
         o_orderkey
  FROM orders
), ranked AS (
  SELECT priority, cents,
         ROW_NUMBER() OVER (PARTITION BY priority
                            ORDER BY cents, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY priority) AS n
  FROM priced
), bounds AS (
  SELECT priority,
         CAST(MAX(n) AS BIGINT) AS n_orders,
         MAX(CASE WHEN rn = (n + 99) // 100 THEN cents END) AS lo_cents,
         MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN cents END) AS hi_cents
  FROM ranked GROUP BY priority
)
SELECT p.priority, b.n_orders,
       CAST(b.lo_cents AS BIGINT) AS lo_cents,
       CAST(b.hi_cents AS BIGINT) AS hi_cents,
       CAST(SUM(CASE WHEN p.cents < b.lo_cents OR p.cents > b.hi_cents
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped,
       ROUND(CAST(SUM(p.cents) AS DOUBLE) / b.n_orders, 2) AS mean_cents,
       ROUND(CAST(SUM(LEAST(GREATEST(p.cents, b.lo_cents), b.hi_cents))
                  AS DOUBLE) / b.n_orders, 2) AS mean_winsorized
FROM priced p JOIN bounds b ON p.priority = b.priority
GROUP BY 1, 2, 3, 4 ORDER BY 1
""",
)
def order_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust statistics per order priority: clamp order
    value at the exact nearest-rank p01/p99 boundaries and report the
    mean before/after plus how many rows the clamp touched — the
    outlier-TREATMENT step that pairs with events_mad_anomalies'
    outlier DETECTION (detect -> winsorize is the standard robust
    feature-engineering chain; a 10^5x fat-finger order moves the raw
    mean for its whole group, and the winsorized mean is what a
    downstream model should see). Boundaries use the
    order_price_percentiles nearest-rank pattern (integer rank pick,
    no interpolating quantile — engine-identical), come back as a
    5-row broadcast join onto the fact, and every moment is exact
    int64 cents until the two final divisions (round-2). Shape: one
    priority-partitioned window + one broadcast join + one aggregate;
    no global sort anywhere."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    priced = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
        "o_orderkey",
    )
    w = Window.partitionBy("priority").orderBy("cents", "o_orderkey")
    wn = Window.partitionBy("priority")
    ranked = priced.select(
        "priority",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    n = F.col("n")
    bounds = ranked.groupBy("priority").agg(
        F.max(n).alias("n_orders"),
        F.max(
            F.when(F.col("rn") == F.floor((n + 99) / 100), F.col("cents"))
        ).alias("lo_cents"),
        F.max(
            F.when(F.col("rn") == F.floor((99 * n + 99) / 100), F.col("cents"))
        ).alias("hi_cents"),
    )
    j = priced.join(F.broadcast(bounds), "priority")
    clamped = F.least(F.greatest(F.col("cents"), F.col("lo_cents")), F.col("hi_cents"))
    return (
        j.groupBy("priority", "n_orders", "lo_cents", "hi_cents")
        .agg(
            F.sum(
                F.when(
                    (F.col("cents") < F.col("lo_cents"))
                    | (F.col("cents") > F.col("hi_cents")),
                    1,
                ).otherwise(0)
            ).alias("n_clamped"),
            F.round(
                F.sum("cents").cast("double") / F.first("n_orders"), 2
            ).alias("mean_cents"),
            F.round(
                F.sum(clamped).cast("double") / F.first("n_orders"), 2
            ).alias("mean_winsorized"),
        )
    )


@query(
    "part_inventory_balance",
    tags=("window", "stateful", "inventory", "closed-form"),
    oracle="""
WITH flows AS (
  SELECT l_partkey AS part, CAST(l_shipdate AS DATE) AS day,
         CAST(SUM(CASE WHEN l_returnflag = 'R'
                       THEN CAST(l_quantity AS BIGINT)
                       ELSE -CAST(l_quantity AS BIGINT) END) AS BIGINT) AS net
  FROM lineitem GROUP BY 1, 2
), prefixed AS (
  SELECT part, day, net,
         SUM(net) OVER (PARTITION BY part ORDER BY day) AS prefix
  FROM flows
), running AS (
  SELECT part, day, net, prefix,
         MIN(prefix) OVER (PARTITION BY part ORDER BY day) AS run_min
  FROM prefixed
), clamped AS (
  SELECT part, day, net,
         prefix - LEAST(run_min, 0) AS balance
  FROM running
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_part_days,
       CAST(COUNT(DISTINCT part) AS BIGINT) AS n_parts,
       CAST(SUM(balance) AS BIGINT) AS total_balance,
       CAST(SUM(CASE WHEN balance = 0 AND net < 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_stockout_days,
       CAST(MAX(balance) AS BIGINT) AS max_balance
FROM clamped
""",
)
def part_inventory_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-at-zero running inventory balance per part (restocks =
    returned lines, issues = shipped lines): the classic NON-ASSOCIATIVE
    recurrence balance_t = max(0, balance_{t-1} + net_t) that plain
    windows supposedly cannot express and that usually gets written as
    a per-key Python recurrence (applyInPandas). It has a closed form:
    balance_t = prefix_t - min(0, min_{s<=t} prefix_s) — the clamp only
    ever 'forgives' the deepest debt seen so far — so TWO stacked
    per-part windows (running sum, then running min of it) compute it
    entirely JVM-side, whole-stage-codegenned, one shuffle on the part
    key: the plan you want at 100 TB, where an Arrow recurrence would
    serialize every part's history through Python. Same identity
    family as events_cusum_drift's clamped drift statistic, here at
    the part grain with a stockout census; the recurrence-vs-identity
    equivalence is itself asserted in tests/test_round4_ops.py, and
    the DuckDB oracle evaluates the identical closed form."""
    from pyspark.sql import Window

    l = load_table(spark, sf_dir, "lineitem")
    flows = (
        l.groupBy(
            F.col("l_partkey").alias("part"),
            F.col("l_shipdate").cast("date").alias("day"),
        )
        .agg(
            F.sum(
                F.when(
                    F.col("l_returnflag") == "R",
                    F.col("l_quantity").cast("bigint"),
                ).otherwise(-F.col("l_quantity").cast("bigint"))
            ).alias("net")
        )
    )
    w = Window.partitionBy("part").orderBy("day")
    running = flows.select(
        "part",
        "day",
        "net",
        F.sum("net").over(w).alias("prefix"),
    ).withColumn("run_min", F.min("prefix").over(w))
    clamped = running.select(
        "part",
        "net",
        (F.col("prefix") - F.least(F.col("run_min"), F.lit(0))).alias(
            "balance"
        ),
    )
    return clamped.agg(
        F.count(F.lit(1)).alias("n_part_days"),
        F.count_distinct("part").alias("n_parts"),
        F.sum("balance").alias("total_balance"),
        F.sum(
            F.when((F.col("balance") == 0) & (F.col("net") < 0), 1).otherwise(0)
        ).alias("n_stockout_days"),
        F.max("balance").alias("max_balance"),
    )


@query(
    "source_rowsink_roundtrip",
    tags=("source", "datasource-api", "writer", "sink"),
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders GROUP BY 1 ORDER BY 1
""",
)
def source_rowsink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource WRITER (sources/rowsink.py) proven by
    roundtrip: orders flow OUT through the writer's full two-phase
    commit protocol — per-partition executor writes to temp files,
    driver-side commit renaming them into place + a _SUCCESS manifest
    — then back IN through Spark's json reader, and the aggregate of
    what survived the sink must hash-match DuckDB aggregating the
    original table. A silently dropped partition, a double-committed
    temp, or a row lost at the task/driver handoff all break the
    count/cents totals, so the oracle certifies the commit protocol,
    not just the aggregate. Completes the pluggable-source story:
    linegen demonstrates reader/pushdown/stream-reader, this is the
    sink side (reference parity: the write-back step at
    python_version/build_warehouse.py:203-210). Commit/abort edge
    cases (overwrite clears prior parts, abort removes temps, manifest
    totals) are unit-tested in tests/test_sources.py."""
    from financial_data_warehouse_automation_spark.sources.rowsink import RowSinkDataSource

    try:  # idempotent under repeated registration in one session
        spark.dataSource.register(RowSinkDataSource)
    except Exception:
        pass
    work = scratch_dir("rowsink_demo_")
    (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
            .alias("cents"),
        )
        .write.format("rowsink")
        .option("path", work)
        .mode("overwrite")
        .save()
    )
    back = spark.read.schema(
        "o_orderkey long, o_orderpriority string, cents long"
    ).json(os.path.join(work, "part-*.jsonl"))
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
    )


def _parquet_parts(p: str) -> list[str]:
    return [n for n in os.listdir(p) if n.endswith(".parquet")]


def compact_parquet_dir(
    spark: SparkSession, src: str, dst: str, target_bytes: int = 32 << 20
) -> int:
    """Size-measured compaction: rewrite ``src``'s parquet files into
    ``dst`` as ceil(total_bytes / target_bytes) files (>= 1). Returns
    the file count written, asserted against the listing — the
    multi-file branch is pinned by tests/test_round4_ops.py with a
    tiny target (the demo corpus compacts to 1 at the 32 MB default).
    Local-path listing only (the demo's scratch dirs); a cluster
    version lists via the Hadoop FileSystem API like
    _rm_warehouse_dir."""
    import pyarrow.parquet as pq

    total_bytes = sum(
        os.path.getsize(os.path.join(src, n)) for n in _parquet_parts(src)
    )
    n_target = max(1, -(-total_bytes // target_bytes))  # ceil div
    # clamp: repartition(n) partitions holding zero rows write no file,
    # so a target beyond the row count would fail the exact-count assert
    # (r10 advisor — tiny inputs with aggressive target_bytes). The row
    # count comes from the parquet FOOTERS (pure metadata, same walk as
    # parquet_range_candidates) — a maintenance job shouldn't pay a
    # data scan to learn a number every footer already carries.
    n_rows = sum(
        pq.ParquetFile(os.path.join(src, n)).metadata.num_rows
        for n in _parquet_parts(src)
    )
    n_target = max(1, min(n_target, n_rows))
    (
        spark.read.parquet(src)
        .repartition(n_target)
        .write.mode("overwrite")
        .parquet(dst)
    )
    n_written = len(_parquet_parts(dst))
    assert n_written == n_target, (n_written, n_target)
    return n_written



@query(
    "orders_compaction_rewrite",
    tags=("layout", "maintenance", "compaction", "small-files"),
    oracle="""
SELECT 'compacted' AS layout,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS cents,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM orders
UNION ALL
SELECT 'fragmented', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT),
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
FROM orders
ORDER BY layout
""",
)
def orders_compaction_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file COMPACTION — the table-maintenance op (Delta/Iceberg
    ``OPTIMIZE``, Hive concatenate) every long-lived 100 TB warehouse
    runs: streaming appends and per-batch dynamic overwrites leave
    thousands of KB-scale files whose per-file open cost
    (footer read + task schedule, floored by Spark's 4 MB
    openCostInBytes) eventually dwarfs the data scan. The query writes
    orders FRAGMENTED (64-way round-robin — the shape a 64-task append
    leaves), then compacts by size: target file count =
    ceil(total_bytes / 32 MB) measured off the fragmented layout's
    actual file listing, one repartition, one rewrite. Two structural
    asserts pin the mechanics (the fragmented layout really has 64
    parts; the compacted one has exactly the size-derived count), and
    the returned frame aggregates BOTH layouts side by side so the
    oracle certifies bit-identical CONTENT across the rewrite — count,
    exact-cents sum, distinct keys — which is the invariant a
    maintenance job must never break. At 100 TB the same loop runs per
    partition with target = cluster-preferred file size (128-512 MB)
    and bin-packing instead of a global repartition; the
    size-measured-then-rewrite shape is identical."""
    work = scratch_dir("compaction_demo_")
    frag_p, comp_p = os.path.join(work, "frag"), os.path.join(work, "comp")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    o.repartition(64).write.mode("overwrite").parquet(frag_p)
    frag_files = _parquet_parts(frag_p)
    assert len(frag_files) == 64, len(frag_files)
    compact_parquet_dir(spark, frag_p, comp_p)

    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")

    def stats(path: str, tag: str) -> DataFrame:
        return (
            spark.read.parquet(path)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(cents).cast("bigint").alias("cents"),
                F.countDistinct("o_custkey").cast("long").alias("n_customers"),
            )
            .select(F.lit(tag).alias("layout"), "n_rows", "cents",
                    "n_customers")
        )

    return stats(comp_p, "compacted").unionByName(
        stats(frag_p, "fragmented")
    )


def parquet_range_candidates(
    path: str, column: str, lo, hi
) -> tuple[int, int, int, int]:
    """Footer-statistics audit of a parquet directory: which files
    COULD contain rows with ``lo <= column < hi``, per the row-group
    min/max stats a stat-based skipper consults. Returns
    (candidate_files, total_files, candidate_row_groups,
    candidate_rows). Pure metadata — no data pages are read; this is
    the planning half of data skipping, the same footer walk
    Delta/Iceberg bake into their file-level stats indexes. Row groups
    with absent stats count as candidates (a skipper must read what it
    cannot prove empty)."""
    import pyarrow.parquet as pq

    cand_files = total_files = cand_rgs = cand_rows = 0
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        total_files += 1
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        idx = md.schema.to_arrow_schema().get_field_index(column)
        file_hit = False
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or st.min is None or st.max is None:
                hit = True
            else:
                hit = st.min < hi and st.max >= lo
            if hit:
                file_hit = True
                cand_rgs += 1
                cand_rows += md.row_group(rg).num_rows
        if file_hit:
            cand_files += 1
    return cand_files, total_files, cand_rgs, cand_rows


def _scan_output_rows(df: DataFrame) -> int:
    """Execute ``df`` and return the FileSourceScanExec's numOutputRows
    — the rows the parquet reader actually produced AFTER row-group /
    page skipping (Spark's own post-scan Filter is a separate node),
    i.e. the I/O the layout did or did not save. Walks through AQE
    wrappers the same way tests/test_plan_hygiene.py does."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()

    def walk(node):
        name = node.getClass().getSimpleName()
        yield name, node
        if name.endswith("QueryStageExec"):
            yield from walk(node.plan())
            return
        if name == "AdaptiveSparkPlanExec":
            yield from walk(node.executedPlan())
            return
        ch = node.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    scans = [n for nm, n in walk(plan) if nm == "FileSourceScanExec"]
    assert scans, "no FileSourceScanExec in executed plan"
    return scans[0].metrics().apply("numOutputRows").value()


@query(
    "orders_sorted_fileskip",
    tags=("layout", "data-skipping", "parquet-stats", "pruning"),
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-03-01'
  AND o_orderdate <  TIMESTAMP '1997-04-01'
GROUP BY 1 ORDER BY 1
""",
)
def orders_sorted_fileskip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE/ROW-GROUP SKIPPING off a SORTED layout — the payoff query
    orders_zorder_layout's locality stats promise: a range-clustered
    rewrite makes parquet min/max footer stats DISJOINT across files,
    so a tight range predicate prunes at the row-group level and the
    scan never decodes the other 15/16ths of the table. The builder
    writes orders twice — range-partitioned + sorted on the order
    date, and round-robin shuffled (the layout a hash-partitioned
    append leaves) — then proves the skip three ways before returning
    the oracle-checked aggregate:

    1. FOOTER AUDIT (parquet_range_candidates): on the sorted layout
       at most 4 of 16 files can contain the March-1997 window; on the
       shuffled layout every file is a candidate (each spans the full
       date range) — the planning-time half of data skipping, the
       footer walk Delta/Iceberg persist as file-level stats.
    2. RUNTIME METRIC: the executed sorted scan's numOutputRows equals
       the candidate row groups' rows (reader skipped the rest), while
       the shuffled scan's equals the ENTIRE table — identical pushed
       filter, ~16x I/O difference, layout is the only variable.
    3. The returned aggregate hash-matches the oracle's plain range
       scan — skipping changed I/O, never values.

    The non-obvious scale lesson baked in: Spark writes timestamps as
    INT96 by default (spark.sql.parquet.outputTimestampType), and
    INT96 predicates are NEVER pushed to parquet — the same experiment
    on the raw timestamp column reads all 15,000 rows from both
    layouts (measured r11). Clustering is worthless to the reader
    unless the sort column is stored as a stats-pushable type (DATE
    here; TIMESTAMP_MICROS works too). At 100 TB this pairs with
    orders_zorder_layout: linear sort serves one predicate column,
    the Z-key serves two — either way sizing files so the hot window
    touches few of them is what turns a 100 TB scan into a GB read.
    Reference analogy: python_version/build_warehouse.py:112-126
    converts once to a query-friendly layout and reads it forever —
    this is that decision at the physical-statistics level."""
    import datetime

    work = scratch_dir("fileskip_demo_")
    sorted_p = os.path.join(work, "sorted")
    shuffled_p = os.path.join(work, "shuffled")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("odate"),
    )
    n_files = 16
    (
        o.repartitionByRange(n_files, "odate")
        .sortWithinPartitions("odate")
        .write.mode("overwrite")
        .parquet(sorted_p)
    )
    o.repartition(n_files).write.mode("overwrite").parquet(shuffled_p)

    lo, hi = datetime.date(1997, 3, 1), datetime.date(1997, 4, 1)
    s_files, s_total, _s_rgs, s_rows = parquet_range_candidates(
        sorted_p, "odate", lo, hi
    )
    r_files, r_total, _r_rgs, _ = parquet_range_candidates(
        shuffled_p, "odate", lo, hi
    )
    assert s_total == n_files and r_total == n_files, (s_total, r_total)
    assert s_files <= 4, f"sorted layout should bound candidates: {s_files}"
    assert r_files == n_files, f"shuffled layout must not prune: {r_files}"

    def window_agg(path: str) -> DataFrame:
        return (
            spark.read.parquet(path)
            .where(
                (F.col("odate") >= F.lit("1997-03-01").cast("date"))
                & (F.col("odate") < F.lit("1997-04-01").cast("date"))
            )
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
                .cast("bigint")
                .alias("cents"),
            )
        )

    total_rows = o.count()
    sorted_scan = _scan_output_rows(window_agg(sorted_p))
    shuffled_scan = _scan_output_rows(window_agg(shuffled_p))
    assert shuffled_scan == total_rows, (shuffled_scan, total_rows)
    assert sorted_scan <= s_rows, (sorted_scan, s_rows)
    assert sorted_scan < 0.35 * shuffled_scan, (sorted_scan, shuffled_scan)

    return window_agg(sorted_p)


@query(
    "orders_zorder_fileskip_2d",
    tags=("layout", "data-skipping", "zorder", "parquet-stats", "pruning"),
    oracle="""
WITH m AS (SELECT MAX(o_custkey) AS mx FROM orders)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders, m
WHERE o_custkey >= m.mx // 2
  AND o_custkey <  m.mx // 2 + GREATEST(1, m.mx // 8)
GROUP BY 1 ORDER BY 1
""",
)
def orders_zorder_fileskip_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-DIMENSIONAL data skipping off a Z-ORDERED write — the
    companion orders_sorted_fileskip deliberately leaves open: a
    linear sort gives its ONE key everything and every other column
    nothing, while writing in Morton-key order bounds BOTH dimensions'
    min/max within every file, so predicates on EITHER column prune.
    The builder writes orders twice — clustered by
    morton_interleave16(custkey, order-day) and linearly sorted by
    date — and audits both layouts' footers against both predicates
    (a 1/8th customer-key slice and a one-quarter date window).
    Measured, stable across sf0.001/0.01/0.1 (16 files each):

                          custkey slice     date quarter
        z-ordered         9-10 of 16        4-6 of 16     <- both prune
        date-sorted       16 of 16 (zero)   2 of 16       <- one prunes

    — the canonical Z-order trade: neither column gets the linear
    sort's 2/16, but no column is left at 16/16; total I/O across a
    mixed predicate workload drops when query columns exceed one.
    Runtime proof mirrors the 1-D query: the custkey-window scan's
    numOutputRows on the date-sorted layout is the ENTIRE table (its
    footers cannot exclude any file for a custkey predicate), on the
    z-ordered layout only the candidate files' rows. The returned
    custkey-slice aggregate reads the Z layout and must hash-match
    the oracle's plain filter on raw orders — clustering changes
    I/O, never values. The key-space fractions derive from
    MAX(o_custkey) in-query (scale-invariant, replayed by the
    oracle's window arithmetic; integer // on non-negative operands
    agrees across engines). At 100 TB: Z-write once at ingest (one
    repartitionByRange on the precomputed key — the intentional
    shuffle), then every custkey-OR-date query rides the footers;
    files sized so the hot cell set stays small (the same knob as
    orders_sorted_fileskip), and the 16-bit normalization comes from
    orders_zorder_layout whose locality stats *predict* exactly the
    candidate-file counts this query measures."""
    import datetime

    work = scratch_dir("zskip2d_demo_")
    z_p = os.path.join(work, "zorder")
    d_p = os.path.join(work, "datesorted")
    n_files = 16
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.col("o_custkey").alias("ckey"),
        F.col("o_orderdate").cast("date").alias("odate"),
    )
    day0 = F.lit("1995-01-01").cast("date")
    mx = o.agg(
        F.max("ckey").alias("mx"),
        F.max(F.datediff("odate", day0)).alias("my"),
    )
    base = o.crossJoin(F.broadcast(mx)).select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        "ckey",
        "odate",
        F.floor(F.col("ckey") * 65536 / (F.col("mx") + 1))
        .cast("long")
        .alias("xn"),
        F.floor(F.datediff("odate", day0) * 65536 / (F.col("my") + 1))
        .cast("long")
        .alias("yn"),
    )
    z = base.withColumn(
        "zval", morton_interleave16(F.col("xn"), F.col("yn"))
    ).drop("xn", "yn")
    (
        z.repartitionByRange(n_files, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .parquet(z_p)
    )
    (
        o.repartitionByRange(n_files, "odate")
        .sortWithinPartitions("odate")
        .write.mode("overwrite")
        .parquet(d_p)
    )

    maxck = mx.collect()[0].mx
    clo = maxck // 2
    chi = clo + max(1, maxck // 8)
    dlo, dhi = datetime.date(1997, 1, 1), datetime.date(1997, 4, 1)

    zc_files, zc_total, _, zc_rows = parquet_range_candidates(
        z_p, "ckey", clo, chi
    )
    zd_files, _, _, _ = parquet_range_candidates(z_p, "odate", dlo, dhi)
    dc_files, dc_total, _, _ = parquet_range_candidates(d_p, "ckey", clo, chi)
    dd_files, _, _, _ = parquet_range_candidates(d_p, "odate", dlo, dhi)
    assert zc_total == dc_total == n_files, (zc_total, dc_total)
    # Z: both dimensions prune; linear: only the sort column does.
    # Absolute pins carry SAMPLING-JITTER headroom (r16, the same
    # class as the r15 row-group-luck relax): repartitionByRange
    # samples boundaries with an RDD-id-dependent seed, so candidate
    # counts drift a file or two with session history — typical zc is
    # 9-11 but a 13 was observed once in a full-registry sweep after
    # the prefix reorder shifted RDD ids. The RELATIVE claims (z
    # prunes the custkey dimension the linear layout cannot; both z
    # dimensions beat no-pruning) stay exact.
    assert zc_files <= 14, f"zorder custkey candidates: {zc_files}"
    assert zd_files <= 10, f"zorder date candidates: {zd_files}"
    assert dc_files == n_files, f"date-sorted must not prune custkey: {dc_files}"
    assert zc_files < dc_files, (zc_files, dc_files)
    assert dd_files <= 4, f"date-sorted date candidates: {dd_files}"

    def cust_agg(path: str) -> DataFrame:
        return (
            spark.read.parquet(path)
            .where((F.col("ckey") >= clo) & (F.col("ckey") < chi))
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
                .cast("bigint")
                .alias("cents"),
            )
        )

    total_rows = o.count()
    z_scan = _scan_output_rows(cust_agg(z_p))
    d_scan = _scan_output_rows(cust_agg(d_p))
    # The linear layout must give NO USEFUL custkey pruning. File-level
    # that is exact (dc_files == n_files above); at ROW-GROUP grain a
    # multi-row-group file can skip a tail group whose custkey min/max
    # happens to miss the probe by luck (r15: the 10x sweep's
    # regenerated multi-row-group sf1 input skipped one 80-row group
    # of 1.5M — 0.005%). Tolerate <0.1% statistical luck; the Z-order
    # contrast below stays orders of magnitude apart.
    assert d_scan >= total_rows - max(1, total_rows // 1000), (
        d_scan, total_rows,
    )
    assert z_scan <= zc_rows < total_rows, (z_scan, zc_rows, total_rows)

    return cust_agg(z_p)
