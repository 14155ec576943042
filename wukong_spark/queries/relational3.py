"""TPC-H remainder, adapted to the driver schema (no partsupp table, no
comment/shipmode/commitdate columns — see TESTDATA.md).

Completes the decision-support shapes SURVEY.md §2.2 B-III calls for that
relational.py / relational2.py don't yet cover: multi-way snowflake joins
with conditional aggregation (Q8/Q9), scalar-subquery thresholds (Q11/Q15),
left-join histograms (Q13), NOT-IN subqueries (Q16), correlated-average
subqueries (Q17), semi-join chains (Q20), EXISTS+NOT-EXISTS pairs (Q21),
and anti-join + global-average gating (Q22).

Exactness discipline (SURVEY.md §7): every threshold that TPC-H states as a
`double < fraction * AVG(double)` comparison is algebraically rewritten to
an integer comparison (`k * x_c * n < sum_c`) so Spark and DuckDB agree on
every boundary row regardless of summation order.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from wukong_spark.queries import query
from wukong_spark.queries.helpers import local_frame, cents, pct_units, tbl


def _rev_c():
    """Revenue in exact integer (cents × pct): price_c * (100 - disc_pct)."""
    return cents("l_extendedprice") * (100 - pct_units("l_discount"))


_REV_SQL = (
    "CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))"
)


@query(
    "q8_market_share",
    oracle=f"""
    WITH allrev AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
             {_REV_SQL} AS rev,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
    )
    SELECT o_year,
           ROUND(SUM(CASE WHEN supp_nation = 'NATION_2' THEN rev ELSE 0 END)
                 * 1.0 / SUM(rev), 6) AS mkt_share
    FROM allrev GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str):
    """TPC-H Q8 (national market share): 7-table snowflake join, share of
    ASIA-region PROMO revenue supplied by NATION_2, per year.

    Scale shape: region/nation/part/supplier/customer are dimensions —
    all broadcast; only lineitem⋈orders shuffles (one sort-merge on
    orderkey).  Share ratio divides two exact integer sums, so the single
    final double division is bit-stable cross-engine."""
    l = tbl(spark, sf_dir, "lineitem")
    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer")
    s = tbl(spark, sf_dir, "supplier")
    p = tbl(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    n1 = tbl(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey")
    )
    n2 = tbl(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    r = tbl(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = _rev_c().alias("rev")
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .select(F.year("o_orderdate").alias("o_year"), rev, "supp_nation")
    )
    nat = F.when(F.col("supp_nation") == "NATION_2", F.col("rev")).otherwise(F.lit(0))
    return joined.groupBy("o_year").agg(
        F.round(F.sum(nat) * 1.0 / F.sum("rev"), 6).alias("mkt_share")
    )


@query(
    "q9_profit_by_nation_year",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
           CAST(SUM({_REV_SQL}) AS BIGINT) AS profit_cpct
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY nation, o_year
    """,
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str):
    """TPC-H Q9 (product-type profit), adapted: the schema has no
    partsupp/supplycost, so profit = discounted revenue of '%widget%' parts
    by supplier nation and order year.  Dimensions broadcast; the only
    shuffle is lineitem⋈orders + the final (25 nations × 7 years) agg."""
    l = tbl(spark, sf_dir, "lineitem")
    o = tbl(spark, sf_dir, "orders")
    p = tbl(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = tbl(spark, sf_dir, "supplier")
    n = tbl(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(_rev_c()).alias("profit_cpct"))
    )


@query(
    "q11_important_parts",
    oracle="""
    WITH val AS (
      SELECT l.l_partkey,
             SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS value_c
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
      GROUP BY l.l_partkey
    )
    SELECT l_partkey, CAST(value_c AS BIGINT) AS value_c
    FROM val
    WHERE value_c * 2000 > COALESCE((SELECT SUM(value_c) FROM val), 0)
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str):
    """TPC-H Q11 (important stock), adapted to lineitem value (no partsupp):
    parts whose EUROPE-supplied shipped value exceeds 0.05% of the total.

    The global-total scalar subquery is a 1-row broadcast cross join; the
    fraction threshold `v > total/2000` is restated as `v*2000 > total`
    over exact integers — no double division anywhere."""
    l = tbl(spark, sf_dir, "lineitem")
    s = tbl(spark, sf_dir, "supplier")
    n = tbl(spark, sf_dir, "nation")
    r = tbl(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    val = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("l_partkey")
        .agg(F.sum(cents("l_extendedprice")).alias("value_c"))
    )
    total = val.agg(F.sum("value_c").alias("total_c"))
    return (
        val.join(F.broadcast(total))
        .filter(F.col("value_c") * 2000 > F.col("total_c"))
        .select("l_partkey", "value_c")
    )


@query(
    "q12_late_shipment_priority",
    oracle="""
    SELECT CASE WHEN CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE) > 60
                THEN 'LATE' ELSE 'ONTIME' END AS ship_bucket,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY ship_bucket
    """,
)
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str):
    """TPC-H Q12 (shipping modes and priority), adapted: no l_shipmode /
    commit dates in this schema, so lines bucket by ship lateness
    (>60 days after order date) and split counts by order priority."""
    l = tbl(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = tbl(spark, sf_dir, "orders")
    late = F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")) > 60
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(F.when(late, "LATE").otherwise("ONTIME").alias("ship_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q13_order_count_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str):
    """TPC-H Q13 (customer order-count distribution): filtered LEFT OUTER
    join, per-customer count (COUNT of a nullable column counts only
    matches), then a histogram of those counts."""
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l.l_suppkey,
             SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) AS total_rev
      FROM lineitem l
      WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l.l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS BIGINT) AS total_rev
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str):
    """TPC-H Q15 (top supplier): quarterly revenue per supplier, keep the
    max via a scalar-subquery equality (exact integers → exact tie
    semantics).  The 1-row max broadcasts; supplier is a broadcast dim."""
    l = tbl(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = tbl(spark, sf_dir, "supplier")
    rev = l.groupBy("l_suppkey").agg(F.sum(_rev_c()).alias("total_rev"))
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


@query(
    "q16_supplier_count_by_part",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#9'
      AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 100
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q16_supplier_count_by_part(spark: SparkSession, sf_dir: str):
    """TPC-H Q16 (parts/supplier relationship), adapted to lineitem as the
    part↔supplier bridge (no partsupp): distinct supplier count per part
    attribute triple, excluding low-balance suppliers via NOT IN → a
    broadcast anti join (null-safe here: s_suppkey is never null)."""
    p = tbl(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#9")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    bad = tbl(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 100).select("s_suppkey")
    l = tbl(spark, sf_dir, "lineitem")
    return (
        l.join(F.broadcast(bad), l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    WITH pq AS (
      SELECT l_partkey,
             SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS sum_qc,
             COUNT(*) AS n
      FROM lineitem GROUP BY l_partkey
    )
    SELECT ROUND(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) / 700.0, 4)
           AS avg_yearly
    FROM lineitem l
    JOIN pq ON l.l_partkey = pq.l_partkey
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand = 'Brand#3'
      AND 5 * CAST(ROUND(l.l_quantity * 100) AS BIGINT) * pq.n < pq.sum_qc
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str):
    """TPC-H Q17 (small-quantity-order revenue): the correlated
    `l_quantity < 0.2 * AVG(l_quantity)` subquery, with the average compare
    rewritten exactly: q < sum/(5n) ⟺ 5·q_c·n < sum_c in integers, so the
    row set is identical cross-engine.  Per-part averages are a self-agg
    re-joined on partkey (AQE turns it into a broadcast at this scale)."""
    l = tbl(spark, sf_dir, "lineitem")
    pq = l.groupBy(F.col("l_partkey").alias("pq_partkey")).agg(
        F.sum(cents("l_quantity")).alias("sum_qc"),
        F.count(F.lit(1)).alias("n"),
    )
    p = tbl(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    small = 5 * cents("l_quantity") * F.col("n") < F.col("sum_qc")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(pq, l.l_partkey == F.col("pq_partkey"))
        .filter(small)
        .agg(F.round(F.sum(cents("l_extendedprice")) / 700.0, 4).alias("avg_yearly"))
    )


@query(
    "q20_bulk_promo_suppliers",
    oracle="""
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l
      WHERE l.l_partkey IN (
              SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        AND l.l_shipdate >= TIMESTAMP '1997-01-01'
        AND l.l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l.l_suppkey
      HAVING SUM(l.l_quantity) > 400
    )
    """,
)
def q20_bulk_promo_suppliers(spark: SparkSession, sf_dir: str):
    """TPC-H Q20 (potential part promotion), adapted (no partsupp/availqty):
    suppliers who shipped >400 units of PROMO parts during 1997 — a
    semi-join chain part→lineitem→supplier.  Quantities are whole-valued
    doubles, so the HAVING threshold is exact in both engines."""
    promo = tbl(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    l = tbl(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    bulk = (
        l.join(F.broadcast(promo), l.l_partkey == promo.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 400)
        .select("l_suppkey")
    )
    s = tbl(spark, sf_dir, "supplier")
    return s.join(bulk, s.s_suppkey == bulk.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


@query(
    "q21_sole_late_supplier",
    oracle="""
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND CAST(l1.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE) > 30
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND CAST(l3.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE) > 30)
    GROUP BY s.s_name
    """,
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str):
    """TPC-H Q21 (suppliers who kept orders waiting), adapted to shipdate
    lateness (no receipt/commit dates): count finished orders where this
    supplier shipped >30 days late, other suppliers participated (EXISTS →
    left-semi), and none of the others were late (NOT EXISTS → left-anti).

    Both correlated subqueries become orderkey-keyed self-joins of
    lineitem — the same shuffle key as the main join, so at scale the
    exchange is reused across all three."""
    s = tbl(spark, sf_dir, "supplier")
    o = tbl(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l = tbl(spark, sf_dir, "lineitem")
    days_late = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    l1 = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(days_late > 30)
        .select(
            F.col("l_orderkey").alias("lo"),
            F.col("l_suppkey").alias("ls"),
            "o_orderdate",
        )
    )
    l2 = l.select(F.col("l_orderkey").alias("l2o"), F.col("l_suppkey").alias("l2s"))
    others = l1.join(
        l2, (F.col("lo") == F.col("l2o")) & (F.col("ls") != F.col("l2s")), "left_semi"
    )
    l3 = l.select(
        F.col("l_orderkey").alias("l3o"),
        F.col("l_suppkey").alias("l3s"),
        F.col("l_shipdate").alias("l3_ship"),
    )
    late3 = (
        F.datediff(F.col("l3_ship").cast("date"), F.col("o_orderdate").cast("date")) > 30
    )
    sole = others.join(
        l3,
        (F.col("lo") == F.col("l3o")) & (F.col("ls") != F.col("l3s")) & late3,
        "left_anti",
    )
    return (
        sole.join(F.broadcast(s), F.col("ls") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "q22_idle_rich_customers",
    oracle="""
    WITH pos AS (
      SELECT SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS sum_c,
             COUNT(*) AS n
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_nationkey,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(ROUND(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) AS totacctbal_c
    FROM customer c, pos
    WHERE CAST(ROUND(c.c_acctbal * 100) AS BIGINT) * pos.n > pos.sum_c
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c.c_nationkey
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str):
    """TPC-H Q22 (global sales opportunity), adapted: customers with
    above-average positive balance and no orders since 2000, grouped by nation
    (the schema has no phone country codes).  `bal > avg` is restated
    exactly as `bal_c · n > sum_c`; NOT EXISTS is a left-anti join against
    orders — at scale an orderkey-partitioned anti join, here AQE picks
    broadcast."""
    c = tbl(spark, sf_dir, "customer")
    pos = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum(cents("c_acctbal")).alias("sum_c"), F.count(F.lit(1)).alias("n")
    )
    o = (
        tbl(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(pos))
        .filter(cents("c_acctbal") * F.col("n") > F.col("sum_c"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(cents("c_acctbal")).alias("totacctbal_c"),
        )
    )


@query(
    "join_full_outer_yearly_revenue",
    oracle="""
    WITH r96 AS (
      SELECT l_suppkey, SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS rev96_c
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-02-01'
      GROUP BY l_suppkey
    ), r97 AS (
      SELECT l_suppkey, SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS rev97_c
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-02-01'
      GROUP BY l_suppkey
    )
    SELECT COALESCE(r96.l_suppkey, r97.l_suppkey) AS suppkey,
           CAST(COALESCE(rev96_c, 0) AS BIGINT) AS rev96_c,
           CAST(COALESCE(rev97_c, 0) AS BIGINT) AS rev97_c,
           CAST(COALESCE(rev97_c, 0) - COALESCE(rev96_c, 0) AS BIGINT) AS delta_c
    FROM r96 FULL OUTER JOIN r97 ON r96.l_suppkey = r97.l_suppkey
    """,
)
def join_full_outer_yearly_revenue(spark: SparkSession, sf_dir: str):
    """FULL OUTER join (completes the join family, SURVEY.md §2.2 B-III):
    per-supplier Jan-96 vs Jan-97 revenue, keeping suppliers active in
    either month; COALESCE fills the gaps.  At scale: both sides shuffle on
    suppkey (same key) — one co-partitioned exchange pair, no broadcast
    (full outer cannot broadcast)."""
    l = tbl(spark, sf_dir, "lineitem")

    def month_rev(y: int, alias: str):
        return (
            l.filter(
                (F.col("l_shipdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
                & (F.col("l_shipdate") < F.lit(f"{y}-02-01").cast("timestamp"))
            )
            .groupBy(F.col("l_suppkey").alias(f"sk{y}"))
            .agg(F.sum(cents("l_extendedprice")).alias(alias))
        )

    r96 = month_rev(1996, "rev96_c")
    r97 = month_rev(1997, "rev97_c")
    return (
        r96.join(r97, F.col("sk1996") == F.col("sk1997"), "full_outer")
        .select(
            F.coalesce(F.col("sk1996"), F.col("sk1997")).alias("suppkey"),
            F.coalesce(F.col("rev96_c"), F.lit(0)).alias("rev96_c"),
            F.coalesce(F.col("rev97_c"), F.lit(0)).alias("rev97_c"),
            (F.coalesce(F.col("rev97_c"), F.lit(0))
             - F.coalesce(F.col("rev96_c"), F.lit(0))).alias("delta_c"),
        )
    )


@query(
    "join_right_outer_parts",
    oracle="""
    SELECT p.p_partkey, p.p_brand,
           COUNT(l.l_orderkey) AS n_lines
    FROM (SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-06-01') l
    RIGHT JOIN (SELECT * FROM part WHERE p_size > 45) p
      ON l.l_partkey = p.p_partkey
    GROUP BY p.p_partkey, p.p_brand
    """,
)
def join_right_outer_parts(spark: SparkSession, sf_dir: str):
    """RIGHT OUTER join: every large part, with its count of very recent
    shipments (zero for never-shipped).  COUNT of a nullable join column
    counts matches only — the outer-join null semantics the dask surface
    gets from pandas merge(how='right')."""
    l = tbl(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("2001-06-01").cast("timestamp")
    )
    p = tbl(spark, sf_dir, "part").filter(F.col("p_size") > 45)
    return (
        l.join(p, l.l_partkey == p.p_partkey, "right_outer")
        .groupBy("p_partkey", "p_brand")
        .agg(F.count("l_orderkey").alias("n_lines"))
    )


@query(
    "make_timeseries",
    oracle="""
    SELECT i AS idx,
           TIMESTAMP '2000-01-01' + i * INTERVAL 1 HOUR AS ts,
           CAST(('0x' || substr(md5('id-' || i), 1, 12)) AS BIGINT) % 100 AS sensor_id,
           ROUND((CAST(('0x' || substr(md5('x-' || i), 1, 12)) AS BIGINT) % 1000000)
                 / 1000000.0, 6) AS x
    FROM range(0, 2000) t(i)
    """,
)
def make_timeseries(spark: SparkSession, sf_dir: str):
    """Deterministic synthetic timeseries generator — parity with
    `dd.demo.make_timeseries` (reference: `Static Scheduler/wukong/tests/
    test_collections.py:115-122`): hourly timestamps, hash-derived sensor
    ids and uniform [0,1) values, reproducible cross-engine via md5.

    Scale shape: spark.range parallelizes the id space across executors —
    a 100 TB synthetic table generates with zero shuffles and no driver
    involvement (the dask version builds partitioned pandas frames the
    same way)."""
    idx = F.col("id")
    sid = F.conv(F.substring(F.md5(F.concat(F.lit("id-"), idx)), 1, 12), 16, 10).cast("long") % 100
    xv = F.round(
        (F.conv(F.substring(F.md5(F.concat(F.lit("x-"), idx)), 1, 12), 16, 10).cast("long") % 1000000)
        / 1000000.0,
        6,
    )
    return spark.range(0, 2000).select(
        idx.alias("idx"),
        (F.lit("2000-01-01").cast("timestamp_ntz")
         + F.make_interval(hours=idx.cast("int"))).alias("ts"),
        sid.alias("sensor_id"),
        xv.alias("x"),
    )


@query(
    "sql_surface_nation_revenue",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) AS BIGINT)
               AS revenue_cpct,
           COUNT(DISTINCT o.o_orderkey) AS n_orders
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY nation
    """,
)
def sql_surface_nation_revenue(spark: SparkSession, sf_dir: str):
    """The SQL-text surface: the engine's tables registered as views
    (`register_views` ≈ the reference's `publish_dataset`,
    `client.py:2213-2340`) and the query written as ANSI SQL via
    `spark.sql` — the exact text DuckDB runs as the oracle, proving the
    dialect-portable subset end-to-end.  Catalyst treats it identically to
    the DataFrame formulation (same plan, same broadcasts)."""
    from wukong_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_name AS nation,
               SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) AS revenue_cpct,
               COUNT(DISTINCT o.o_orderkey) AS n_orders
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY n.n_name
        """
    )


@query(
    "unpivot_lineitem_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure,
           CAST(ROUND(val * 100) AS BIGINT) AS val_c
    FROM (
      SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS val
      FROM lineitem WHERE l_linenumber >= 6
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
      FROM lineitem WHERE l_linenumber >= 6
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount', l_discount
      FROM lineitem WHERE l_linenumber >= 6
    )
    """,
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str):
    """Unpivot (wide → long): three measure columns melt into
    (measure, value) rows via the STACK expression — the inverse of
    pivot_status_by_flag.  stack() is a generator expression (one pass, no
    shuffle, no join against a measure list)."""
    l = tbl(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") >= 6)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'quantity', l_quantity, "
            "'extendedprice', l_extendedprice, "
            "'discount', l_discount) AS (measure, val)"
        ),
    ).select(
        "l_orderkey",
        "l_linenumber",
        "measure",
        F.round(F.col("val") * 100).cast("long").alias("val_c"),
    )


@query(
    "merge_upsert_orders",
    oracle="""
    WITH updates AS (
      SELECT o_orderkey,
             '0-REPRICED' AS o_orderpriority,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) * 110 AS price_cc
      FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01'
    ), merged AS (
      SELECT o.o_orderkey, o.o_orderpriority,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) * 100 AS price_cc
      FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.o_orderkey = o.o_orderkey)
      UNION ALL
      SELECT o_orderkey, o_orderpriority, price_cc FROM updates
    )
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(price_cc) AS BIGINT) AS total_cc
    FROM merged GROUP BY o_orderpriority
    """,
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str):
    """CDC-style MERGE/upsert without a lakehouse format (the guide's
    anti-join + union emulation): an updates stream (2001 orders repriced
    +10 %) replaces matching target rows, everything else passes through;
    verified via post-merge stats.

    Scale shape: target ⟕anti updates is ONE shuffle pair on the merge key
    (AQE broadcasts the small updates side here); the union adds no
    exchange.  With Delta/Iceberg on the classpath the same logic is
    `MERGE INTO` — this operator is the format-free equivalent.
    """
    o = tbl(spark, sf_dir, "orders")
    # +10% reprice in exact integers: track cents×100 so the update is
    # price_c*110 vs passthrough price_c*100 — no double rounding anywhere
    updates = o.filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    ).select(
        "o_orderkey",
        F.lit("0-REPRICED").alias("o_orderpriority"),
        (cents("o_totalprice") * 110).alias("price_cc"),
    )
    kept = o.join(updates.select("o_orderkey"), "o_orderkey", "left_anti").select(
        "o_orderkey",
        "o_orderpriority",
        (cents("o_totalprice") * 100).alias("price_cc"),
    )
    merged = kept.unionByName(updates)
    return merged.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("price_cc").alias("total_cc"),
    )


@query(
    "grouping_sets_orders",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_c
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                            (o_orderstatus, o_orderpriority))
    """,
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str):
    """Explicit GROUPING SETS (the general form rollup/cube specialize):
    status-only, priority-only, and the full pair in one pass — Spark
    expands the sets with a single Expand + one hash aggregation, not three
    scans.  DataFrame API route: SQL text over a registered view (grouping
    sets have no DataFrame builder)."""
    tbl(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS total_c
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
        """
    )


@query(
    "window_pct_rank_dist",
    oracle="""
    SELECT s_suppkey,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume,
           CAST(NTILE(4) OVER w AS INTEGER) AS quartile
    FROM supplier
    WINDOW w AS (ORDER BY CAST(ROUND(s_acctbal * 100) AS BIGINT), s_suppkey)
    """,
)
def window_pct_rank_dist(spark: SparkSession, sf_dir: str):
    """Distribution window functions (percent_rank / cume_dist / ntile)
    over an exact integer ordering key with a unique tie-break — rank
    positions are deterministic, and the pct values are single divisions
    of small integers (bit-stable cross-engine).

    Plan (r14 — caught by the new plan-audit 1pw rule): the global
    window this entry used planned an Exchange SinglePartition over
    supplier, and supplier is NOT bounded — it scales linearly with SF
    (~1e9 rows at 100 TB TPC-H).  Because the ordering key
    (acctbal_cents, suppkey) is UNIQUE, rank == row_number, so all three
    distribution functions derive map-side from `global_row_number`
    (one range exchange) + the broadcast row count n:
    percent_rank = rk/(n−1), cume_dist = (rk+1)/n, and NTILE(4) from
    the standard integer split arithmetic — bit-identical to the window
    formulation, with no single-task stage."""
    from wukong_spark.operators.setindex import global_row_number

    s = tbl(spark, sf_dir, "supplier").select(
        "s_suppkey", cents("s_acctbal").alias("__bal_c")
    )
    n = s.count()
    ranked = global_row_number(
        s, ["__bal_c", "s_suppkey"], n_partitions=16, out_col="__rk"
    )
    # NTILE(k): first n%k buckets get n//k+1 rows — invert per row id
    base, rem = divmod(n, 4)
    big = rem * (base + 1)  # rows covered by the larger leading buckets
    quartile = (
        F.when(F.col("__rk") < big, F.floor(F.col("__rk") / (base + 1)) + 1)
        .otherwise(rem + F.floor((F.col("__rk") - big) / base) + 1)
        if base
        else F.col("__rk") + 1
    )
    return ranked.select(
        "s_suppkey",
        F.round(F.col("__rk") / F.lit(float(max(n - 1, 1))), 6).alias(
            "pct_rank"
        ),
        F.round((F.col("__rk") + 1) / F.lit(float(n)), 6).alias("cume"),
        quartile.cast("int").alias("quartile"),
    )


@query(
    "set_index_orders",
    oracle="""
    SELECT TRUE AS ranges_monotonic, TRUE AS sorted_within,
           (SELECT COUNT(*) FROM orders) AS n_rows
    """,
)
def set_index_orders(spark: SparkSession, sf_dir: str):
    """set_index as a named range-repartition operator (VERDICT r5 #4;
    reference `test_collections.py:113-129` — `set_index('name',
    shuffle='tasks')`): operators.setindex.set_index = repartitionByRange
    + sortWithinPartitions, the Spark-native form of dask's task-shuffle
    set_index (quantile-sampled range exchange, then per-partition sort).

    The dask postconditions are verified IN-PLAN and only verdicts leave
    the cluster: a one-pass mapInPandas probe emits per-partition
    (min, max, count, sorted) rows — sortedness tracked ACROSS arrow
    batches, not just within each — and a lag window over the ≤16 probe
    rows checks that consecutive partitions hold disjoint, monotonically
    increasing key ranges.  Row preservation is the one table-derived
    fact, so the oracle recomputes COUNT(*) rather than hardcoding it.
    Partition boundaries themselves come from reservoir sampling and are
    NOT asserted — dask's set_index divisions are sample-derived too."""
    import pandas as pd  # noqa: F401 (mapInPandas batches are pandas)

    from wukong_spark.operators.setindex import set_index

    d = set_index(
        tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
        "o_custkey",
        16,
    ).withColumn("pid", F.spark_partition_id())

    def probe(batches):
        import pandas as pd

        pid = mn = mx = None
        cnt = 0
        sorted_ok = True
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vals = pdf["o_custkey"].to_numpy()
            pid = int(pdf["pid"].iloc[0])
            if mx is not None and vals[0] < mx:
                sorted_ok = False
            if len(vals) > 1 and bool((vals[1:] < vals[:-1]).any()):
                sorted_ok = False
            if mn is None:
                mn = int(vals[0])
            mx = int(vals[-1])
            cnt += len(pdf)
        if cnt:
            yield pd.DataFrame(
                {
                    "pid": [pid],
                    "mn": [mn],
                    "mx": [mx],
                    "cnt": [cnt],
                    "sorted_ok": [sorted_ok],
                }
            )

    stats = d.mapInPandas(
        probe, "pid int, mn bigint, mx bigint, cnt bigint, sorted_ok boolean"
    )
    # ≤16 probe rows; monotonicity via the PAIRWISE overlap check (a
    # broadcast self-join over n_partitions rows) instead of a lag
    # window — the probe output IS bounded by n_partitions, but the plan
    # can't see that, and this keeps the whole registry free of Exchange
    # SinglePartition windows (r14 plan-audit 1pw rule).  Pairwise is
    # also STRONGER than adjacent-only: an empty middle partition can't
    # hide an out-of-order pair behind a pid gap.
    from wukong_spark.session import checkpoint, register_result_checkpoint

    # probe once, join twice; backs the returned plan (harness-released)
    stats = register_result_checkpoint(checkpoint(stats))
    lo = stats.select(F.col("pid").alias("p1"), F.col("mx").alias("mx1"))
    hi = stats.select(F.col("pid").alias("p2"), F.col("mn").alias("mn2"))
    # STRICT <: range partitioning never splits equal keys, so an
    # identical key straddling two partitions (mx1 == mn2) is a
    # tie-handling regression, not a pass (ADVICE r6)
    violations = lo.join(
        F.broadcast(hi),
        (F.col("p1") < F.col("p2")) & (F.col("mx1") >= F.col("mn2")),
    ).agg(F.count(F.lit(1)).alias("n_bad"))
    return (
        stats.agg(
            F.min("sorted_ok").alias("sorted_within"),
            F.sum("cnt").alias("n_rows"),
        )
        .crossJoin(F.broadcast(violations))
        .select(
            (F.col("n_bad") == 0).alias("ranges_monotonic"),
            "sorted_within",
            "n_rows",
        )
    )


@query(
    "describe_lineitem",
    oracle="""
    WITH m AS (
      SELECT 'l_quantity' AS col,
             CAST(ROUND(l_quantity * 100) AS BIGINT) AS v FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice',
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) FROM lineitem
      UNION ALL
      SELECT 'l_discount',
             CAST(ROUND(l_discount * 100) AS BIGINT) FROM lineitem
    )
    SELECT col, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sum_c,
           MIN(v) AS min_c, MAX(v) AS max_c,
           CAST(ROUND(quantile_cont(v, 0.25) * 4) AS BIGINT) AS p25_c4,
           CAST(ROUND(quantile_cont(v, 0.50) * 4) AS BIGINT) AS p50_c4,
           CAST(ROUND(quantile_cont(v, 0.75) * 4) AS BIGINT) AS p75_c4,
           ROUND(SQRT((CAST(SUM(CAST(v AS HUGEINT) * v) AS DOUBLE)
                       - CAST(SUM(v) AS DOUBLE) * SUM(v) / COUNT(*))
                      / (COUNT(*) - 1)), 4) AS std_4
    FROM m GROUP BY col ORDER BY col
    """,
)
def describe_lineitem(spark: SparkSession, sf_dir: str):
    """pandas/dask `df.describe()` parity over lineitem's measure columns
    (count / sum / min / max / quartiles / sample std), engineered for
    cross-engine exactness:

    - values enter as integer cents, so COUNT/SUM/MIN/MAX are exact;
    - exact interpolated percentiles (Spark `percentile` ≡ DuckDB
      `quantile_cont`, index p·(n−1)) land on QUARTER-integers for
      integer inputs — scaled ×4 they are exact BIGINTs with a 0.5
      rounding margin;
    - std is NOT the builtin (incremental accumulation is
      summation-order-dependent): both engines compute it from exact
      decimal Σv and Σv² with the identical closed formula, so the
      round-4 doubles match bit-for-bit.

    Scale shape: stack (unpivot) is a map-only relabeling; one shuffle on
    the 3-value column key; percentile state is one histogram per group."""
    li = tbl(spark, sf_dir, "lineitem")
    m = li.selectExpr(
        "stack(3,"
        " 'l_quantity', CAST(ROUND(l_quantity * 100) AS BIGINT),"
        " 'l_extendedprice', CAST(ROUND(l_extendedprice * 100) AS BIGINT),"
        " 'l_discount', CAST(ROUND(l_discount * 100) AS BIGINT)"
        ") AS (col, v)"
    )
    agg = m.groupBy("col").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sum_c"),
        F.min("v").alias("min_c"),
        F.max("v").alias("max_c"),
        F.expr("percentile(v, array(0.25D, 0.5D, 0.75D))").alias("q"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).alias("s2"),
    )
    n, s1, s2 = (F.col("n").cast("double"), F.col("sum_c").cast("double"), F.col("s2").cast("double"))
    return agg.select(
        "col",
        "n",
        "sum_c",
        "min_c",
        "max_c",
        F.round(F.col("q")[0] * 4).cast("bigint").alias("p25_c4"),
        F.round(F.col("q")[1] * 4).cast("bigint").alias("p50_c4"),
        F.round(F.col("q")[2] * 4).cast("bigint").alias("p75_c4"),
        F.round(F.sqrt((s2 - s1 * s1 / n) / (n - F.lit(1.0))), 4).alias("std_4"),
    ).orderBy("col")


@query(
    "global_row_number_check",
    oracle="""
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS row_id,
           doc_id
    FROM documents ORDER BY doc_id
    """,
)
def global_row_number_check(spark: SparkSession, sf_dir: str):
    """GLOBAL CONTIGUOUS ROW NUMBERING (r11) — zipWithIndex done at
    scale (`operators/setindex.py:global_row_number`): every training
    pipeline assigns stable example ids, and the naive
    row_number().over(Window.orderBy(...)) plans an Exchange
    SinglePartition — ONE task sorts the whole table.  This operator
    instead range-partitions + locally sorts (the set_index machinery),
    collects only n_partitions row counts, and adds broadcast prefix
    offsets map-side — no global sort task anywhere (plan-pinned in
    tests/test_plan_shape.py::test_global_row_number_no_single_partition).

    Hash-checked per row against the window-function formulation the
    oracle runs — same ids, radically different physical plan."""
    from wukong_spark.operators.setindex import global_row_number

    d = tbl(spark, sf_dir, "documents").select("doc_id")
    return global_row_number(d, "doc_id", n_partitions=16).select(
        "row_id", "doc_id"
    ).orderBy("doc_id")


@query(
    "basket_pair_lift",
    # per-order distinct part pairs (i < j) via a keyed self-join on
    # l_orderkey; support counts are exact integers, lift is one double
    # expression on exact BIGINTs, round-6; top pairs gated on integer
    # support so the emitted row set can't straddle an fp boundary
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey % 200 AS item FROM lineitem
    ), n_orders AS (
      SELECT COUNT(DISTINCT l_orderkey) AS n FROM items
    ), item_n AS (
      SELECT item, COUNT(*) AS n_item FROM items GROUP BY item
    ), pairs AS (
      SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_pair
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.item < b.item
      GROUP BY a.item, b.item
    )
    SELECT p.item_a, p.item_b, p.n_pair,
           ROUND(CAST(p.n_pair AS DOUBLE) * CAST(n.n AS DOUBLE)
                 / (CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE)),
                 6) AS lift_6
    FROM pairs p
    JOIN item_n ia ON ia.item = p.item_a
    JOIN item_n ib ON ib.item = p.item_b
    CROSS JOIN n_orders n
    WHERE p.n_pair >= 10
    ORDER BY p.item_a, p.item_b
    """,
)
def basket_pair_lift(spark: SparkSession, sf_dir: str):
    """MARKET-BASKET CO-OCCURRENCE with lift (r12) — the association-
    mining support pass: distinct (order, item) pairs self-join on the
    ORDER KEY (never item×item — the join is keyed and each order holds
    ≤7 items, so pair fan-out is bounded per order), i<j kills mirror
    duplicates, and lift = P(a,b)/(P(a)·P(b)) comes out as one double
    expression over exact BIGINT supports.  The emitted set gates on
    INTEGER support (≥10 co-occurrences), so no fp boundary can decide
    membership.

    Items are partkey mod 200 (a catalog-category surrogate that gives
    real co-occurrence mass at gate scale).  100 TB path: the self-join
    shuffles on l_orderkey — linear in line items — and the per-order
    pair explosion is quadratic only in the per-basket size (bounded);
    the item-marginal table broadcasts."""
    items = (
        tbl(spark, sf_dir, "lineitem")
        .select("l_orderkey", (F.col("l_partkey") % 200).alias("item"))
        .distinct()
    )
    n_orders = items.select("l_orderkey").distinct().count()
    item_n = items.groupBy("item").agg(F.count(F.lit(1)).alias("n_item"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= 10)
    )
    return (
        pairs.join(
            F.broadcast(item_n.selectExpr("item AS item_a", "n_item AS n_a")),
            "item_a",
        )
        .join(
            F.broadcast(item_n.selectExpr("item AS item_b", "n_item AS n_b")),
            "item_b",
        )
        .select(
            "item_a",
            "item_b",
            "n_pair",
            F.round(
                F.col("n_pair").cast("double") * F.lit(float(n_orders))
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                6,
            ).alias("lift_6"),
        )
        .orderBy("item_a", "item_b")
    )


@query(
    "rfm_segmentation",
    # per-customer RFM on exact integers (recency = days to the corpus
    # max orderdate; monetary in whole cents... dollars), tercile bucket
    # via the discrete NTILE rank — NTILE's split arithmetic is integer
    # and identical in both engines; ties broken by c_custkey so the
    # assignment is total and deterministic
    oracle="""
    WITH rfm AS (
      SELECT o.o_custkey AS custkey,
             CAST(DATEDIFF('day', MAX(o.o_orderdate),
                           (SELECT MAX(o_orderdate) FROM orders))
               AS BIGINT) AS recency_days,
             COUNT(*) AS frequency,
             SUM(CAST(ROUND(o.o_totalprice) AS BIGINT)) AS monetary
      FROM orders o GROUP BY o.o_custkey
    ), scored AS (
      SELECT custkey, recency_days, frequency, monetary,
             NTILE(3) OVER (ORDER BY recency_days, custkey) AS r_bucket,
             NTILE(3) OVER (ORDER BY frequency DESC, custkey) AS f_bucket,
             NTILE(3) OVER (ORDER BY monetary DESC, custkey) AS m_bucket
      FROM rfm
    )
    SELECT r_bucket, f_bucket, m_bucket,
           COUNT(*) AS n_customers,
           CAST(SUM(monetary) AS BIGINT) AS segment_monetary
    FROM scored GROUP BY r_bucket, f_bucket, m_bucket
    ORDER BY r_bucket, f_bucket, m_bucket
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str):
    """RFM CUSTOMER SEGMENTATION (r12) — the classic CRM/warehouse
    segmentation: per-customer Recency (days to the corpus max order
    date), Frequency (order count), Monetary (whole-dollar total), each
    NTILE(3)-bucketed with a custkey tiebreak so the tercile assignment
    is total and engine-identical (NTILE's split arithmetic is pure
    integer), then rolled up to the 27-cell segment grid with exact
    integer measures.

    Plan (r14, VERDICT r13 item 2 — the documented swap IMPLEMENTED):
    NTILE over a global ORDER BY is a single-partition sort, so instead
    each tercile assignment is a broadcast BOUNDARY-VALUE comparison:
    `ntile_boundaries` gives the two cut row-ids NTILE(3) would use
    (identical integer split arithmetic), `rank_cut_values` finds the
    composite order-key tuples at those ranks via `global_row_number`
    (one range exchange over the already-reduced per-customer table,
    never a single sorting task), and the bucket column is a map-side
    struct `<=` against the two broadcast tuples — exact because the
    (value, custkey) composite is a total order.  Descending orders
    become ascending by negating the value.  Three numbering passes +
    one map-side classify; at 1e9 customers every stage is a keyed
    exchange."""
    from wukong_spark.operators.setindex import (
        ntile_boundaries,
        rank_cut_values,
    )

    o = tbl(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate")).collect()[0][0]  # one scalar date
    from wukong_spark.session import checkpoint, register_result_checkpoint

    # pinned: reused by three numbering scans + the classify pass, and
    # backs the returned plan (harness-released)
    rfm = register_result_checkpoint(
        checkpoint(
            o.groupBy(F.col("o_custkey").alias("custkey"))
            .agg(
                F.datediff(F.lit(mx), F.max("o_orderdate"))
                .cast("long")
                .alias("recency_days"),
                F.count(F.lit(1)).alias("frequency"),
                F.sum(F.round("o_totalprice").cast("long")).alias("monetary"),
            )
            .withColumn("__negf", -F.col("frequency"))
            .withColumn("__negm", -F.col("monetary"))
        )
    )
    n = rfm.count()
    bounds = ntile_boundaries(n, 3)

    types = {f.name: f.dataType for f in rfm.schema.fields}

    def tercile(key_cols):
        cuts = rank_cut_values(rfm, key_cols, bounds, n_partitions=32)
        k = F.struct(*[F.col(c) for c in key_cols])
        col = None
        for b, row in enumerate(bounds):
            if row not in cuts:
                continue
            cut = F.struct(
                *[
                    F.lit(cuts[row][c]).cast(types[c]).alias(c)
                    for c in key_cols
                ]
            )
            cond = k <= cut
            col = F.when(cond, b + 1) if col is None else col.when(cond, b + 1)
        return (col.otherwise(3) if col is not None else F.lit(3)).cast("int")

    scored = rfm.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        tercile(["recency_days", "custkey"]).alias("r_bucket"),
        tercile(["__negf", "custkey"]).alias("f_bucket"),
        tercile(["__negm", "custkey"]).alias("m_bucket"),
    )
    return (
        scored.groupBy("r_bucket", "f_bucket", "m_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary").alias("segment_monetary"),
        )
        .orderBy("r_bucket", "f_bucket", "m_bucket")
    )


@query(
    "table_diff_reconcile",
    # v2 derives from v1 by SQL-expressible rules (drop %97, bump value
    # on %101), both sides reduce to (key, md5 row fingerprint), and the
    # full-outer join classifies added/removed/changed — all exact
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey AS k,
             md5(CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|'
                 || CAST(CAST(ROUND(o_totalprice) AS BIGINT) AS VARCHAR)) AS fp
      FROM orders
    ), v2 AS (
      SELECT o_orderkey AS k,
             md5(CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|'
                 || CAST(CAST(ROUND(o_totalprice) AS BIGINT)
                         + CASE WHEN o_orderkey % 101 = 0 THEN 1 ELSE 0 END
                         AS VARCHAR)) AS fp
      FROM orders WHERE o_orderkey % 97 <> 0
    )
    SELECT
      CAST(SUM(CASE WHEN v1.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_added,
      CAST(SUM(CASE WHEN v2.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_removed,
      CAST(SUM(CASE WHEN v1.k IS NOT NULL AND v2.k IS NOT NULL
               AND v1.fp <> v2.fp THEN 1 ELSE 0 END) AS BIGINT)
        AS n_changed,
      CAST(SUM(CASE WHEN v1.fp = v2.fp THEN 1 ELSE 0 END) AS BIGINT)
        AS n_same
    FROM v1 FULL OUTER JOIN v2 ON v2.k = v1.k
    """,
)
def table_diff_reconcile(spark: SparkSession, sf_dir: str):
    """TABLE DIFF / RECONCILIATION (r12) — the data-diff every migration
    and replication pipeline runs: two table versions reduce to
    (key, md5 row fingerprint) and ONE keyed full-outer join classifies
    every key as added / removed / changed / same.  v2 derives from v1
    by deterministic rules (every 97th key dropped, every 101st value
    bumped) so the oracle replays the whole diff exactly.

    100 TB path: fingerprints are computed map-side (a scan each), the
    join ships (key, 32-byte fp) pairs only — never rows — and the
    classification is a keyed aggregate; this is the Merkle-less
    row-level reconcile, the same shape at any table size."""
    o = tbl(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )

    def fingerprint(bump: bool):
        price = F.round("o_totalprice").cast("long")
        if bump:
            price = price + F.when(F.col("o_orderkey") % 101 == 0, 1).otherwise(0)
        return F.md5(
            F.concat_ws(
                "|",
                F.col("o_custkey").cast("string"),
                F.col("o_orderstatus"),
                price.cast("string"),
            )
        )

    v1 = o.select(F.col("o_orderkey").alias("k"), fingerprint(False).alias("fp"))
    v2 = o.filter(F.col("o_orderkey") % 97 != 0).select(
        F.col("o_orderkey").alias("k"), fingerprint(True).alias("fp")
    )
    j = v1.alias("a").join(v2.alias("b"), F.col("b.k") == F.col("a.k"), "full_outer")
    return j.agg(
        F.sum(F.when(F.col("a.k").isNull(), 1).otherwise(0)).alias("n_added"),
        F.sum(F.when(F.col("b.k").isNull(), 1).otherwise(0)).alias("n_removed"),
        F.sum(
            F.when(
                F.col("a.k").isNotNull()
                & F.col("b.k").isNotNull()
                & (F.col("a.fp") != F.col("b.fp")),
                1,
            ).otherwise(0)
        ).alias("n_changed"),
        F.sum(F.when(F.col("a.fp") == F.col("b.fp"), 1).otherwise(0)).alias(
            "n_same"
        ),
    )


def _cdc_base_and_log(spark: SparkSession, sf_dir: str):
    """Shared derivation for the CDC entries: (base snapshot, changelog).

    The changelog updates every %3 key (seq 1), deletes every %6 key
    (seq 2 — a strict subset of the updates, proving LAST-WINS), and
    inserts a shifted copy of every %1000 key.  The insert shift is
    MAX(base key) — derived from the data identically in both engines
    (ADVICE r13: a fixed offset collides with real o_orderkey at
    SF≥~2), so inserted keys land strictly above every base key at ANY
    scale factor.  Prices stay integer cents so every cell is exact."""
    base = tbl(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        cents(F.col("o_totalprice")).alias("price_c"),
    )
    upd = base.filter(F.col("k") % 3 == 0).select(
        "k", F.lit(1).alias("seq"), F.lit("U").alias("op"), "status",
        (F.col("price_c") + 100).alias("price_c"),
    )
    dels = base.filter(F.col("k") % 6 == 0).select(
        "k", F.lit(2).alias("seq"), F.lit("D").alias("op"), "status", "price_c"
    )
    # insert offset derived from the data (one scalar job) — inserted
    # keys sit strictly above every base key at any SF, never colliding
    mx = int(base.agg(F.max("k")).collect()[0][0])
    ins = base.filter(F.col("k") % 1000 == 0).select(
        (F.col("k") + F.lit(mx)).alias("k"),
        F.lit(1).alias("seq"), F.lit("I").alias("op"), "status", "price_c",
    )
    return base, upd.unionByName(dels).unionByName(ins)


# the changelog derives from orders by SQL-replayable rules (update
# every %3 key, then delete every %6 key — a strict subset, proving
# LAST-WINS; insert a shifted copy of every %1000 key); prices stay
# integer cents so every cell is exact.  Shared by the batch apply and
# the streaming sink entry (stream_cdc_apply_check) — both must converge
# to the same snapshot.
_CDC_CTES = """
    WITH base AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c
      FROM orders
    ), log AS (
      SELECT k, 1 AS seq, 'U' AS op, status, price_c + 100 AS price_c
      FROM base WHERE k % 3 = 0
      UNION ALL
      SELECT k, 2 AS seq, 'D' AS op, status, price_c
      FROM base WHERE k % 6 = 0
      UNION ALL
      SELECT k + (SELECT MAX(k) FROM base) AS k, 1 AS seq, 'I' AS op,
             status, price_c
      FROM base WHERE k % 1000 = 0
    ), last AS (
      SELECT k, op, status, price_c FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        FROM log
      ) WHERE rn = 1
    ), untouched AS (
      SELECT b.k, b.status, b.price_c
      FROM base b LEFT JOIN last l ON l.k = b.k WHERE l.k IS NULL
    ), applied AS (
      SELECT k, status, price_c FROM last WHERE op <> 'D'
    )
    """

_CDC_SNAPSHOT_ORACLE = _CDC_CTES + """
    SELECT k, status, price_c FROM untouched
    UNION ALL
    SELECT k, status, price_c FROM applied
    ORDER BY k
    """

# the change feed between v0 and head is exactly the changelog, tagged with
# the commit each op landed in (commit order in the entry: D=1, U=2, I=3)
_CDC_CHANGEFEED_ORACLE = _CDC_CTES + """
    SELECT k, seq, status, price_c,
           (op = 'D') AS deleted,
           CASE op WHEN 'D' THEN 1 WHEN 'U' THEN 2 ELSE 3 END AS commit_v
    FROM log
    ORDER BY commit_v, k
    """

# head snapshot (= applied changelog) + time travel to v0 (= base), tagged
_CDC_TIMETRAVEL_ORACLE = _CDC_CTES + """
    SELECT 'head' AS snap, k, status, price_c FROM untouched
    UNION ALL
    SELECT 'head' AS snap, k, status, price_c FROM applied
    UNION ALL
    SELECT 'v0' AS snap, k, status, price_c FROM base
    ORDER BY snap, k
    """


@query("cdc_apply_changelog", oracle=_CDC_SNAPSHOT_ORACLE)
def cdc_apply_changelog(spark: SparkSession, sf_dir: str):
    """CDC CHANGELOG APPLY (r13) — the replication/lakehouse primitive
    under every Debezium/binlog consumer: given a base snapshot and an
    ordered changelog of (key, seq, op∈{I,U,D}, payload) rows, produce
    the new snapshot with LAST-WINS semantics per key.  The derived log
    updates every %3 key then deletes every %6 key (a strict subset —
    those keys must come out DELETED, proving seq order beats op
    union order) and inserts shifted copies of every %1000 key.  The
    insert shift is MAX(base key) — derived from the data identically
    in both engines (ADVICE r13: a fixed +10M offset collides with real
    o_orderkey at SF≥~2, giving a key two seq=1 rows and a
    nondeterministic ROW_NUMBER tie), so inserted keys land strictly
    above every base key at ANY scale factor.

    Plan: one per-key rank window over the changelog (last op wins),
    one left-anti join to find untouched base rows, one union.  At
    100 TB both the window and the anti-join key on the primary key —
    the changelog is typically ≪ base, so the last-op table BROADCASTS
    and the base never shuffles; with a bucketed base layout
    (layout.py) even the anti-join probe is exchange-free.  This is
    exactly the per-micro-batch MERGE the streaming upsert sink
    emulates — here as the one-shot batch form."""
    from pyspark.sql.window import Window

    base, log = _cdc_base_and_log(spark, sf_dir)
    w = Window.partitionBy("k").orderBy(F.col("seq").desc())
    last = (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("k", "op", "status", "price_c")
    )
    untouched = base.join(last.select("k"), "k", "left_anti")
    applied = last.filter(F.col("op") != "D").select("k", "status", "price_c")
    return untouched.unionByName(applied).orderBy("k")


@query("stream_cdc_apply_check", oracle=_CDC_SNAPSHOT_ORACLE)
def stream_cdc_apply_check(spark: SparkSession, sf_dir: str):
    """STREAMING CDC APPLY WITH DELETES (r16, VERDICT r15 Next #6) —
    the same changelog as `cdc_apply_changelog`, but applied through the
    bucketed streaming sink: the base snapshot seeds
    `BucketedUpsertState(mode="latest", delete_col=...)`, then the
    changelog streams in ≥4 micro-batches (file-per-trigger, keys split
    arbitrarily across batches) and each batch MERGEs via foreachBatch.
    op='D' rows become TOMBSTONES: a winning tombstone is retained in
    state with its seq (so the combine stays an associative argmax and a
    late-arriving older update can't resurrect the key) and filtered on
    read.  The final snapshot must hash-match the one-shot batch apply —
    delete/update/insert convergence under arbitrary batch splits.

    100 TB path: per batch the delta pre-reduces to one row per key
    (keyed argmax over seq), broadcasts into the touched buckets, and
    only those bucket partitions are rewritten — MERGE INTO with deletes
    on plain parquet."""
    import shutil
    import tempfile
    import uuid

    from wukong_spark.streaming import BucketedUpsertState, run_foreach_batch

    base, log = _cdc_base_and_log(spark, sf_dir)
    work = tempfile.mkdtemp(prefix=f"stream_cdc_{uuid.uuid4().hex[:8]}-")
    state = BucketedUpsertState(
        spark, f"{work}/state", "k", n_buckets=8,
        mode="latest", order_col="seq", delete_col="deleted",
    )
    try:
        src = f"{work}/src"
        log.repartition(4).write.parquet(src)

        def reduce_batch(df):
            # ≤1 row per key per merge: argmax over seq (per-key seqs are
            # distinct by construction, so max_by is deterministic)
            return df.groupBy("k").agg(
                F.max("seq").alias("seq"),
                F.max_by("status", "seq").alias("status"),
                F.max_by("price_c", "seq").alias("price_c"),
                F.max_by(F.col("op") == F.lit("D"), "seq").alias("deleted"),
            )

        # seed: the base snapshot is seq-0 upserts (no tombstones)
        state.merge(
            base.select(
                "k", F.lit(0).alias("seq"), "status", "price_c",
                F.lit(False).alias("deleted"),
            )
        )
        stream = (
            spark.readStream.schema(log.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        epochs = run_foreach_batch(
            stream, lambda bdf, _eid: state.merge(reduce_batch(bdf))
        )
        assert len(epochs) >= 4, f"expected >=4 micro-batches, got {epochs}"
        rows = state.read().select("k", "status", "price_c").collect()
        return local_frame(spark,
            rows, "k long, status string, price_c long"
        ).orderBy("k")
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query("lakehouse_snapshot_merge_check", oracle=_CDC_TIMETRAVEL_ORACLE)
def lakehouse_snapshot_merge_check(spark: SparkSession, sf_dir: str):
    """SNAPSHOT TABLE FORMAT end-to-end (r16, VERDICT r15 missing #1) —
    the lakehouse MERGE surface on plain parquet
    (`wukong_spark/tableformat.py`): the base snapshot commits as v0,
    then the CDC changelog lands as three MERGE-ON-READ commits applied
    OUT OF SEQ ORDER (deletes before the updates they supersede — the
    argmax over (seq, commit) must still converge), then `compact()`
    rewrites the head as a new snapshot and `vacuum()` reclaims
    unreferenced files keeping only {v0, head}.  The returned rows are
    the post-compaction HEAD (must equal the batch CDC apply) unioned
    with TIME TRAVEL to v0 (must equal the untouched base) — snapshot
    isolation, atomic commit, time travel, compaction-transaction and GC
    all behind one hash.

    100 TB path: each commit's IO is O(delta) (append-only files +
    an O(files) manifest); reads prune to manifest-listed files; compact
    bounds read-side merge cost per bucket.  Reference analogue: the
    publish/persist dataset surface (`client.py:2213-2340`)."""
    import shutil
    import tempfile
    import uuid

    from wukong_spark.tableformat import SnapshotStateTable

    base, log = _cdc_base_and_log(spark, sf_dir)
    work = tempfile.mkdtemp(prefix=f"lakehouse_{uuid.uuid4().hex[:8]}-")
    try:
        t = SnapshotStateTable(
            spark, f"{work}/t", "k", n_buckets=8,
            mode="latest", order_col="seq", delete_col="deleted",
        )
        as_delta = lambda df: df.select(
            "k", "seq", "status", "price_c",
            (F.col("op") == F.lit("D")).alias("deleted"),
        )
        v0 = t.merge(
            base.select(
                "k", F.lit(0).alias("seq"), "status", "price_c",
                F.lit(False).alias("deleted"),
            )
        )
        # out-of-order commits: D (seq 2) lands BEFORE U (seq 1)
        for op in ("D", "U", "I"):
            t.merge(as_delta(log.filter(F.col("op") == op)))
        head_v = t.compact()  # head advances; read()-rows must be unchanged
        # GC everything except the archival v0 and the compacted head —
        # the mid-changelog snapshots' files are reclaimed, and both
        # reads below run AFTER the vacuum, proving it kept what it must
        t.vacuum(keep=[v0, head_v])
        rows_head = t.read().select("k", "status", "price_c").collect()
        return local_frame(spark,
            rows_head, "k long, status string, price_c long"
        ).select(
            F.lit("head").alias("snap"), "k", "status", "price_c"
        ).unionByName(
            local_frame(spark,
                t.read(version=v0).select("k", "status", "price_c").collect(),
                "k long, status string, price_c long",
            ).select(F.lit("v0").alias("snap"), "k", "status", "price_c")
        ).orderBy("snap", "k")
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query("lakehouse_change_feed_check", oracle=_CDC_CHANGEFEED_ORACLE)
def lakehouse_change_feed_check(spark: SparkSession, sf_dir: str):
    """CHANGE DATA FEED out of the snapshot table (r16) — the other
    direction of the lakehouse loop: after the base commits as v0 and
    the changelog lands as three merge commits (D, U, I in that order),
    `read_changes(v0, head)` must return EXACTLY the changelog rows,
    each tagged with the commit version it landed in — what a downstream
    incremental consumer applies to follow the table without rescanning
    it.  The read touches only the files those commits appended
    (manifest set difference; inputFiles-pinned in
    tests/test_tableformat.py), so feed cost is O(changes).

    Reference analogue: publish/republish of evolving datasets
    (`client.py:2213-2340`) — here consumers pull precise diffs instead
    of whole republished frames."""
    import shutil
    import tempfile
    import uuid

    from wukong_spark.tableformat import SnapshotStateTable

    base, log = _cdc_base_and_log(spark, sf_dir)
    work = tempfile.mkdtemp(prefix=f"lakefeed_{uuid.uuid4().hex[:8]}-")
    try:
        t = SnapshotStateTable(
            spark, f"{work}/t", "k", n_buckets=8,
            mode="latest", order_col="seq", delete_col="deleted",
        )
        as_delta = lambda df: df.select(
            "k", "seq", "status", "price_c",
            (F.col("op") == F.lit("D")).alias("deleted"),
        )
        v0 = t.merge(
            base.select(
                "k", F.lit(0).alias("seq"), "status", "price_c",
                F.lit(False).alias("deleted"),
            )
        )
        head = v0
        for op in ("D", "U", "I"):
            head = t.merge(as_delta(log.filter(F.col("op") == op)))
        rows = (
            t.read_changes(v0, head)
            .select(
                "k", "seq", "status", "price_c", "deleted",
                F.col("__commit").alias("commit_v"),
            )
            .collect()
        )
        return local_frame(spark,
            rows,
            "k long, seq int, status string, price_c long, deleted boolean,"
            " commit_v long",
        ).orderBy("commit_v", "k")
    finally:
        shutil.rmtree(work, ignore_errors=True)


# feed straddling a compaction: D lands at v1, the compactor commits v2
# (data_unchanged — SKIPPED by the feed), U at v3, I at v4
_CDC_CHANGEFEED_COMPACT_ORACLE = _CDC_CTES + """
    SELECT k, seq, status, price_c,
           (op = 'D') AS deleted,
           CASE op WHEN 'D' THEN 1 WHEN 'U' THEN 3 ELSE 4 END AS commit_v
    FROM log
    ORDER BY commit_v, k
    """


@query(
    "lakehouse_change_feed_compact_check",
    oracle=_CDC_CHANGEFEED_COMPACT_ORACLE,
)
def lakehouse_change_feed_compact_check(spark: SparkSession, sf_dir: str):
    """CHANGE FEED ACROSS COMPACTION (r17, VERDICT r16 #2) — the ingest
    loop every lakehouse runs: merges and the compactor interleave, and
    an incremental consumer's (a, b] range inevitably straddles an
    OPTIMIZE.  Here the D commit lands (v1), the compactor rewrites the
    head (v2, flagged ``data_unchanged`` in its manifest), then U (v3)
    and I (v4) land; ``read_changes(v0, v4)`` must return EXACTLY the
    changelog rows tagged with their true commit versions — the
    compaction contributes nothing (bytes moved, no rows changed), and
    the D commit's appended files stay readable through the per-commit
    manifest diff even though the head manifest no longer references
    them.  Before r17 this raised, breaking consumers on day one of the
    documented ingest-compactor loop (Delta/Iceberg CDF skip OPTIMIZE
    commits for exactly this reason).

    100 TB path: the feed reads O(changes) files per merge commit
    (per-commit manifest set difference), never a table scan; vacuum
    bounds the lookback window exactly like Delta's CDF retention."""
    import shutil
    import tempfile
    import uuid

    from wukong_spark.tableformat import SnapshotStateTable

    base, log = _cdc_base_and_log(spark, sf_dir)
    work = tempfile.mkdtemp(prefix=f"lakefeedc_{uuid.uuid4().hex[:8]}-")
    try:
        t = SnapshotStateTable(
            spark, f"{work}/t", "k", n_buckets=8,
            mode="latest", order_col="seq", delete_col="deleted",
        )
        as_delta = lambda df: df.select(
            "k", "seq", "status", "price_c",
            (F.col("op") == F.lit("D")).alias("deleted"),
        )
        v0 = t.merge(
            base.select(
                "k", F.lit(0).alias("seq"), "status", "price_c",
                F.lit(False).alias("deleted"),
            )
        )
        t.merge(as_delta(log.filter(F.col("op") == "D")))   # v1
        cv = t.compact()                                    # v2, data_unchanged
        assert t._load_manifest(cv)["data_unchanged"] is True
        t.merge(as_delta(log.filter(F.col("op") == "U")))   # v3
        head = t.merge(as_delta(log.filter(F.col("op") == "I")))  # v4
        rows = (
            t.read_changes(v0, head)
            .select(
                "k", "seq", "status", "price_c", "deleted",
                F.col("__commit").alias("commit_v"),
            )
            .collect()
        )
        return local_frame(spark,
            rows,
            "k long, seq int, status string, price_c long, deleted boolean,"
            " commit_v long",
        ).orderBy("commit_v", "k")
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query("lakehouse_objstore_merge_check", oracle=_CDC_TIMETRAVEL_ORACLE)
def lakehouse_objstore_merge_check(spark: SparkSession, sf_dir: str):
    """SNAPSHOT TABLE ON AN OBJECT STORE (r17, VERDICT r16 #1) — the
    same end-to-end CDC flow as `lakehouse_snapshot_merge_check` (base
    v0, out-of-order D/U/I merges, compact, vacuum to {v0, head}, head
    read + time travel), but every durable byte goes through
    `storage.SimulatedObjectStore`: atomic single-object PUT +
    conditional put-if-absent, NO rename primitive anywhere — the honest
    S3 contract.  Hash-matching the batch oracle here proves the commit
    protocol (publish-to-final-immutable-names, manifest claim by
    conditional put) is correct without filesystem rename atomicity,
    which is what the 100 TB deployment target actually offers.  The
    reference engine itself is AWS-storage-native
    (``docs/design/architecture.rst:73-88``)."""
    import shutil
    import tempfile
    import uuid

    from wukong_spark.storage import SimulatedObjectStore
    from wukong_spark.tableformat import SnapshotStateTable

    base, log = _cdc_base_and_log(spark, sf_dir)
    work = tempfile.mkdtemp(prefix=f"lakeobj_{uuid.uuid4().hex[:8]}-")
    try:
        t = SnapshotStateTable(
            spark, f"{work}/scratch", "k", n_buckets=8,
            mode="latest", order_col="seq", delete_col="deleted",
            storage=SimulatedObjectStore(f"{work}/remote"),
        )
        as_delta = lambda df: df.select(
            "k", "seq", "status", "price_c",
            (F.col("op") == F.lit("D")).alias("deleted"),
        )
        v0 = t.merge(
            base.select(
                "k", F.lit(0).alias("seq"), "status", "price_c",
                F.lit(False).alias("deleted"),
            )
        )
        for op in ("D", "U", "I"):
            t.merge(as_delta(log.filter(F.col("op") == op)))
        head_v = t.compact()
        t.vacuum(keep=[v0, head_v], stage_retention_s=0.0)
        rows_head = t.read().select("k", "status", "price_c").collect()
        return local_frame(spark,
            rows_head, "k long, status string, price_c long"
        ).select(
            F.lit("head").alias("snap"), "k", "status", "price_c"
        ).unionByName(
            local_frame(spark,
                t.read(version=v0).select("k", "status", "price_c").collect(),
                "k long, status string, price_c long",
            ).select(F.lit("v0").alias("snap"), "k", "status", "price_c")
        ).orderBy("snap", "k")
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query("lakehouse_rebase_disjoint_check", oracle=_CDC_SNAPSHOT_ORACLE)
def lakehouse_rebase_disjoint_check(spark: SparkSession, sf_dir: str):
    """COMMIT AUTO-REBASE (r17, VERDICT r16 #4) — two writers derive
    their deltas from the SAME snapshot v0 and race: the changelog is
    split BY BUCKET (pmod(hash(k), 8) < 4 vs ≥ 4, so the two write sets
    are disjoint by construction), writer B lands v1, then writer A
    commits with ``expect_version=v0`` — a lost race.  Because every
    intervening commit's touched buckets are disjoint from A's, the
    merge REBASES automatically: restages with the corrected commit
    version and lands as v2 (asserted), with no data loss on either
    side.  The converged snapshot must equal the one-shot batch CDC
    apply — the multi-writer ergonomics layer over the OCC protocol
    (overlapping write sets still raise, pinned in
    tests/test_storage_lakehouse.py).

    100 TB path: rebase costs one extra O(delta) restage, never a
    re-derivation of the delta; disjointness is decided from manifest
    diffs alone (O(files), no data read)."""
    import shutil
    import tempfile
    import uuid

    from wukong_spark.tableformat import SnapshotStateTable

    base, log = _cdc_base_and_log(spark, sf_dir)
    work = tempfile.mkdtemp(prefix=f"lakereb_{uuid.uuid4().hex[:8]}-")
    try:
        t = SnapshotStateTable(
            spark, f"{work}/t", "k", n_buckets=8,
            mode="latest", order_col="seq", delete_col="deleted",
        )
        as_delta = lambda df: df.select(
            "k", "seq", "status", "price_c",
            (F.col("op") == F.lit("D")).alias("deleted"),
        )
        v0 = t.merge(
            base.select(
                "k", F.lit(0).alias("seq"), "status", "price_c",
                F.lit(False).alias("deleted"),
            )
        )
        low = F.pmod(F.hash("k"), F.lit(8)) < 4
        delta_b = as_delta(log.filter(~low))
        delta_a = as_delta(log.filter(low))
        v1 = t.merge(delta_b, expect_version=v0)
        assert v1 == v0 + 1
        # writer A's read-set is stale; its buckets are disjoint from
        # v1's, so the merge must rebase and land (never raise)
        v2 = t.merge(delta_a, expect_version=v0)
        assert v2 == v1 + 1, f"expected rebase to land at {v1 + 1}, got {v2}"
        rows = t.read().select("k", "status", "price_c").collect()
        return local_frame(spark,
            rows, "k long, status string, price_c long"
        ).orderBy("k")
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "bloom_semijoin_reduction",
    # the Bloom pre-filter can only ADD false positives, and the exact
    # semi-join afterwards removes them — so the result is exactly the
    # plain semi-join in both engines; the reduction boolean asserts the
    # pre-filter's selectivity evidence (pass-rate under 1/2), which
    # holds with huge margin for a 1-of-25-nations dimension
    oracle="""
    WITH dim AS (
      SELECT c_custkey FROM customer WHERE c_nationkey = 5
    ), sj AS (
      SELECT o.o_orderkey, o.o_custkey,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS price_c
      FROM orders o JOIN dim d ON d.c_custkey = o.o_custkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_matched,
           CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           TRUE AS results_exact,
           TRUE AS prefilter_reduced
    FROM sj
    """,
)
def bloom_semijoin_reduction(spark: SparkSession, sf_dir: str):
    """BLOOM SEMI-JOIN REDUCTION (r13) — the classic distributed-join
    lever: before shuffling the fact table into a join, broadcast a
    Bloom filter of the (small) dimension keys and drop non-matching
    fact rows MAP-SIDE, so only plausible matches ever enter the
    exchange.  The exact join afterwards removes the Bloom's false
    positives, so results are identical to the plain semi-join — the
    filter changes the DATA MOVED, never the answer.

    Evidence emitted: the pre-filter's pass count must be under half
    the fact table (a 1-of-25-nations dimension passes ~4 % + ε false
    positives), and the final aggregates hash-check against the plain
    SQL semi-join.  At 100 TB this is the difference between shuffling
    the whole fact table and shuffling a few percent of it — the same
    optimization Spark's runtime row-level bloom join performs, here
    explicit and portable to any key type the membership layer hashes."""
    from wukong_spark.operators.membership import bloom_build, bloom_probe

    dim = (
        tbl(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") == 5)
        .select("c_custkey")
    )
    o = tbl(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", cents(F.col("o_totalprice")).alias("price_c")
    )
    # size the filter from the measured dim cardinality (~10 bits/key,
    # rounded up to a power of two) instead of a fixed 1<<20 — at large
    # SF a fixed size saturates, the FP rate passes >50 % of the fact
    # table, and the reduction boolean flips against the constant-TRUE
    # oracle (ADVICE r13).  The dim count is one scalar job on a table
    # that must be counted anyway for the bits/key budget.
    n_dim = dim.count()
    # cap at 2^30 bits (128 MB broadcast): beyond ~100M keys a single
    # driver-built bitmap is the wrong tool — Spark's runtime row-level
    # bloom join (partition-local filters) is the production lever there
    n_bits = 1 << min(30, max(20, (10 * max(n_dim, 1)).bit_length()))
    bits = bloom_build(dim, "c_custkey", n_bits=n_bits)
    n_total = o.count()
    probed = bloom_probe(o, "o_custkey", bits).filter(F.col("maybe"))
    n_pass = probed.count()
    # exact join on the reduced side drops Bloom false positives
    semi = probed.join(F.broadcast(dim), probed.o_custkey == dim.c_custkey)
    agg = semi.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("price_c").alias("s"),
        F.countDistinct("o_custkey").alias("c"),
    ).collect()[0]
    # cross-check: the plain (unfiltered) semi-join must agree — the
    # pre-filter may only ever change data movement, not the answer
    plain = o.join(F.broadcast(dim), o.o_custkey == dim.c_custkey).agg(
        F.count(F.lit(1)).alias("n"), F.sum("price_c").alias("s")
    ).collect()[0]
    exact = bool(agg["n"] == plain["n"] and agg["s"] == plain["s"])
    return local_frame(spark,
        [
            (
                int(agg["n"]),
                int(agg["s"]),
                int(agg["c"]),
                exact,
                bool(n_pass * 2 < n_total),
            )
        ],
        "n_matched bigint, sum_price_c bigint, n_customers bigint,"
        " results_exact boolean, prefilter_reduced boolean",
    )


@query(
    "revenue_decile_concentration",
    # Lorenz/decile report in exact integers: deciles from the 0-based
    # revenue rank via bucket = rid*10 DIV n (the equidepth-histogram
    # formula — identical integer split in both engines), cumulative
    # revenue from an exact running sum; shares are single divisions of
    # exact BIGINTs rounded to 6dp (bit-stable cross-engine)
    oracle="""
    WITH rev AS (
      SELECT o_custkey AS custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders GROUP BY o_custkey
    ), r AS (
      SELECT custkey, rev_c,
             ROW_NUMBER() OVER (ORDER BY rev_c, custkey) - 1 AS rid,
             CAST(SUM(rev_c) OVER (
               ORDER BY rev_c, custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_c,
             COUNT(*) OVER () AS n,
             COALESCE((SELECT CAST(SUM(rev_c) AS BIGINT) FROM rev), 0)
               AS total_c
      FROM rev
    )
    SELECT CAST((rid * 10) // n AS INTEGER) + 1 AS decile,
           COUNT(*) AS n_customers,
           CAST(SUM(rev_c) AS BIGINT) AS decile_rev_c,
           CAST(MAX(cum_c) AS BIGINT) AS cum_rev_c,
           ROUND(CAST(SUM(rev_c) AS DOUBLE) / CAST(MAX(total_c) AS DOUBLE),
                 6) AS share_6,
           ROUND(CAST(MAX(cum_c) AS DOUBLE) / CAST(MAX(total_c) AS DOUBLE),
                 6) AS cum_share_6
    FROM r GROUP BY (rid * 10) // n ORDER BY decile
    """,
)
def revenue_decile_concentration(spark: SparkSession, sf_dir: str):
    """REVENUE DECILE / LORENZ CONCENTRATION REPORT (r14) — the
    inequality profile every CRM and marketplace warehouse publishes:
    customers ranked ascending by revenue, split into ten equal-count
    deciles (bucket = rank·10 DIV n — the equidepth integer split), each
    reporting its customer count, revenue mass, CUMULATIVE revenue (the
    Lorenz curve's y-values at decile knots), and both as shares of
    total.  "The top decile holds 1 − cum_share(9) of revenue" is the
    Gini/80-20 readout, here kept in exact integers until two final
    divisions.

    Plan (the r14 rank-cut machinery end-to-end): one keyed revenue agg,
    then ONE `global_cumsum(row_col=...)` pass — a range exchange on
    (rev_c, custkey) emitting the running sum AND the global row number
    from the same broadcast prefix offsets — then a 10-group agg.
    Cumulative-at-decile-end = MAX(cum) per bucket, valid because rev_c
    ≥ 0 makes the running sum monotone along the rank order.  No window
    anywhere, no single-partition stage; every shuffle is keyed or
    10-row.  Bounds: cents totals ~1e17 at 100 TB and rid·10 ~1e10 —
    both well inside int64."""
    from wukong_spark.operators.setindex import global_cumsum

    rev = (
        tbl(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.sum(cents(F.col("o_totalprice"))).cast("long").alias("rev_c"))
    )
    n = rev.count()
    tot = rev.agg(F.sum("rev_c").cast("long").alias("total_c"))
    c = global_cumsum(
        rev,
        "rev_c",
        ["rev_c", "custkey"],
        n_partitions=32,
        out_col="cum_c",
        row_col="rid",
    )
    return (
        c.withColumn(
            "decile", F.expr(f"CAST((rid * 10) DIV {n} AS INT) + 1")
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("rev_c").cast("long").alias("decile_rev_c"),
            F.max("cum_c").cast("long").alias("cum_rev_c"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_customers",
            "decile_rev_c",
            "cum_rev_c",
            F.round(
                F.col("decile_rev_c").cast("double")
                / F.col("total_c").cast("double"),
                6,
            ).alias("share_6"),
            F.round(
                F.col("cum_rev_c").cast("double")
                / F.col("total_c").cast("double"),
                6,
            ).alias("cum_share_6"),
        )
        .orderBy("decile")
    )


@query(
    "pareto_abc_customers",
    # revenue ranks order by (revenue DESC, custkey) — a total order; the
    # class boundaries compare integer cumsums against integer totals
    # scaled by 100 (cum*100 <= total*80), so classification is exact
    # integer arithmetic end-to-end
    oracle="""
    WITH rev AS (
      SELECT o_custkey AS custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT custkey, rev_c,
             CAST(SUM(rev_c) OVER (
               ORDER BY rev_c DESC, custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_c,
             (SELECT CAST(SUM(rev_c) AS BIGINT) FROM rev) AS total_c
      FROM rev
    ), classed AS (
      SELECT custkey, rev_c,
             CASE WHEN cum_c * 100 <= total_c * 80 THEN 'A'
                  WHEN cum_c * 100 <= total_c * 95 THEN 'B'
                  ELSE 'C' END AS cls
      FROM ranked
    )
    SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(rev_c) AS BIGINT) AS class_rev_c,
           CAST(MIN(rev_c) AS BIGINT) AS min_rev_c,
           CAST(MAX(rev_c) AS BIGINT) AS max_rev_c
    FROM classed GROUP BY cls ORDER BY cls
    """,
)
def pareto_abc_customers(spark: SparkSession, sf_dir: str):
    """PARETO / ABC ANALYSIS (r13) — the inventory-and-CRM classic: rank
    customers by revenue, classify A = the ranks covering the first 80 %
    of cumulative revenue, B = to 95 %, C = the tail, and report each
    class's size and revenue mass.  Classification compares integer
    cumulative cents against the integer total scaled by 100
    (cum·100 ≤ total·80), so the boundaries are exact in both engines —
    no percentage float ever materializes.  Bound: total·100 needs
    cents·100 < 2^63 — orders revenue at 100 TB is ~1e15 cents, 1e17
    scaled, three orders under the limit.

    Plan (r14, VERDICT r13 item 2 — the documented trade IMPLEMENTED):
    one keyed revenue agg, then the cumulative revenue via
    `operators/setindex.global_cumsum` — a range exchange on
    (−rev_c, custkey) + broadcast prefix offsets + map-side local
    cumsum — NOT a ``SUM OVER (ORDER BY …)`` single-partition window.
    At 1e9 customers the old window funnelled every reduced row through
    one sorting task; this plan's only global step is n_partitions
    scalars to the driver.  Broadcast scalar total, one 3-group agg."""
    from wukong_spark.operators.setindex import global_cumsum

    rev = (
        tbl(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.sum(cents(F.col("o_totalprice"))).cast("long").alias("rev_c"))
        # descending revenue as an ascending composite key: negate
        .withColumn("__negrev", -F.col("rev_c"))
    )
    tot = rev.agg(F.sum("rev_c").cast("long").alias("total_c"))
    classed = (
        global_cumsum(
            rev, "rev_c", ["__negrev", "custkey"], n_partitions=32,
            out_col="cum_c",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "custkey",
            "rev_c",
            F.when(F.col("cum_c") * 100 <= F.col("total_c") * 80, "A")
            .when(F.col("cum_c") * 100 <= F.col("total_c") * 95, "B")
            .otherwise("C")
            .alias("cls"),
        )
    )
    return (
        classed.groupBy("cls")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("rev_c").cast("long").alias("class_rev_c"),
            F.min("rev_c").alias("min_rev_c"),
            F.max("rev_c").alias("max_rev_c"),
        )
        .orderBy("cls")
    )


@query(
    "running_alltime_low_orders",
    # all-time-low records: rows whose price equals the running MIN over
    # the (o_orderdate, o_orderkey) total order — exact cents, small
    # deterministic output
    oracle="""
    WITH w AS (
      SELECT o_orderkey, o_orderdate,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c,
             MIN(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER (
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS low_c
      FROM orders
    )
    SELECT o_orderkey, o_orderdate, price_c, low_c
    FROM w WHERE price_c = low_c ORDER BY o_orderkey
    """,
)
def running_alltime_low_orders(spark: SparkSession, sf_dir: str):
    """GENERALIZED ORDERED-PREFIX SCAN through the gate (r15, VERDICT
    r14 item 6/7): `operators.setindex.global_scan(op="min")` — the
    running all-time-low price in order-date order, emitting the rows
    that set a record low.  The oracle is the unpartitioned
    ``MIN OVER (ORDER BY …)`` window this operator replaces: DuckDB can
    run it single-node; at 100 TB the scan's range exchange +
    O(n_partitions) broadcast prefix is the plan that survives.

    One consumer of the r15 `global_scan` generalization — `max` (via
    global_cummax/events_max_drawdown), `sum` (global_cumsum family)
    and now `min` all share the same derived offsets machinery."""
    from wukong_spark.operators.setindex import global_scan

    o = tbl(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        cents("o_totalprice").alias("price_c"),
    )
    scanned = global_scan(
        o,
        "price_c",
        ["o_orderdate", "o_orderkey"],
        op="min",
        n_partitions=32,
        out_col="low_c",
    )
    return scanned.filter(F.col("price_c") == F.col("low_c")).select(
        "o_orderkey", "o_orderdate", "price_c", "low_c"
    ).orderBy("o_orderkey")


_KEY_SKIPPING_ORACLE = """
WITH b AS (
  SELECT MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi FROM orders
), cuts AS (
  SELECT lo + (hi - lo) // 3 AS c1, lo + 2 * ((hi - lo) // 3) AS c2 FROM b
), w2 AS (
  SELECT o_orderkey AS k, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
  FROM orders, cuts WHERE o_orderkey > c1 AND o_orderkey <= c2
)
SELECT
  COUNT(*) AS n_keys,
  CAST(SUM(v) + COUNT(*) AS BIGINT) AS sum_v,
  TRUE AS prune_effective,
  TRUE AS prune_exact
FROM w2
"""


@query("lakehouse_key_skipping_check", oracle=_KEY_SKIPPING_ORACLE)
def lakehouse_key_skipping_check(spark: SparkSession, sf_dir: str):
    """FILE-LEVEL DATA SKIPPING on the snapshot table (r17) — the
    Delta/Iceberg stats-pruning contract: every staged parquet file's
    footer min/max/null-count is harvested into the manifest at commit
    time (`tableformat._footer_stats` — no data pages read; the writer
    already paid for the statistics), and `read(key_range=...)` opens
    ONLY files whose key window can intersect the range.  Skipping is
    offered on the KEY column alone: on a merge-on-read table the key
    determines the reduce group, so pruning key-disjoint files is
    invisible to sums/argmaxes, while a value-column predicate could not
    drop a file without corrupting them — the documented boundary.

    The fixture is the shape skipping exists for — time-ordered ingest:
    orders lands as three key-window commits (thirds of the orderkey
    domain) plus a fourth update commit back into the middle window
    (+1 cent per key, proving pruned reads still merge); the middle-
    window range read must (a) match the full-scan oracle and (b)
    PROVE pruning: `prune_info` keeps exactly the files the two
    middle-window commits staged — every other commit's files are
    skipped without being opened, however Spark split them.

    100 TB path: the manifest is O(files) and the prune is a driver-side
    stats scan — a range read over a petabyte table opens only the
    commits whose ingest window overlaps, exactly Delta's per-AddFile
    stats pruning."""
    import shutil
    import tempfile
    import uuid

    from wukong_spark.tableformat import SnapshotStateTable

    o = tbl(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), cents("o_totalprice").alias("v")
    )
    lo, hi = o.agg(F.min("k"), F.max("k")).first()
    c1, c2 = lo + (hi - lo) // 3, lo + 2 * ((hi - lo) // 3)
    work = tempfile.mkdtemp(prefix=f"lakehouse_skip_{uuid.uuid4().hex[:8]}-")
    try:
        t = SnapshotStateTable(spark, f"{work}/t", "k", n_buckets=4)
        t.merge(o.filter(F.col("k") <= c1))                          # v0
        t.merge(o.filter((F.col("k") > c1) & (F.col("k") <= c2)))    # v1
        t.merge(o.filter(F.col("k") > c2))                           # v2
        t.merge(                                                     # v3
            o.filter((F.col("k") > c1) & (F.col("k") <= c2))
            .withColumn("v", F.lit(1).cast("long"))
        )
        kept, total = t.prune_info((c1 + 1, c2))
        # exactly the two middle-window commits' files survive the prune
        head = t.current_version()
        files_at = lambda v: {
            r for fl in t._load_manifest(v)["files"].values() for r in fl
        }
        mid_files = (files_at(1) - files_at(0)) | (files_at(3) - files_at(2))
        res = t.read(key_range=(c1 + 1, c2)).agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("v").alias("sum_v"),
        ).first()
        return local_frame(spark,
            [(res["n_keys"], res["sum_v"], kept < total, kept == len(mid_files))],
            "n_keys long, sum_v long, prune_effective boolean, prune_exact boolean",
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


_SCHEMA_EVOLUTION_ORACLE = """
WITH head AS (
  SELECT
    o_orderkey AS k,
    CASE WHEN o_orderkey % 7 = 0 THEN LOWER(o_orderstatus)
         ELSE o_orderstatus END AS status,
    CASE WHEN o_orderkey % 7 = 0
         THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END AS price_c
  FROM orders
)
SELECT
  status,
  COUNT(*) AS n,
  COUNT(price_c) AS n_priced,
  CAST(COALESCE(SUM(price_c), 0) AS BIGINT) AS sum_price_c
FROM head GROUP BY status ORDER BY status
"""


@query("lakehouse_schema_evolution_check", oracle=_SCHEMA_EVOLUTION_ORACLE)
def lakehouse_schema_evolution_check(spark: SparkSession, sf_dir: str):
    """SCHEMA EVOLUTION on the snapshot table (r17) — Delta's mergeSchema
    contract: `merge(delta, schema_evolution=True)` widens the table with
    the delta's new columns; the commit's manifest records the widened
    schema, and every read resolves data files against the VERSION'S
    committed schema, so files written before a column existed surface it
    as NULL (never whichever schema the parquet reader samples).  Without
    the flag a mismatched delta still raises — enforcement stays the
    default.

    Fixture: orders commits as v0 (k, seq, status); the multiples-of-7
    subset then commits with a NEW price_c column and a lowered status at
    seq=1 (mode='latest', so the argmax carries the widened payload).
    The head groups by status: evolved keys show lowercase status and a
    price, un-evolved keys keep the original status with price_c NULL —
    the NULL-backfill read path under the aggregate.  Time travel to v0
    must NOT show the column (pinned in tests).

    100 TB path: widening is a metadata-only change for existing data —
    no file is rewritten; old files read as-is under the new schema."""
    import shutil
    import tempfile
    import uuid

    from wukong_spark.tableformat import SnapshotStateTable

    o = tbl(spark, sf_dir, "orders")
    work = tempfile.mkdtemp(prefix=f"lakehouse_evo_{uuid.uuid4().hex[:8]}-")
    try:
        t = SnapshotStateTable(
            spark, f"{work}/t", "k", n_buckets=4,
            mode="latest", order_col="seq",
        )
        t.merge(
            o.select(
                F.col("o_orderkey").alias("k"),
                F.lit(0).cast("long").alias("seq"),
                F.col("o_orderstatus").alias("status"),
            )
        )
        t.merge(
            o.filter(F.col("o_orderkey") % 7 == 0).select(
                F.col("o_orderkey").alias("k"),
                F.lit(1).cast("long").alias("seq"),
                F.lower("o_orderstatus").alias("status"),
                cents("o_totalprice").alias("price_c"),
            ),
            schema_evolution=True,
        )
        rows = (
            t.read()
            .groupBy("status")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count("price_c").alias("n_priced"),
                F.coalesce(F.sum("price_c"), F.lit(0)).alias("sum_price_c"),
            )
            .collect()
        )
        return local_frame(spark,
            rows, "status string, n long, n_priced long, sum_price_c long"
        ).orderBy("status")
    finally:
        shutil.rmtree(work, ignore_errors=True)


_REBUCKET_ORACLE = """
WITH merged AS (
  SELECT o_orderkey AS k,
         CAST(ROUND(o_totalprice * 100) AS BIGINT)
         * (CASE WHEN o_orderkey % 5 = 0 THEN 2 ELSE 1 END) AS v
  FROM orders
)
SELECT
  COUNT(*) AS n_keys,
  CAST(SUM(v) AS BIGINT) AS sum_v,
  TRUE AS resharded,
  TRUE AS history_intact
FROM merged
"""


@query("lakehouse_rebucket_check", oracle=_REBUCKET_ORACLE)
def lakehouse_rebucket_check(spark: SparkSession, sf_dir: str):
    """BUCKET-COUNT EVOLUTION (r17) — Iceberg's partition-spec evolution
    analogue on the snapshot table: `rebucket(N)` re-shards the head
    under a new bucket count as ONE data_unchanged transaction (raw rows
    rewritten with their commit versions preserved), and every snapshot
    resolves its bucket count from its OWN manifest, so point probes stay
    correct on both sides of the re-shard and later merges land under the
    new sharding.

    Fixture: orders commits under 4 buckets, rebuckets to 9, then the
    multiples-of-5 subset merges a second copy of its price (sum-mode
    doubling) — a write AFTER the re-shard, proving the new layout
    accepts deltas.  Output: total keys + the doubled-subset sum, plus
    two evidence booleans (head manifest carries the new count with all
    9 buckets populated; a point probe against the PRE-rebucket version
    still answers — per-version count resolution).

    100 TB path: the one O(table) re-hash is the unavoidable price of
    changing hash width; everything else (probes, merges, feed) is
    metadata-resolved per version."""
    import shutil
    import tempfile
    import uuid

    from wukong_spark.tableformat import SnapshotStateTable

    o = tbl(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), cents("o_totalprice").alias("v")
    )
    work = tempfile.mkdtemp(prefix=f"lakehouse_rb_{uuid.uuid4().hex[:8]}-")
    try:
        t = SnapshotStateTable(spark, f"{work}/t", "k", n_buckets=4)
        t.merge(o)                                               # v0
        v1 = t.rebucket(9)
        t.merge(o.filter(F.col("k") % 5 == 0))                   # v2: doubles
        m = t._load_manifest(t.current_version())
        resharded = (
            m["n_buckets"] == 9 and set(map(int, m["files"])) == set(range(9))
        )
        probe = o.limit(1).first()["k"]
        pre = t.read_keys([probe], version=v1 - 1).first()
        history_intact = pre is not None and pre["k"] == probe
        res = t.read().agg(
            F.count(F.lit(1)).alias("n_keys"), F.sum("v").alias("sum_v")
        ).first()
        return local_frame(spark,
            [(res["n_keys"], res["sum_v"], resharded, history_intact)],
            "n_keys long, sum_v long, resharded boolean, history_intact boolean",
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


_DML_ORACLE = """
WITH live AS (
  SELECT o_orderkey AS k,
         CASE WHEN CAST(ROUND(o_totalprice * 100) AS BIGINT) > 20000000
              THEN 'premium' ELSE o_orderstatus END AS status,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c
  FROM orders WHERE o_orderstatus <> 'F'
)
SELECT status, COUNT(*) AS n, CAST(SUM(price_c) AS BIGINT) AS sum_price_c
FROM live GROUP BY status ORDER BY status
"""


@query("lakehouse_dml_check", oracle=_DML_ORACLE)
def lakehouse_dml_check(spark: SparkSession, sf_dir: str):
    """DML ON THE SNAPSHOT TABLE (r17) — DELETE FROM / UPDATE ... WHERE
    compiled to single MERGE commits (`tableformat.delete_where` /
    `update_where`): deletes tombstone the matching live keys, updates
    re-emit them with the set expressions applied at the next order
    value; both are O(matching-rows) writes through the ordinary commit
    protocol (OCC, change feed, time travel all see them as normal
    commits).  Exactly Delta's DELETE/UPDATE shape: scan to find the
    matching rows, write only what changed — less, in fact, since
    tombstones and updates APPEND under merge-on-read instead of
    rewriting files.

    Fixture: orders commits as v0; `delete_where(status = 'F')` drops
    the fulfilled tier; `update_where(price_c > $200k, status →
    'premium')` re-tiers the expensive tail.  The grouped head must
    match the SQL expressing both statements declaratively.

    100 TB path: the scan is merge-on-read + any key-range skipping the
    predicate admits; the write is O(matching); nothing rewrites."""
    import shutil
    import tempfile
    import uuid

    from wukong_spark.tableformat import SnapshotStateTable

    o = tbl(spark, sf_dir, "orders")
    work = tempfile.mkdtemp(prefix=f"lakehouse_dml_{uuid.uuid4().hex[:8]}-")
    try:
        t = SnapshotStateTable(
            spark, f"{work}/t", "k", n_buckets=4,
            mode="latest", order_col="seq", delete_col="gone",
        )
        t.merge(
            o.select(
                F.col("o_orderkey").alias("k"),
                F.lit(0).cast("long").alias("seq"),
                F.col("o_orderstatus").alias("status"),
                cents("o_totalprice").alias("price_c"),
                F.lit(False).alias("gone"),
            )
        )
        t.delete_where(F.col("status") == "F", order=1)
        t.update_where(
            F.col("price_c") > 20_000_000, {"status": "premium"}, order=2
        )
        rows = (
            t.read()
            .groupBy("status")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("price_c").alias("sum_price_c"))
            .collect()
        )
        return local_frame(spark,
            rows, "status string, n long, sum_price_c long"
        ).orderBy("status")
    finally:
        shutil.rmtree(work, ignore_errors=True)


_CDF_SOURCE_ORACLE = """
SELECT
  o_orderkey % 3 AS v,
  COUNT(*) AS n,
  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_c
FROM orders GROUP BY o_orderkey % 3 ORDER BY v
"""


@query("stream_snapshot_cdf_source_check", oracle=_CDF_SOURCE_ORACLE)
def stream_snapshot_cdf_source_check(spark: SparkSession, sf_dir: str):
    """CHANGE FEED AS A STRUCTURED STREAMING SOURCE (r17) — the snapshot
    table followed through Spark 4's Python Data Source API
    (`streaming/snapshot_source.py`, format 'snapshot_changes'):
    MANIFEST VERSIONS are the stream's offsets, so micro-batches cover
    exact version ranges, checkpoints resume at version boundaries with
    zero reprocessing, and replay is bit-stable because manifests and
    data files are immutable (exactly-once until vacuum drops the range,
    which fails loud).  `partitions()` is a driver-side manifest diff —
    O(appended files), no data IO — and each appended file streams as
    one executor-side Arrow read.

    Fixture: orders lands as three residue-class commits (o_orderkey %
    3, in order, so commit version == residue); the streamed feed,
    grouped by its __commit tag, must reproduce each commit's row count
    and cents sum — proving the source covers every commit exactly once
    with true version attribution.  Compaction-skip, checkpoint-resume,
    schema-evolution null-fill and the vacuum error are pinned in
    tests/test_snapshot_source.py."""
    import shutil
    import tempfile
    import uuid

    from wukong_spark.streaming import run_to_memory
    from wukong_spark.streaming.snapshot_source import register
    from wukong_spark.tableformat import SnapshotStateTable

    o = tbl(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), cents("o_totalprice").alias("c")
    )
    work = tempfile.mkdtemp(prefix=f"cdf_src_{uuid.uuid4().hex[:8]}-")
    try:
        t = SnapshotStateTable(spark, f"{work}/t", "k", n_buckets=4)
        for r in (0, 1, 2):
            t.merge(o.filter(F.col("k") % 3 == r))
        register(spark)
        feed = run_to_memory(
            spark.readStream.format("snapshot_changes")
            .option("path", f"{work}/t").load(),
            f"cdf_src_{uuid.uuid4().hex[:8]}", complete=False,
        )
        rows = (
            feed.groupBy(F.col("__commit").alias("v"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("c").alias("sum_c"))
            .collect()
        )
        return local_frame(spark,
            rows, "v long, n long, sum_c long"
        ).orderBy("v")
    finally:
        shutil.rmtree(work, ignore_errors=True)
