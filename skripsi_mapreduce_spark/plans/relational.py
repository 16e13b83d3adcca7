"""Declared relational query surface (SURVEY.md §2.4, Q01-Q30).

Each query exists twice: as an idiomatic DataFrame plan (what the engine
runs — Catalyst optimizes it: predicate pushdown into the parquet scan,
column pruning, partial aggregation, broadcast joins for the small dims)
and as an ANSI-SQL oracle string the driver runs on DuckDB.

Determinism conventions (§2.4): final ORDER BY over a unique column set;
every non-integer numeric output surfaced as a SCALED BIGINT —
``ROUND(x * 10^dp)::BIGINT`` with an ``_e4``/``_e6`` column suffix — on
BOTH engines. Integers render identically in every engine and every
hasher, whereas DECIMAL outputs hash-diverge on trailing-zero
canonicalization (Spark ``Decimal('25.0000')`` vs an oracle-side ``25.0``
— the round-1 driver failed 20 value-identical entries on exactly this).
Monetary aggregates still SUM over DECIMAL(20,4)-cast inputs so summation
order cannot flip a digit; integer aggregates cast BIGINT (DuckDB SUM(int)
is HUGEINT); timestamps surfaced as DATE / epoch integers only.

Scale notes (100 TB): every plan here is shuffle-minimal by construction —
aggregations rely on Catalyst's partial+final hash aggregate, joins on
genuinely small dimensions (region: 5 rows, nation: 25 rows — constant in
TPC-H regardless of SF) carry an explicit ``broadcast()`` hint, fact-fact
joins are left to AQE which picks sort-merge + skew splitting. Window
queries partition by high-cardinality keys (custkey, user_id) so state per
partition stays bounded.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.numeric import e_int, e_int_sql, rnd_exact4_sql
from ..io import load_table

DEC = "decimal(20,4)"

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, sql: str | None = None):
    """Register a declared query and (optionally) its DuckDB oracle SQL."""

    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


def dec(c) -> F.Column:
    """Cast to the canonical money/quantity decimal before aggregating."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(DEC)


# ---------------------------------------------------------------------------
# Q01 scan + project (reference O1, O9, O15)
# ---------------------------------------------------------------------------
@query(
    "q01_scan_project",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(ROUND(CAST(l_quantity AS DOUBLE) * 10000) AS BIGINT) AS quantity_e4
    FROM lineitem ORDER BY l_orderkey, l_linenumber
    """,
)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar scan with projection — ReadSchema must show only the three
    columns (column pruning reaches the parquet reader)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", e_int(F.col("l_quantity")).alias("quantity_e4"))
        .orderBy("l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# Q02 filter predicates (O2, O4)
# ---------------------------------------------------------------------------
@query(
    "q02_filter",
    """
    SELECT l_orderkey, l_linenumber FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    ORDER BY l_orderkey, l_linenumber
    """,
)
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive predicates — all three push down to the parquet scan
    (PushedFilters in the formatted plan)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# Q03 hash aggregate, partial+final (O18) — TPC-H Q1 shape (flagship)
# ---------------------------------------------------------------------------
@query(
    "q03_tpch_q1",
    f"""
    SELECT l_returnflag, l_linestatus,
           {e_int_sql('SUM(CAST(l_quantity AS DECIMAL(20,4)))')} AS sum_qty_e4,
           {e_int_sql('SUM(CAST(l_extendedprice AS DECIMAL(20,4)))')} AS sum_base_price_e4,
           {e_int_sql('SUM(CAST(l_extendedprice AS DECIMAL(20,4)) * (1 - CAST(l_discount AS DECIMAL(20,4))))')} AS sum_disc_price_e4,
           {e_int_sql('CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) / COUNT(*)')} AS avg_qty_e4,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape. Catalyst plans partial HashAggregate before the
    exchange (the combiner the reference wrote but never wired —
    CombinerKMean.java:20-48, SURVEY.md §8 Q1 — here it is automatic and
    correct). Grouping cardinality is tiny (|flag|x|status|), so the
    exchange moves only a handful of partial rows per task at any SF."""
    li = load_table(spark, sf_dir, "lineitem")
    qty, price, disc = dec("l_quantity"), dec("l_extendedprice"), dec("l_discount")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            e_int(F.sum(qty)).alias("sum_qty_e4"),
            e_int(F.sum(price)).alias("sum_base_price_e4"),
            e_int(F.sum(price * (F.lit(1) - disc))).alias("sum_disc_price_e4"),
            e_int(F.sum(qty).cast("double") / F.count("*")).alias("avg_qty_e4"),
            F.count("*").cast("bigint").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Q04 group-by + HAVING
# ---------------------------------------------------------------------------
@query(
    "q04_having",
    """
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_custkey HAVING COUNT(*) > 5 ORDER BY o_custkey
    """,
)
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").cast("bigint").alias("n_orders"))
        .filter(F.col("n_orders") > 5)
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# Q05 distinct aggregate (O16)
# ---------------------------------------------------------------------------
@query(
    "q05_count_distinct",
    """
    SELECT o_orderstatus, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct — Catalyst expands to a two-stage aggregate (distinct
    keys first, then count), both stages map-side partial. For billions of
    keys the approx_count_distinct variant is the scale escape hatch."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").cast("bigint").alias("n_cust"))
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Q06 inner equi hash join (O20)
# ---------------------------------------------------------------------------
@query(
    "q06_inner_join",
    """
    SELECT o_orderkey, c_name,
           CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 10000) AS BIGINT) AS total_price_e4
    FROM orders JOIN customer ON o_custkey = c_custkey
    ORDER BY o_orderkey
    """,
)
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders x customer equi-join. No hint: at 100 TB both sides are large
    and AQE picks sort-merge (or shuffled hash) with skew split; at test SF
    it auto-broadcasts customer under the threshold."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .select("o_orderkey", "c_name", e_int(F.col("o_totalprice")).alias("total_price_e4"))
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Q07 multi-way join — TPC-H Q5 shape
# ---------------------------------------------------------------------------
@query(
    "q07_tpch_q5",
    """
    SELECT n_name,
           CAST(ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4)) * (1 - CAST(l_discount AS DECIMAL(20,4)))) AS DOUBLE) * 10000) AS BIGINT) AS revenue_e4
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1998-01-01'
    GROUP BY n_name ORDER BY revenue_e4 DESC, n_name
    """,
)
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-table join. region (5 rows) and nation (25 rows) are constant-size
    in TPC-H, so they get explicit broadcast hints — the region filter then
    prunes nations BEFORE the big joins (Catalyst pushes the semi-join
    reduction down). The fact-fact joins (lineitem x orders) stay
    shuffle-based; AQE reorders/skew-splits at runtime."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")

    nr = F.broadcast(
        n.join(F.broadcast(r.filter(F.col("r_name") == "ASIA")), n.n_regionkey == r.r_regionkey)
    )
    o_f = o.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
    )
    joined = (
        li.join(o_f, li.l_orderkey == o_f.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, (o_f.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
        .join(nr, s.s_nationkey == nr.n_nationkey)
    )
    return (
        joined.groupBy("n_name")
        .agg(
            e_int(F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))).alias(
                "revenue_e4"
            )
        )
        .orderBy(F.col("revenue_e4").desc(), "n_name")
    )


# ---------------------------------------------------------------------------
# Q08 left outer join + default (O21)
# ---------------------------------------------------------------------------
@query(
    "q08_left_join",
    """
    SELECT c_custkey,
           CAST(ROUND(CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(20,4))), 0) AS DOUBLE) * 10000) AS BIGINT) AS total_spent_e4,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey ORDER BY c_custkey
    """,
)
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with COALESCE default — the same missing-key-gets-
    default semantics as the reference's vocabulary words absent from the
    DF table (MapperExtractFeatureTFIDF.java:73-84, O21)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            e_int(F.coalesce(F.sum(dec("o_totalprice")), F.lit(0).cast(DEC))).alias(
                "total_spent_e4"
            ),
            F.count("o_orderkey").cast("bigint").alias("n_orders"),
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Q09 semi join (O8) / Q10 anti join (O7)
# ---------------------------------------------------------------------------
@query(
    "q09_semi_join",
    """
    SELECT c_custkey FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
    ORDER BY c_custkey
    """,
)
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join — the engine-level form of the reference's dictionary
    membership filter (MapperExtractTransform.java:81, O8): at scale a
    broadcast semi-join replaces the in-memory HashSet."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey").orderBy("c_custkey")
    )


@query(
    "q10_anti_join",
    """
    SELECT c_custkey FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
    ORDER BY c_custkey
    """,
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join — the stopword-removal shape (O7): keep rows whose key
    does NOT appear in the other side."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey").orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Q11 non-equi self join / Q12 cross join (O31)
# ---------------------------------------------------------------------------
@query(
    "q11_range_self_join",
    """
    SELECT n1.n_regionkey AS regionkey, n1.n_nationkey AS nation_a, n2.n_nationkey AS nation_b
    FROM nation n1 JOIN nation n2
      ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
    ORDER BY regionkey, nation_a, nation_b
    """,
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-condition on regionkey carries the partitioning; the < predicate
    is applied post-match — so this is a hash join with residual, NOT a
    cartesian product. That structure is what keeps range self-joins viable
    at scale (pairs only form within a region partition)."""
    n1 = load_table(spark, sf_dir, "nation").alias("n1")
    n2 = load_table(spark, sf_dir, "nation").alias("n2")
    return (
        n1.join(
            n2,
            (F.col("n1.n_regionkey") == F.col("n2.n_regionkey"))
            & (F.col("n1.n_nationkey") < F.col("n2.n_nationkey")),
        )
        .select(
            F.col("n1.n_regionkey").alias("regionkey"),
            F.col("n1.n_nationkey").alias("nation_a"),
            F.col("n2.n_nationkey").alias("nation_b"),
        )
        .orderBy("regionkey", "nation_a", "nation_b")
    )


@query(
    "q12_cross_join",
    """
    SELECT r_regionkey, n_nationkey FROM region CROSS JOIN nation
    ORDER BY r_regionkey, n_nationkey
    """,
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian — only ever sane when one side is tiny, hence the
    broadcast hint (BroadcastNestedLoopJoin, no shuffle of the big side).
    The reference's doc-x-centroid distance loop (MapperKMean.java:84-94,
    O31) is this same shape: big side streams, small side broadcast."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return (
        n.crossJoin(F.broadcast(r))
        .select("r_regionkey", "n_nationkey")
        .orderBy("r_regionkey", "n_nationkey")
    )


# ---------------------------------------------------------------------------
# Q13 scalar subquery / Q14 correlated subquery
# ---------------------------------------------------------------------------
@query(
    "q13_scalar_subquery",
    """
    SELECT o_orderkey FROM orders
    WHERE o_totalprice > (SELECT SUM(CAST(o_totalprice AS DECIMAL(20,4))) / COUNT(*) FROM orders)
    ORDER BY o_orderkey
    """,
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar aggregate subquery, decorrelated by hand into a 1-row broadcast
    nested-loop join (exactly what Catalyst rewrites the SQL form into).
    The exact-decimal SUM/COUNT avoids float summation-order drift."""
    o = load_table(spark, sf_dir, "orders")
    avg_df = o.agg((F.sum(dec("o_totalprice")) / F.count("*")).alias("avg_price"))
    return (
        o.join(F.broadcast(avg_df))
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .select("o_orderkey")
        .orderBy("o_orderkey")
    )


@query(
    "q14_correlated_subquery",
    """
    SELECT c_custkey FROM customer c
    WHERE c_acctbal > (
        SELECT SUM(CAST(c_acctbal AS DECIMAL(20,4))) / COUNT(*)
        FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
    ORDER BY c_custkey
    """,
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated aggregate subquery, decorrelated into groupBy + join —
    the standard rewrite (one aggregate pass + one join instead of a
    per-row subquery). Exact decimal average per nation."""
    c = load_table(spark, sf_dir, "customer")
    nation_avg = c.groupBy(F.col("c_nationkey").alias("nk")).agg(
        (F.sum(dec("c_acctbal")) / F.count("*")).alias("avg_bal")
    )
    return (
        c.join(F.broadcast(nation_avg), c.c_nationkey == F.col("nk"))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .select("c_custkey")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Q15 window ranking (O11, O32) / Q16 lag / Q17 frame
# ---------------------------------------------------------------------------
@query(
    "q15_window_rank",
    """
    SELECT o_custkey, o_orderkey, rn, rk, drk FROM (
        SELECT o_custkey, o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
               RANK() OVER (PARTITION BY o_custkey ORDER BY CAST(FLOOR(o_totalprice / 1000) AS BIGINT) DESC) AS rk,
               DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY CAST(FLOOR(o_totalprice / 1000) AS BIGINT) DESC) AS drk
        FROM orders) t
    WHERE rn <= 3 ORDER BY o_custkey, o_orderkey
    """,
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N per group via ROW_NUMBER (the distributed replacement for the
    reference's single-reducer sequential id, ReducerExtractTransform.java:34-48
    O11). RANK/DENSE_RANK rank over a coarse bucket so ties exercise rank
    semantics while staying deterministic (tied rows share a rank value).
    Window partitions by o_custkey — state per partition is one customer's
    orders, bounded at any SF."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 1000).cast("bigint")
    w_unique = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    w_bucket = W.partitionBy("o_custkey").orderBy(bucket.desc())
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w_unique).alias("rn"),
            F.rank().over(w_bucket).alias("rk"),
            F.dense_rank().over(w_bucket).alias("drk"),
        )
        .filter(F.col("rn") <= 3)
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "q16_window_lag",
    """
    SELECT o_custkey, o_orderkey,
           CAST(ROUND(CAST(LAG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE) * 10000) AS BIGINT) AS prev_price_e4
    FROM orders ORDER BY o_custkey, o_orderkey
    """,
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            e_int(F.lag("o_totalprice").over(w)).alias("prev_price_e4"),
        ).orderBy("o_custkey", "o_orderkey")
    )


@query(
    "q17_window_frame",
    """
    SELECT o_custkey, o_orderkey,
           CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) * 10000) AS BIGINT) AS running_total_e4
    FROM orders ORDER BY o_custkey, o_orderkey
    """,
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            e_int(F.sum(dec("o_totalprice")).over(w)).alias("running_total_e4"),
        ).orderBy("o_custkey", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Q18 top-k (O32)
# ---------------------------------------------------------------------------
@query(
    "q18_topk",
    """
    SELECT o_orderkey, CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 10000) AS BIGINT) AS total_price_e4
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — each task keeps a
    k-row heap, the driver merges k*numPartitions rows. No full sort, no
    full shuffle; this is the argmin shape (MapperKMean.java:95-97, O32)
    generalized."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .select("o_orderkey", e_int(F.col("o_totalprice")).alias("total_price_e4"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q19 set operations
# ---------------------------------------------------------------------------
@query(
    "q19_set_ops",
    """
    SELECT 'except' AS op, k FROM (SELECT c_custkey AS k FROM customer EXCEPT SELECT o_custkey FROM orders) t
    UNION ALL
    SELECT 'intersect' AS op, k FROM (SELECT c_custkey AS k FROM customer INTERSECT SELECT o_custkey FROM orders) t
    UNION ALL
    SELECT 'union' AS op, k FROM (SELECT c_custkey AS k FROM customer UNION SELECT o_custkey FROM orders) t
    UNION ALL
    SELECT 'union_all' AS op, k FROM (SELECT c_custkey AS k FROM customer UNION ALL SELECT o_custkey FROM orders) t
    ORDER BY op, k
    """,
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    parts = [
        c.subtract(o).withColumn("op", F.lit("except")),
        c.intersect(o).withColumn("op", F.lit("intersect")),
        c.union(o).distinct().withColumn("op", F.lit("union")),
        c.union(o).withColumn("op", F.lit("union_all")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("op", "k").orderBy("op", "k")


# ---------------------------------------------------------------------------
# Q20 rollup / Q21 grouping sets
# ---------------------------------------------------------------------------
@query(
    "q20_rollup",
    """
    SELECT COALESCE(r_name, 'ALL') AS region_name,
           COALESCE(n_name, 'ALL') AS nation_name,
           CAST(GROUPING(r_name) AS INTEGER) AS g_region,
           CAST(GROUPING(n_name) AS INTEGER) AS g_nation,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    ORDER BY g_region, g_nation, region_name, nation_name
    """,
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.grouping("r_name").cast("int").alias("g_region"),
            F.grouping("n_name").cast("int").alias("g_nation"),
            F.count("*").cast("bigint").alias("n"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "g_region",
            "g_nation",
            "n",
        )
        .orderBy("g_region", "g_nation", "region_name", "nation_name")
    )


@query(
    "q21_grouping_sets",
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) * 10000) AS BIGINT) AS total_e4
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY g_status, g_priority, status, priority
    """,
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count("*").cast("bigint").alias("n"),
            e_int(F.sum(dec("o_totalprice"))).alias("total_e4"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "g_status",
            "g_priority",
            "n",
            "total_e4",
        )
        .orderBy("g_status", "g_priority", "status", "priority")
    )


# ---------------------------------------------------------------------------
# Q22 string functions (O5, O6)
# ---------------------------------------------------------------------------
@query(
    "q22_string_fns",
    """
    SELECT p_partkey,
           UPPER(p_name) AS name_upper,
           LOWER(p_brand) AS brand_lower,
           SUBSTR(p_name, 1, 5) AS name_prefix,
           CAST(LENGTH(p_name) AS INTEGER) AS name_len,
           TRIM(p_type) AS type_trim,
           REPLACE(p_type, ' ', '_') AS type_snake,
           (p_type LIKE 'PROMO%') AS is_promo,
           p_name || '-' || p_brand AS name_brand
    FROM part ORDER BY p_partkey
    """,
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String expressions — all JVM-side codegen'd built-ins (the engine's
    counterpart of the reference's per-row Java string ops,
    MapperExtractTransform.java:74-84)."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.upper("p_name").alias("name_upper"),
            F.lower("p_brand").alias("brand_lower"),
            F.substring("p_name", 1, 5).alias("name_prefix"),
            F.length("p_name").cast("int").alias("name_len"),
            F.trim(F.col("p_type")).alias("type_trim"),
            F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
            F.col("p_type").like("PROMO%").alias("is_promo"),
            F.concat(F.col("p_name"), F.lit("-"), F.col("p_brand")).alias("name_brand"),
        ).orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# Q23 date functions
# ---------------------------------------------------------------------------
@query(
    "q23_date_fns",
    """
    SELECT o_orderkey,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS order_month,
           CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS order_month_start,
           CAST(o_orderdate AS DATE) AS order_date
    FROM orders
    WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1999-01-01'
    ORDER BY o_orderkey
    """,
)
def q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1999-01-01").cast("date"))
        )
        .select(
            "o_orderkey",
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.month("o_orderdate").cast("int").alias("order_month"),
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("order_month_start"),
            F.col("o_orderdate").cast("date").alias("order_date"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Q24 math functions (O19, O31)
# ---------------------------------------------------------------------------
@query(
    "q24_math_fns",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(ROUND(ABS(l_quantity - 25) * 10000) AS BIGINT) AS abs_dev_e4,
           CAST(CEIL(l_quantity / 7) AS BIGINT) AS ceil_q,
           CAST(FLOOR(l_quantity / 7) AS BIGINT) AS floor_q,
           CAST(MOD(CAST(l_quantity AS BIGINT), 5) AS BIGINT) AS mod_q,
           CAST(ROUND(POWER(l_quantity, 2) * 10000) AS BIGINT) AS pow_q_e4,
           CAST(ROUND(SQRT(l_quantity) * 10000) AS BIGINT) AS sqrt_q_e4,
           CAST(ROUND(LN(l_quantity + 1) * 10000) AS BIGINT) AS ln_q_e4,
           CAST(ROUND(EXP(l_discount) * 10000) AS BIGINT) AS exp_d_e4
    FROM lineitem ORDER BY l_orderkey, l_linenumber
    """,
)
def q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar math — includes ln(x+1), the smoothed-IDF kernel of the
    reference (ReducerExtractFeatureDocument.java:56, O19), and sqrt/pow,
    its distance kernel (MapperKMean.java:84-94, O31)."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            e_int(F.abs(q - 25)).alias("abs_dev_e4"),
            F.ceil(q / 7).cast("bigint").alias("ceil_q"),
            F.floor(q / 7).cast("bigint").alias("floor_q"),
            (q.cast("bigint") % 5).cast("bigint").alias("mod_q"),
            e_int(F.pow(q, 2)).alias("pow_q_e4"),
            e_int(F.sqrt(q)).alias("sqrt_q_e4"),
            e_int(F.log(q + 1)).alias("ln_q_e4"),
            e_int(F.exp(F.col("l_discount"))).alias("exp_d_e4"),
        ).orderBy("l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# Q25 CASE / conditional aggregation
# ---------------------------------------------------------------------------
@query(
    "q25_conditional_agg",
    f"""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
           CAST(COUNT(NULLIF(l_returnflag, 'N')) AS BIGINT) AS n_flagged,
           COALESCE(MAX(CASE WHEN l_returnflag = 'R' THEN l_returnflag END), 'none') AS any_r,
           {e_int_sql("CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)")} AS return_ratio_e4
    FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
    """,
)
def q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    is_r = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    return (
        li.groupBy("l_linestatus")
        .agg(
            F.sum(is_r).cast("bigint").alias("n_returned"),
            F.count(F.nullif(F.col("l_returnflag"), F.lit("N"))).cast("bigint").alias("n_flagged"),
            F.coalesce(
                F.max(F.when(F.col("l_returnflag") == "R", F.col("l_returnflag"))),
                F.lit("none"),
            ).alias("any_r"),
            e_int(F.sum(is_r).cast("double") / F.count("*")).alias("return_ratio_e4"),
        )
        .orderBy("l_linestatus")
    )


# ---------------------------------------------------------------------------
# Q26 distinct + limit
# ---------------------------------------------------------------------------
@query(
    "q26_distinct",
    """
    SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment
    """,
)
def q26(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select("c_mktsegment").distinct().orderBy("c_mktsegment")


# ---------------------------------------------------------------------------
# Q27 tumbling window (batch = stream parity) / Q28 sessionization
# ---------------------------------------------------------------------------
@query(
    "q27_tumbling_window",
    """
    SELECT CAST(EXTRACT(EPOCH FROM DATE_TRUNC('hour', ts)) AS BIGINT) AS hour_epoch,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE) * 10000) AS BIGINT) AS total_value_e4
    FROM events GROUP BY 1, 2 ORDER BY hour_epoch, event_type
    """,
)
def q27(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window as a batch groupBy — semantics shared with the
    streaming path (streaming/windows.py uses window(ts, '1 hour') over the
    same events schema; batch=stream parity is tested in tests/test_streaming.py)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).cast("bigint").alias("hour_epoch"),
            "event_type",
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            e_int(F.sum(dec("value"))).alias("total_value_e4"),
        )
        .orderBy("hour_epoch", "event_type")
    )


@query(
    "q28_sessionization",
    """
    WITH gaps AS (
        SELECT user_id, ts,
               epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
        FROM events)
    SELECT user_id,
           CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800 * 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
    FROM gaps GROUP BY user_id ORDER BY user_id
    """,
)
def q28(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (30-min gap) with microsecond-exact
    arithmetic (unix_micros on both engines — no float truncation at the
    gap boundary). Streaming equivalent: session_window(ts, '30 minutes')."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    return (
        e.select("user_id", gap.alias("gap_us"))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("gap_us").isNull() | (F.col("gap_us") > 1800 * 1_000_000), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_sessions")
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Q29 exact dedup (extension D1) / Q30 array ops (O6-O8, O16, O17)
# ---------------------------------------------------------------------------
@query(
    "q29_exact_dedup",
    """
    SELECT MD5(text) AS text_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY MD5(text) HAVING COUNT(*) > 1
    ORDER BY text_hash
    """,
)
def q29(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by content hash. Grouping on md5(text) rather
    than text itself keeps shuffle rows narrow (32-byte key instead of the
    full document) — the difference between shuffling 100 TB of text and
    shuffling ~3 TB of digests."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").cast("bigint").alias("keep_id"),
            F.count("*").cast("bigint").alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
        .orderBy("text_hash")
    )


@query(
    "q30_array_tokens",
    r"""
    SELECT doc_id,
           CAST(COUNT(DISTINCT t) AS BIGINT) AS n_distinct_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM (SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '\b\w\w+\b')) AS t
          FROM documents) tok
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def q30(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""Tokenize -> explode -> per-doc distinct counts. The token pattern
    \b\w\w+\b is the reference's (sklearn-default) regex
    (MapperExtractTransform.java:75, O6); explode + distinct is O16/O17."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\b\w\w+\b"), F.lit(0))
        ).alias("t"),
    )
    return (
        toks.groupBy("doc_id")
        .agg(
            F.countDistinct("t").cast("bigint").alias("n_distinct_tokens"),
            F.count("*").cast("bigint").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )
