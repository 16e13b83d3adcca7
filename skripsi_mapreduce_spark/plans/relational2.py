r"""Additional relational surface beyond the 30 declared queries —
pivot, exact quantiles, ordered string aggregation, ntile, regexp
functions, histogram bucketing, NULL-handling semantics, array
aggregation. Same conventions as relational.py (scaled-BIGINT ``_e4``
numeric surface, unique final ORDER BY, engine-portable formulations
only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.asof import asof_join
from ..operators.cdc import latest_snapshot
from ..operators.etl import assign_sequential_ids
from .relational import DEC, dec, e_int, query


# ---------------------------------------------------------------------------
# q31 pivot (conditional aggregation, fixed value set)
# ---------------------------------------------------------------------------
@query(
    "q31_pivot",
    """
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
           CAST(ROUND(CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(20,4)) ELSE 0 END) AS DOUBLE) * 10000) AS BIGINT) AS total_f_e4,
           CAST(ROUND(CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(20,4)) ELSE 0 END) AS DOUBLE) * 10000) AS BIGINT) AS total_o_e4,
           CAST(ROUND(CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(20,4)) ELSE 0 END) AS DOUBLE) * 10000) AS BIGINT) AS total_p_e4
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q31(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list — Catalyst rewrites .pivot() into
    exactly these conditional aggregates; listing the values avoids the
    extra distinct-values job (mandatory at scale)."""
    o = load_table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.coalesce(F.sum(dec("o_totalprice")), F.lit(0).cast(DEC)).alias("total"),
        )
    )
    return piv.select(
        "o_orderpriority",
        F.coalesce(F.col("F_n"), F.lit(0)).cast("bigint").alias("n_f"),
        F.coalesce(F.col("O_n"), F.lit(0)).cast("bigint").alias("n_o"),
        F.coalesce(F.col("P_n"), F.lit(0)).cast("bigint").alias("n_p"),
        e_int(F.coalesce(F.col("F_total"), F.lit(0).cast(DEC))).alias("total_f_e4"),
        e_int(F.coalesce(F.col("O_total"), F.lit(0).cast(DEC))).alias("total_o_e4"),
        e_int(F.coalesce(F.col("P_total"), F.lit(0).cast(DEC))).alias("total_p_e4"),
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# q32 exact interpolated quantiles
# ---------------------------------------------------------------------------
@query(
    "q32_quantiles",
    """
    SELECT o_orderstatus,
           CAST(ROUND(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) * 10000) AS BIGINT) AS median_price_e4,
           CAST(ROUND(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.9) * 10000) AS BIGINT) AS p90_price_e4
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def q32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` == DuckDB
    ``quantile_cont``). Exact quantiles need the full sorted group — the
    scale escape hatch is ``percentile_approx`` (excluded from
    hash-matching per §2.4 convention c)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            e_int(F.percentile(F.col("o_totalprice").cast("double"), F.lit(0.5))).alias(
                "median_price_e4"
            ),
            e_int(F.percentile(F.col("o_totalprice").cast("double"), F.lit(0.9))).alias(
                "p90_price_e4"
            ),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# q33 ordered string aggregation
# ---------------------------------------------------------------------------
@query(
    "q33_listagg",
    """
    SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
           CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name ORDER BY r_name
    """,
)
def q33(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered LISTAGG via sort_array(collect_list) — deterministic
    because the order is part of the expression, not shuffle luck."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations"),
            F.count("*").cast("bigint").alias("n_nations"),
        )
        .orderBy("r_name")
    )


# ---------------------------------------------------------------------------
# q34 ntile
# ---------------------------------------------------------------------------
@query(
    "q34_ntile",
    """
    SELECT quartile, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) * 10000) AS BIGINT) AS total_e4
    FROM (SELECT o_totalprice,
                 NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
          FROM orders) t
    GROUP BY quartile ORDER BY quartile
    """,
)
def q34(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed NTILE: no global single-partition window. Ranks come
    from the range-partitioned two-phase sequential-id operator
    (etl.assign_sequential_ids — a sort within each range partition, the
    local rank read off monotonically_increasing_id, plus per-partition
    offsets; one exchange), and NTILE's uneven-bucket rule (SQL standard: the
    first n%k buckets get one extra row) is plain arithmetic on the rank,
    so the plan has no Exchange SinglePartition anywhere. The row count
    falls out of the rank's per-partition counts (``with_total``)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    k = 4
    ranked, n_rows = assign_sequential_ids(
        o, ["o_totalprice", "o_orderkey"], id_col="_rk", with_total=True
    )
    size_small, n_big = divmod(n_rows, k)  # first n_big buckets get size_small+1
    boundary = n_big * (size_small + 1)  # last rank in the "big bucket" zone
    r = F.col("_rk")
    quartile = (
        F.when(r <= boundary, F.floor((r - 1) / (size_small + 1)))
        .otherwise(n_big + F.floor((r - boundary - 1) / max(size_small, 1)))
        .cast("int")
        + 1
    )
    return (
        ranked.select("o_totalprice", quartile.alias("quartile"))
        .groupBy("quartile")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            e_int(F.sum(dec("o_totalprice"))).alias("total_e4"),
        )
        .orderBy("quartile")
    )


# ---------------------------------------------------------------------------
# q35 regexp functions
# ---------------------------------------------------------------------------
@query(
    "q35_regexp",
    r"""
    SELECT p_partkey,
           regexp_matches(p_type, '^PROMO') AS is_promo,
           regexp_replace(p_type, '[AEIOU]', '_', 'g') AS devoweled,
           regexp_extract(p_name, '([a-z]+)$', 1) AS last_word
    FROM part ORDER BY p_partkey
    """,
)
def q35(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_type").rlike("^PROMO").alias("is_promo"),
        F.regexp_replace("p_type", "[AEIOU]", "_").alias("devoweled"),
        F.regexp_extract("p_name", r"([a-z]+)$", 1).alias("last_word"),
    ).orderBy("p_partkey")


# ---------------------------------------------------------------------------
# q36 histogram bucketing (arithmetic width_bucket)
# ---------------------------------------------------------------------------
@query(
    "q36_histogram",
    """
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT LEAST(CAST(FLOOR(o_totalprice / 50000) AS BIGINT), 9) AS bucket
          FROM orders) t
    GROUP BY bucket ORDER BY bucket
    """,
)
def q36(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via floor arithmetic (portable width_bucket);
    a single partial-aggregated groupBy — the canonical scan-speed profile
    query at any scale."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 50000).cast("bigint"), F.lit(9))
    return (
        o.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q37 NULL-handling semantics
# ---------------------------------------------------------------------------
@query(
    "q37_null_semantics",
    """
    SELECT l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(NULLIF(l_returnflag, 'N')) AS BIGINT) AS n_nonnull,
           CAST(ROUND((CAST(SUM(CASE WHEN l_returnflag <> 'N'
                                     THEN CAST(l_quantity AS DECIMAL(20,4)) END) AS DOUBLE)
                       / COUNT(CASE WHEN l_returnflag <> 'N' THEN 1 END)) * 10000) AS BIGINT) AS avg_flagged_qty_e4,
           CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_flag,
           COALESCE(MIN(NULLIF(l_returnflag, 'N')), 'none') AS min_flag
    FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
    """,
)
def q37(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT/AVG null-skipping, NULLIF/COALESCE, IS NULL — the NULL
    contract every engine must agree on. AVG over a decimal-cast CASE
    (nulls excluded identically in both engines)."""
    li = load_table(spark, sf_dir, "lineitem")
    flagged_qty = F.when(F.col("l_returnflag") != "N", dec("l_quantity"))
    return (
        li.groupBy("l_linestatus")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.count(F.nullif(F.col("l_returnflag"), F.lit("N"))).cast("bigint").alias("n_nonnull"),
            # sum/count instead of AVG: DuckDB's AVG(decimal) goes through
            # double accumulation while Spark's stays decimal — an exact
            # decimal SUM divided by the count is engine-identical
            e_int(F.sum(flagged_qty).cast("double") / F.count(flagged_qty)).alias(
                "avg_flagged_qty_e4"
            ),
            F.sum(F.when(F.col("l_returnflag").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null_flag"),
            F.coalesce(F.min(F.nullif(F.col("l_returnflag"), F.lit("N"))), F.lit("none")).alias(
                "min_flag"
            ),
        )
        .orderBy("l_linestatus")
    )


# ---------------------------------------------------------------------------
# q40 as-of join (clicks enriched with the latest prior view per user)
# ---------------------------------------------------------------------------
@query(
    "q40_asof_join",
    """
    SELECT c.event_id, c.user_id,
           epoch_us(v.ts) AS view_ts_us
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON c.user_id = v.user_id AND c.ts >= v.ts
    ORDER BY c.event_id
    """,
)
def q40(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via the engine's union+window composition
    (operators/asof.py) against DuckDB's native ASOF JOIN — same
    inclusive most-recent-at-or-before semantics, one shuffle. Only the
    matched timestamp is surfaced (it is unique even when several right
    rows share it)."""
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = e.filter(F.col("event_type") == "view").select("user_id", "ts")
    joined = asof_join(clicks, views, key="user_id", ts="ts")
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts_asof")).alias("view_ts_us"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# q41 unpivot / melt
# ---------------------------------------------------------------------------
@query(
    "q41_unpivot",
    """
    SELECT l_orderkey, l_linenumber, metric,
           CAST(ROUND(CAST(val AS DOUBLE) * 10000) AS BIGINT) AS val_e4
    FROM (
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
        FROM lineitem WHERE l_orderkey < 100)
    UNPIVOT (val FOR metric IN (l_quantity, l_extendedprice, l_discount))
    ORDER BY l_orderkey, l_linenumber, metric
    """,
)
def q41(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long unpivot (melt) — the inverse of q31's pivot."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    melted = li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "metric",
        "val",
    )
    return melted.select(
        "l_orderkey",
        "l_linenumber",
        "metric",
        e_int(F.col("val")).alias("val_e4"),
    ).orderBy("l_orderkey", "l_linenumber", "metric")


# ---------------------------------------------------------------------------
# q42 sliding window (batch = stream parity; streaming twin:
# streaming/windows.sliding_counts)
# ---------------------------------------------------------------------------
@query(
    "q42_sliding_window",
    """
    WITH e AS (
        SELECT event_type, value,
               epoch_us(ts) - epoch_us(ts) % 1800000000 AS base
        FROM events),
    x AS (
        SELECT event_type, value, UNNEST([base, base - 1800000000]) AS ws
        FROM e)
    SELECT CAST(ws // 1000000 AS BIGINT) AS win_start_epoch,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE) * 10000) AS BIGINT) AS total_value_e4
    FROM x GROUP BY 1, 2
    ORDER BY win_start_epoch, event_type
    """,
)
def q42(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/30m window as a batch groupBy — window() works in batch
    and streaming identically (epoch-aligned), so this is the exact batch
    twin of streaming/windows.sliding_counts. The oracle reproduces the
    window assignment arithmetically: window = 2 x slide, so each event
    belongs to exactly the slide-grid bucket and its predecessor.
    Microsecond-exact epoch math (same convention as q28)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            e_int(F.sum(dec("value"))).alias("total_value_e4"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias("win_start_epoch"),
            "event_type",
            "n",
            "total_value_e4",
        )
        .orderBy("win_start_epoch", "event_type")
    )


# ---------------------------------------------------------------------------
# q43 changelog compaction — latest record version per key (CDC snapshot)
# ---------------------------------------------------------------------------
@query(
    "q43_latest_snapshot",
    """
    SELECT user_id, event_type,
           CAST(event_id AS BIGINT) AS last_event_id,
           epoch_us(ts) AS ts_us,
           CAST(ROUND(CAST(value AS DOUBLE) * 10000) AS BIGINT) AS value_e4
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t
    WHERE rn = 1 ORDER BY user_id, event_type
    """,
)
def q43(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction: treating events as an append-only stream of
    record versions keyed by (user_id, event_type), surface the latest
    version per key. The engine side is operators/cdc.latest_snapshot —
    ONE partial-aggregated max_by (shuffle ∝ distinct keys, no per-key
    sort); the oracle states the same semantics as the textbook
    ROW_NUMBER()=1, which would shuffle and sort every version."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    snap = latest_snapshot(e, ["user_id", "event_type"], ts_col="ts", tiebreak=["event_id"])
    return snap.select(
        "user_id",
        "event_type",
        F.col("event_id").cast("bigint").alias("last_event_id"),
        F.unix_micros(F.col("ts")).alias("ts_us"),
        e_int(F.col("value")).alias("value_e4"),
    ).orderBy("user_id", "event_type")


# ---------------------------------------------------------------------------
# q44 exact bivariate statistics (covariance / correlation / OLS slope)
# ---------------------------------------------------------------------------
@query(
    "q44_corr_stats",
    """
    WITH s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(l_quantity AS DECIMAL(19,4))) AS sx,
               SUM(CAST(l_extendedprice AS DECIMAL(19,4))) AS sy,
               SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4))) AS sxx,
               SUM(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS syy,
               SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS sxy
        FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           CAST(ROUND(((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) * 10000) AS BIGINT) AS cov_pop_e4,
           CAST(ROUND(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                          * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) * 10000) AS BIGINT) AS corr_e4,
           CAST(ROUND(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * 10000) AS BIGINT) AS slope_e4
    FROM s ORDER BY l_returnflag
    """,
)
def q44(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact population covariance, Pearson correlation, and OLS slope of
    extendedprice on quantity per returnflag. Built-in covar_pop/corr
    accumulate doubles in shuffle order (non-reproducible across engines
    and runs), so the moments are EXACT DECIMAL sums — one partial-
    aggregated groupBy — and the textbook formulas run on those integers
    in IEEE doubles, identically ordered on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,4)")
    y = F.col("l_extendedprice").cast("decimal(18,4)")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n_d = F.col("n").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx_d, syy_d, sxy_d = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    num = n_d * sxy_d - sx_d * sy_d
    varx = n_d * sxx_d - sx_d * sx_d
    vary = n_d * syy_d - sy_d * sy_d
    return s.select(
        "l_returnflag",
        "n",
        e_int((sxy_d - sx_d * sy_d / n_d) / n_d).alias("cov_pop_e4"),
        e_int(num / (F.sqrt(varx) * F.sqrt(vary))).alias("corr_e4"),
        e_int(num / varx).alias("slope_e4"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# q38 array aggregation
# ---------------------------------------------------------------------------
@query(
    "q38_array_agg",
    """
    SELECT l_orderkey,
           array_to_string(list(l_linenumber ORDER BY l_linenumber), ',') AS lines,
           CAST(LEN(list(l_linenumber)) AS BIGINT) AS n_lines,
           CAST(MIN(l_linenumber) AS INTEGER) AS first_line,
           CAST(MAX(l_linenumber) AS INTEGER) AS last_line
    FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey
    """,
)
def q38(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordered array aggregation, surfaced as a canonical string
    (portable across the engines' array wire formats)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.array_join(F.sort_array(F.collect_list("l_linenumber")), ",").alias("lines"),
            F.count("*").cast("bigint").alias("n_lines"),
            F.min("l_linenumber").cast("int").alias("first_line"),
            F.max("l_linenumber").cast("int").alias("last_line"),
        )
        .orderBy("l_orderkey")
    )
