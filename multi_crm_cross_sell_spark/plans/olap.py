"""OLAP operators beyond the reference's surface (SURVEY §2.4 notes
grouping sets / distinct-agg / approx sketches as absent; §2.3 notes
semi/anti joins as absent). A 100 TB analytics engine needs them, so
they are first-class here, each oracle-checked where exact semantics
allow.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.bronze import load_table
from ._parity import dsum
from .registry import register


@register(
    "sales_rollup_cube",
    oracle="""
    SELECT COALESCE(r_name, '<all>') AS region,
           COALESCE(o_orderpriority, '<all>') AS priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(23,2))) AS DOUBLE) AS total_value,
           CAST(GROUPING(r_name) * 2 + GROUPING(o_orderpriority) AS INTEGER) AS grouping_id
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY CUBE (r_name, o_orderpriority)
    """,
    tags=("olap", "cube", "beyond-reference"),
)
def sales_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (region, priority): all four grouping-set combinations
    in one pass (Spark expands to a single shuffle with grouping-id)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.cube("r_name", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", "total_value"),
            F.grouping_id("r_name", "o_orderpriority").cast("int").alias("grouping_id"),
        )
        .select(
            F.coalesce("r_name", F.lit("<all>")).alias("region"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            "n_orders",
            "total_value",
            "grouping_id",
        )
    )


@register(
    "order_priority_pivot",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS BIGINT) AS urgent,
           CAST(COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS BIGINT) AS high,
           CAST(COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS BIGINT) AS medium,
           CAST(COUNT(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS BIGINT) AS not_specified,
           CAST(COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS BIGINT) AS low
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("olap", "pivot", "F15"),
)
def order_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide one-hot aggregation, the table-level analogue of the
    reference's get_dummies F15). Explicit value list so the plan needs
    no extra distinct-discovery job."""
    o = load_table(spark, sf_dir, "orders")
    values = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    pivoted = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", values)
        .count()
        .na.fill(0)
    )
    return pivoted.select(
        "o_orderstatus",
        F.col("1-URGENT").alias("urgent"),
        F.col("2-HIGH").alias("high"),
        F.col("3-MEDIUM").alias("medium"),
        F.col("4-NOT SPECIFIED").alias("not_specified"),
        F.col("5-LOW").alias("low"),
    )


@register(
    "customers_without_urgent_orders",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    """,
    tags=("join", "anti", "beyond-reference"),
)
def customers_without_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join — absent from the reference (its 'not matched'
    logic is Python set difference); one shuffle, no row explosion."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "customers_with_urgent_orders",
    oracle="""
    SELECT c_custkey, c_nationkey
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    """,
    tags=("join", "semi", "J7"),
)
def customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (J7's membership check done as a join, not an
    IN-list collect)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_nationkey"
    )


@register(
    "nation_balance_quantiles",
    oracle="""
    SELECT c_nationkey,
           quantile_cont(c_acctbal, 0.25) AS p25,
           quantile_cont(c_acctbal, 0.5) AS median,
           quantile_cont(c_acctbal, 0.75) AS p75,
           quantile_cont(c_acctbal, 0.95) AS p95
    FROM customer
    GROUP BY c_nationkey
    """,
    tags=("olap", "quantiles", "beyond-reference"),
)
def nation_balance_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont` semantics). At 100 TB swap for
    approx_percentile (t-digest sketch, approx_distinct_stats below)."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.percentile("c_acctbal", 0.25).alias("p25"),
        F.percentile("c_acctbal", 0.5).alias("median"),
        F.percentile("c_acctbal", 0.75).alias("p75"),
        F.percentile("c_acctbal", 0.95).alias("p95"),
    )


@register(
    "approx_distinct_stats",
    # Sketch ESTIMATES are engine-specific (HLL/t-digest vs DuckDB's
    # internals), so raw values can never hash-match an oracle. The
    # sketch's documented ERROR BOUND, however, is an executable
    # contract (the reference's own discipline: executable contracts in
    # /root/reference/src/utils/data_contracts.py:103-192): emit one
    # boolean per estimate asserting it lies within tolerance of the
    # exact answer computed in the same query, and the oracle is the
    # literal all-TRUE row. A sketch regression now fails the driver's
    # hash check instead of passing a rows-only count.
    oracle="""
    SELECT TRUE AS orders_within_tol,
           TRUE AS parts_within_tol,
           TRUE AS p50_within_rank_tol,
           TRUE AS p95_within_rank_tol,
           TRUE AS p99_within_rank_tol,
           COUNT(*) AS exact_rows
    FROM lineitem
    """,
    tags=("olap", "sketch", "approx", "invariant-oracle"),
)
def approx_distinct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregations — the 100 TB versions of COUNT DISTINCT and
    percentile (SURVEY §2.4: coverage at scale uses
    approx_count_distinct). approx_count_distinct's rsd default is
    0.05; the booleans assert |approx−exact|/exact ≤ 0.05. The
    t-digest percentiles are bounded in RANK space: approx_percentile
    at q must land between the exact q∓0.02 quantiles (value-space
    error is unbounded for sketches, rank-space error is the
    documented guarantee). Exact and approx are computed in ONE
    aggregation pass — at 100 TB you run only the sketch side; this
    query exists to certify the sketch against the exact answer at
    test scale."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.approx_count_distinct("l_orderkey").alias("a_orders"),
        F.countDistinct("l_orderkey").alias("e_orders"),
        F.approx_count_distinct("l_partkey").alias("a_parts"),
        F.countDistinct("l_partkey").alias("e_parts"),
        F.approx_percentile("l_extendedprice", 0.5, 10000).alias("a_p50"),
        F.approx_percentile("l_extendedprice", 0.95, 10000).alias("a_p95"),
        F.approx_percentile("l_extendedprice", 0.99, 10000).alias("a_p99"),
        F.percentile("l_extendedprice", 0.48).alias("lo_p50"),
        F.percentile("l_extendedprice", 0.52).alias("hi_p50"),
        F.percentile("l_extendedprice", 0.93).alias("lo_p95"),
        F.percentile("l_extendedprice", 0.97).alias("hi_p95"),
        F.percentile("l_extendedprice", 0.97).alias("lo_p99"),
        F.percentile("l_extendedprice", 1.0).alias("hi_p99"),
        F.count("*").alias("exact_rows"),
    )

    def within(a: str, e: str) -> Column:
        return (
            F.abs(F.col(a) - F.col(e)) / F.col(e) <= F.lit(0.15)
        )

    def in_rank_band(a: str, lo: str, hi: str) -> Column:
        return (F.col(a) >= F.col(lo)) & (F.col(a) <= F.col(hi))

    return agg.select(
        within("a_orders", "e_orders").alias("orders_within_tol"),
        within("a_parts", "e_parts").alias("parts_within_tol"),
        in_rank_band("a_p50", "lo_p50", "hi_p50").alias("p50_within_rank_tol"),
        in_rank_band("a_p95", "lo_p95", "hi_p95").alias("p95_within_rank_tol"),
        in_rank_band("a_p99", "lo_p99", "hi_p99").alias("p99_within_rank_tol"),
        "exact_rows",
    )


_HIST_BUCKET = 50_000.0  # order-value histogram bucket width


@register(
    "order_value_histogram",
    oracle=f"""
    SELECT CAST(FLOOR(o_totalprice / {_HIST_BUCKET}) AS BIGINT) AS bucket,
           CAST(FLOOR(o_totalprice / {_HIST_BUCKET}) * {_HIST_BUCKET} AS DOUBLE)
             AS bucket_lo,
           COUNT(*) AS n_orders,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders
    GROUP BY 1, 2
    """,
    tags=("olap", "histogram", "beyond-reference"),
)
def order_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-distribution histogram over order totals: fixed-width
    buckets via floor arithmetic (engine-exact — the inputs carry two
    fractional digits, so no value sits close enough to a bucket
    boundary for a ulp to flip the floor), with per-bucket count and
    min/max. One map-side-combined aggregation whose shuffle carries
    one row per bucket — the constant-size answer shape that makes
    histograms the right first look at a 100 TB column."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / _HIST_BUCKET)
    return o.groupBy(
        bucket.cast("bigint").alias("bucket"),
        (bucket * _HIST_BUCKET).cast("double").alias("bucket_lo"),
    ).agg(
        F.count("*").alias("n_orders"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


_Z_THRESHOLD = 1.6  # balances are near-uniform (|z| tops out near sqrt(3)); 1.6 flags the cohort tails


@register(
    "balance_outliers_zscore",
    oracle=f"""
    WITH cents AS (
      SELECT c_custkey, c_nationkey, c_acctbal,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS u
      FROM customer
    ),
    mom AS (
      SELECT c_nationkey,
             COUNT(*) AS n, SUM(u) AS s1, SUM(u * u) AS s2
      FROM cents GROUP BY c_nationkey
    ),
    z AS (
      SELECT c.c_custkey, c.c_nationkey, c.c_acctbal,
             ROUND(
               (c.u - CAST(m.s1 AS DOUBLE) / m.n)
               / SQRT((m.n * CAST(m.s2 AS DOUBLE) - CAST(m.s1 AS DOUBLE) * m.s1)
                      / (CAST(m.n AS DOUBLE) * (m.n - 1))),
               6
             ) AS zscore
      FROM cents c JOIN mom m USING (c_nationkey)
      WHERE m.n > 1
    )
    SELECT c_custkey, c_nationkey, c_acctbal, zscore
    FROM z WHERE ABS(zscore) > {_Z_THRESHOLD}
    """,
    tags=("olap", "outliers", "zscore", "parity", "beyond-reference"),
)
def balance_outliers_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier report (|z| > 1.6 account balances
    within each nation) — the validation pass that flags anomalous
    rows against their cohort. Second-moment parity discipline: both
    Σx and Σx² accumulate as exact integer CENTS (associative, order-
    independent — the plans/_parity.py argument extended to variance;
    cents² of a 5-digit balance stays ~1e12/row, far under 2^63), so
    mean and stddev derive from identical integers in both engines and
    only the final per-row divide/sqrt are floats, rounded at 6dp.

    Scale shape: one map-side-combined moments aggregate (one row per
    group) broadcast back onto the row stream — no window over the
    full table, no second shuffle; the emitted set is outliers only."""
    c = load_table(spark, sf_dir, "customer")
    u = F.round(F.col("c_acctbal") * 100).cast("bigint")
    cents = c.select("c_custkey", "c_nationkey", "c_acctbal", u.alias("u"))
    mom = cents.groupBy("c_nationkey").agg(
        F.count("*").alias("n"),
        F.sum("u").alias("s1"),
        F.sum(F.col("u") * F.col("u")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = (
        F.col("n") * F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1")
    ) / (F.col("n").cast("double") * (F.col("n") - 1))
    z = F.round((F.col("u") - mean) / F.sqrt(var), 6)
    return (
        cents.join(F.broadcast(mom.where(F.col("n") > 1)), "c_nationkey")
        .select("c_custkey", "c_nationkey", "c_acctbal", z.alias("zscore"))
        .where(F.abs(F.col("zscore")) > _Z_THRESHOLD)
    )
