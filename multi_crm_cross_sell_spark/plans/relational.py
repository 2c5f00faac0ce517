"""Relational operator inventory (SURVEY §2.1–§2.6) as oracle-checked
queries over the testdata star schema.

Each query is the Spark-first expression of an operator family the
reference hand-rolls in pandas/Python (file:line cites in docstrings
point into /root/reference for parity checking). Plans are pure
DataFrame API so Catalyst gets full visibility: filters/projections
push into the parquet scan, small dims broadcast, aggregations get
map-side partial combine, and AQE fixes partition counts at runtime.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.bronze import load_table
from ._parity import davg, dsum
from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Aggregations (A1-A3, A7) — pricing summary, TPC-H Q1 shape.
# Reference analogue: hand-rolled dict accumulation for insights
# (src/api/main.py:725-741) and dashboard KPI tiles
# (src/visualization/dashboard.py:125-160). One declarative groupBy gets
# partial aggregation + whole-stage codegen for free.
# ---------------------------------------------------------------------------
@register(
    "pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(23,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(23,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(27,6))) AS DOUBLE) AS sum_charge,
      CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
      CAST(SUM(CAST(l_discount AS DECIMAL(27,6))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "A2", "A3", "A7"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(
                "l_extendedprice * (1 - l_discount)", "sum_disc_price", "decimal(27,6)"
            ),
            dsum(
                "l_extendedprice * (1 - l_discount) * (l_tax + 1)",
                "sum_charge",
                "decimal(27,6)",
            ),
            davg("l_quantity", "avg_qty"),
            davg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Projection + pushed-down predicates (P1-P3, S3). Reference pushes
# SELECT lists and WHERE into SOQL by hand (salesforce.py:385-412);
# Catalyst pushes both into the parquet scan automatically.
# ---------------------------------------------------------------------------
@register(
    "filter_projection",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, CAST(o_orderdate AS DATE) AS order_day
    FROM orders
    WHERE o_orderstatus = 'O'
      AND o_totalprice > 50000
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    """,
    tags=("filter", "P1", "P3", "S3"),
)
def filter_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.where(
            (F.col("o_orderstatus") == "O")
            & (F.col("o_totalprice") > 50000)
            & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            & (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        )
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.col("o_orderdate").cast("date").alias("order_day"),
        )
    )


# ---------------------------------------------------------------------------
# AND-composed multi-predicate filter builder (P4/P5/J9): the API's
# OpportunityFilter (api/main.py:441-468) — score range, IN lists, OR
# across two org columns — recreated as a reusable predicate reduce.
# ---------------------------------------------------------------------------
@register(
    "multi_predicate_filter",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    WHERE c_acctbal BETWEEN 1000 AND 9000
      AND c_mktsegment IN ('AUTOMOBILE', 'MACHINERY')
      AND (c_nationkey < 5 OR c_nationkey >= 20)
    """,
    tags=("filter", "P4", "P5", "J9"),
)
def multi_predicate_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    conds = [
        F.col("c_acctbal").between(1000, 9000),
        F.col("c_mktsegment").isin("AUTOMOBILE", "MACHINERY"),
        (F.col("c_nationkey") < 5) | (F.col("c_nationkey") >= 20),
    ]
    return c.where(reduce(lambda a, b: a & b, conds)).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )


# ---------------------------------------------------------------------------
# Per-group top-k with ties kept (W2): the reference's
# nlargest(100, "AnnualRevenue", keep="all") candidate cap
# (src/ml/pipeline.py:335-336). rank() (not row_number) preserves the
# ties-keep-all semantics. Partitioned window — no global sort.
# ---------------------------------------------------------------------------
@register(
    "topk_per_group",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal, rnk
    FROM (
      SELECT c_custkey, c_nationkey, c_acctbal,
             CAST(RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS INTEGER) AS rnk
      FROM customer
    )
    WHERE rnk <= 5
    """,
    tags=("window", "W2"),
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"))
    return (
        c.withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") <= 5)
        .select("c_custkey", "c_nationkey", "c_acctbal", "rnk")
    )


# ---------------------------------------------------------------------------
# Global ranking + top-N (W1/W4/W8): sort desc by score, assign 1..N,
# keep prefix — the reference's recommendation ranking
# (src/ml/pipeline.py:318-322). Unique tiebreaker keeps it deterministic.
# At scale: Spark's TakeOrderedAndProject does a per-partition top-N then
# merges — no global shuffle of the full table.
# ---------------------------------------------------------------------------
@register(
    "global_rank_topn",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rank
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
    tags=("window", "W1", "W4", "W8"),
)
def global_rank_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.select("o_orderkey", "o_totalprice")
        .withColumn("rank", F.row_number().over(w))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Sorted pagination (W5/W6): dynamic sort + limit/offset
# (api/main.py:471-478; dashboard.py:244-266). Spark ≥3.4 has a real
# offset operator.
# ---------------------------------------------------------------------------
@register(
    "pagination",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 20 OFFSET 50
    """,
    tags=("window", "W5", "W6"),
)
def pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .offset(50)
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Multi-way dim join + group agg (J6/A4): revenue per nation. The
# reference does per-row dict lookups (evaluate.py:219-222); here the
# planner broadcast-joins the small dims (customer/nation) and
# shuffle-joins the fact once.
# ---------------------------------------------------------------------------
@register(
    "join_revenue_by_nation",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lineitems,
           CAST(SUM(CAST(l.l_discount AS DECIMAL(27,6))) AS DOUBLE) / COUNT(l.l_discount) AS avg_discount
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    tags=("join", "J6", "A4"),
)
def join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            dsum("l_extendedprice * (1 - l_discount)", "revenue", "decimal(27,6)"),
            F.count("*").alias("n_lineitems"),
            davg("l_discount", "avg_discount"),
        )
    )


# ---------------------------------------------------------------------------
# Outcome-label join (J5/A8): "account ever won an opportunity" — the
# reference builds a won_map dict then maps it over accounts
# (src/orchestrator.py:407-414). Set-based: bool-max agg + left join +
# sentinel fill. Label source here: customer has any fulfilled order.
# ---------------------------------------------------------------------------
@register(
    "label_join",
    oracle="""
    SELECT c.c_custkey, c.c_acctbal,
           COALESCE(l.label, 0) AS label
    FROM customer c
    LEFT JOIN (
      SELECT o_custkey, MAX(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS label
      FROM orders GROUP BY o_custkey
    ) l ON c.c_custkey = l.o_custkey
    """,
    tags=("join", "J5", "A8", "P8"),
)
def label_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    labels = o.groupBy("o_custkey").agg(
        F.max(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("label")
    )
    return (
        c.join(labels, c.c_custkey == labels.o_custkey, "left")
        .select("c_custkey", "c_acctbal", F.coalesce("label", F.lit(0)).alias("label"))
    )


# ---------------------------------------------------------------------------
# Grouped string aggregation (J4/M5): the reference's contacts→account
# text assembly loop (src/orchestrator.py:262-283) as
# collect_list + array_sort + array_join (sorted for determinism).
# ---------------------------------------------------------------------------
@register(
    "string_agg_per_group",
    oracle="""
    SELECT o_custkey,
           STRING_AGG(o_orderpriority, ' ' ORDER BY o_orderpriority) AS priorities,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    """,
    tags=("agg", "J4", "M5"),
)
def string_agg_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.array_join(F.array_sort(F.collect_list("o_orderpriority")), " ").alias(
            "priorities"
        ),
        F.count("*").alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Date-bucketed aggregation (A2/F22): GROUP BY DATE(created_at) from the
# dashboard time series (src/visualization/dashboard.py:71-80).
# ---------------------------------------------------------------------------
@register(
    "daily_order_stats",
    oracle="""
    SELECT CAST(o_orderdate AS DATE) AS day,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(23,2))) AS DOUBLE) AS total_value
    FROM orders
    GROUP BY CAST(o_orderdate AS DATE)
    """,
    tags=("agg", "A2", "F22"),
)
def daily_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice", "total_value"))
    )


# ---------------------------------------------------------------------------
# Date-spine trend (A6): last-N-days loop (api/main.py:749-761) done
# right — generate the calendar with sequence/explode and left-join so
# zero days appear. No driver-side loop.
# ---------------------------------------------------------------------------
@register(
    "trend_with_date_spine",
    oracle="""
    WITH bounds AS (
      SELECT CAST(MIN(o_orderdate) AS DATE) AS mn, CAST(MAX(o_orderdate) AS DATE) AS mx
      FROM orders
    ),
    spine AS (
      SELECT CAST(UNNEST(GENERATE_SERIES(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    ),
    daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT s.day, COALESCE(d.n_orders, 0) AS n_orders
    FROM spine s LEFT JOIN daily d ON s.day = d.day
    """,
    tags=("agg", "A6"),
)
def trend_with_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("mn"),
        F.max(F.col("o_orderdate").cast("date")).alias("mx"),
    )
    spine = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("interval 1 day"))).alias("day")
    )
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count("*").alias("n_orders")
    )
    return spine.join(daily, "day", "left").select(
        "day", F.coalesce("n_orders", F.lit(0)).alias("n_orders")
    )


# ---------------------------------------------------------------------------
# Contract-validation report (P10/A9): the reference's
# validate_dataframe (src/utils/data_contracts.py:103-192) walks rules
# row-at-a-time per column; here it's ONE aggregation pass producing a
# report row — same cost shape at 100 TB as a single scan.
# ---------------------------------------------------------------------------
@register(
    "contract_validation_report",
    oracle="""
    SELECT
      COUNT(*) AS total_rows,
      CAST(COUNT(CASE WHEN c_name IS NULL THEN 1 END) AS BIGINT) AS null_name,
      CAST(COUNT(CASE WHEN c_acctbal IS NULL THEN 1 END) AS BIGINT) AS null_acctbal,
      COUNT(*) - COUNT(DISTINCT c_custkey) AS duplicate_keys,
      MIN(c_acctbal) AS min_acctbal,
      MAX(c_acctbal) AS max_acctbal,
      CAST(COUNT(CASE WHEN c_acctbal < -1000 THEN 1 END) AS BIGINT) AS out_of_range_acctbal,
      CAST(COUNT(CASE WHEN c_mktsegment NOT IN
        ('AUTOMOBILE','BUILDING','FURNITURE','MACHINERY','HOUSEHOLD') THEN 1 END) AS BIGINT)
        AS bad_segment
    FROM customer
    """,
    tags=("validation", "P10", "A9"),
)
def contract_validation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    allowed = ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"]
    return c.agg(
        F.count("*").alias("total_rows"),
        F.count(F.when(F.col("c_name").isNull(), 1)).alias("null_name"),
        F.count(F.when(F.col("c_acctbal").isNull(), 1)).alias("null_acctbal"),
        (F.count("*") - F.countDistinct("c_custkey")).alias("duplicate_keys"),
        F.min("c_acctbal").alias("min_acctbal"),
        F.max("c_acctbal").alias("max_acctbal"),
        F.count(F.when(F.col("c_acctbal") < -1000, 1)).alias("out_of_range_acctbal"),
        F.count(F.when(~F.col("c_mktsegment").isin(allowed), 1)).alias("bad_segment"),
    )


# ---------------------------------------------------------------------------
# Set operations (SO1/SO4): distinct union across two sources — org
# names across two columns (dashboard.py:107-109) / table-level union
# (evaluate_entity_resolution.py:66).
# ---------------------------------------------------------------------------
@register(
    "distinct_union_nations",
    oracle="""
    SELECT DISTINCT nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
      UNION ALL
      SELECT s_nationkey AS nationkey FROM supplier
    )
    """,
    tags=("setop", "SO1", "SO4"),
)
def distinct_union_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    return (
        c.where(F.col("c_acctbal") > 9000)
        .select(F.col("c_nationkey").alias("nationkey"))
        .unionByName(s.select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Analytic window: lag + explicit moving average (beyond the reference's
# ranking-only windows; SURVEY §2.5 notes the gap). Moving avg is built
# from lag() arithmetic — identical fold order in both engines, so the
# doubles match exactly without rounding.
# ---------------------------------------------------------------------------
@register(
    "customer_order_deltas",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           LAG(o_totalprice) OVER w AS prev_price,
           (o_totalprice
            + COALESCE(LAG(o_totalprice, 1) OVER w, 0)
            + COALESCE(LAG(o_totalprice, 2) OVER w, 0))
           / (1 + CASE WHEN LAG(o_totalprice, 1) OVER w IS NULL THEN 0 ELSE 1 END
                + CASE WHEN LAG(o_totalprice, 2) OVER w IS NULL THEN 0 ELSE 1 END)
           AS moving_avg_3,
           CAST(DATEDIFF('day', LAG(o_orderdate) OVER w, o_orderdate) AS INTEGER) AS days_since_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("window", "lag", "frames"),
)
def customer_order_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    p1 = F.lag("o_totalprice", 1).over(w)
    p2 = F.lag("o_totalprice", 2).over(w)
    n_present = (
        F.lit(1)
        + F.when(p1.isNull(), 0).otherwise(1)
        + F.when(p2.isNull(), 0).otherwise(1)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        p1.alias("prev_price"),
        (
            (F.col("o_totalprice") + F.coalesce(p1, F.lit(0)) + F.coalesce(p2, F.lit(0)))
            / n_present
        ).alias("moving_avg_3"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("days_since_prev"),
    )


@register(
    "grouped_rank_applyinpandas",
    oracle="""
    SELECT c_custkey, c_nationkey,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY c_nationkey
             ORDER BY c_acctbal DESC, c_custkey
           ) AS INTEGER) AS balance_rank
    FROM customer
    """,
    tags=("udf", "applyInPandas", "grouped-map", "W2"),
)
def grouped_rank_applyinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas surface: per-nation balance ranking
    computed in pandas (stable sort, deterministic tiebreak on key —
    integer output so the oracle comparison is exact). The native
    Window equivalent is `topk_per_group`; this entry pins the Arrow
    grouped-map path itself — partition-per-group fan-out, pandas
    compute, Arrow return — which is the shape every custom per-group
    Python operator (per-org model scoring, per-group normalization)
    rides at scale. Keys with many rows shuffle to one task each, so
    at 100 TB the grouping key must be chosen with bounded group size
    (nations here; never a boolean)."""
    import pandas as pd

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )

    def rank_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["c_acctbal", "c_custkey"], ascending=[False, True], kind="mergesort"
        ).reset_index(drop=True)
        pdf["balance_rank"] = pd.array(range(1, len(pdf) + 1), dtype="int32")
        return pdf[["c_custkey", "c_nationkey", "balance_rank"]]

    return c.groupBy("c_nationkey").applyInPandas(
        rank_group,
        schema="c_custkey bigint, c_nationkey int, balance_rank int",
    )


@register(
    "weekly_order_rollup",
    oracle="""
    SELECT CAST(DATE_TRUNC('week', CAST(o_orderdate AS DATE)) AS DATE) AS week_start,
           CAST(DATE_TRUNC('month', CAST(o_orderdate AS DATE)) AS DATE) AS month_start,
           o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(23,2))) AS DOUBLE) AS total_value
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1, 2, 3
    """,
    tags=("agg", "A2", "A6", "F22", "ST5"),
)
def weekly_order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-bucketed rollup at two grains in one pass (week +
    month via date_trunc — both Monday/first-of-month in Spark AND the
    oracle dialect, verified). The batch face of the streaming
    tumbling windows; at 100 TB the date filter prunes partitions
    before the single partial-agg shuffle."""
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return (
        o.where(
            F.col("o_orderdate")
            >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
        )
        .groupBy(
            F.date_trunc("week", d).cast("date").alias("week_start"),
            F.date_trunc("month", d).cast("date").alias("month_start"),
            "o_orderpriority",
        )
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", "total_value"),
        )
    )
