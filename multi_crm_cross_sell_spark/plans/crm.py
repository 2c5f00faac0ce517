"""Cross-sell CRM semantics (SURVEY §2.3 J1/J2, §2.7 F7-F21, §3.1)
mapped onto the testdata star schema: nations play the role of CRM
orgs, customers the role of accounts, orders the role of
opportunities.

The flagship ``cross_sell_recommendations`` reproduces the reference's
core batch pipeline (/root/reference/src/ml/pipeline.py:300-373) as ONE
lazy DataFrame DAG: activity aggregation → feature projection →
per-org top-k candidate cap (rank keeps ties, mirroring
``nlargest(..., keep="all")``) → pair join → rule score → when-ladders
→ global rank → top-N. What the reference does with nested Python
loops and per-pair 1-row model calls is here a capped broadcast
nested-loop join over ~20 rows/org — constant-size pair space no
matter how large the base tables grow.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.features import is_enterprise, log1p_guarded, recency_score
from ..functions.hashing import ab_variant, deterministic_pair_id
from ..functions.similarity import (
    jaccard_tokens,
    jaro_winkler_textbook_fenced,
    levenshtein_similarity,
)
from ..functions.text import domain_from_url, root_domain
from ..sources.bronze import load_table
from ._parity import dsum, spark_sql_dsum, sql_dsum
from .registry import register

AS_OF = "2001-09-01"  # frozen "now" (SURVEY §7.3: F10 must be parameterized)


def _customer_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer activity rollup + null-sentinel features —
    the account-feature frame (pipeline.py:65-106) set-based."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    act = o.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_order_day"),
        dsum("o_totalprice", "total_spend"),
    )
    return c.join(act, c.c_custkey == act.o_custkey, "left").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("total_spend", F.lit(0.0)).alias("total_spend"),
        F.coalesce(
            F.datediff(F.lit(AS_OF).cast("date"), F.col("last_order_day")),
            F.lit(365),
        ).alias("days_since_order"),
    )


@register(
    "account_features",
    oracle=f"""
    WITH act AS (
      SELECT o_custkey,
             COUNT(*) AS n_orders,
             MAX(CAST(o_orderdate AS DATE)) AS last_order_day,
             {sql_dsum("o_totalprice", "total_spend")}
      FROM orders GROUP BY o_custkey
    ),
    base AS (
      SELECT c.c_custkey, c.c_acctbal, c.c_mktsegment,
             COALESCE(a.n_orders, 0) AS n_orders,
             COALESCE(a.total_spend, 0.0) AS total_spend,
             COALESCE(CAST(DATEDIFF('day', a.last_order_day, DATE '{AS_OF}') AS INTEGER), 365)
               AS days_since_order
      FROM customer c LEFT JOIN act a ON c.c_custkey = a.o_custkey
    )
    SELECT c_custkey,
           ROUND(LN(1 + GREATEST(COALESCE(c_acctbal, 0.0), 0.0)), 9) AS log_balance,
           ROUND(LN(1 + GREATEST(COALESCE(total_spend, 0.0), 0.0)), 9) AS log_spend,
           CAST(COALESCE(c_acctbal, 0.0) > 5000 AS INTEGER) AS is_high_value,
           1.0 / (1.0 + days_since_order / 30.0) AS activity_recency,
           n_orders,
           COALESCE(total_spend, 0.0)
             / (CASE WHEN COALESCE(n_orders, 0) = 0 THEN 1 ELSE n_orders END)
             AS spend_per_order,
           CAST(c_mktsegment = 'AUTOMOBILE' AS INTEGER) AS seg_automobile,
           CAST(c_mktsegment = 'BUILDING' AS INTEGER) AS seg_building,
           CAST(c_mktsegment = 'MACHINERY' AS INTEGER) AS seg_machinery
    FROM base
    """,
    tags=("features", "P2", "F7", "F8", "F9", "F10", "F11", "F15"),
)
def account_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Account feature projection (pipeline.py:65-106): log1p scale
    features, sentinel-guarded ratio, enterprise flag, recency score,
    one-hot segment flags — all codegen column expressions."""
    cust = _customer_activity(spark, sf_dir)
    n_orders_guard = F.when(F.col("n_orders") == 0, F.lit(1)).otherwise(
        F.col("n_orders")
    )
    return cust.select(
        "c_custkey",
        F.round(log1p_guarded(F.col("c_acctbal")), 9).alias("log_balance"),
        F.round(log1p_guarded(F.col("total_spend")), 9).alias("log_spend"),
        is_enterprise(F.col("c_acctbal"), 5000.0).alias("is_high_value"),
        recency_score(F.col("days_since_order")).alias("activity_recency"),
        "n_orders",
        (F.col("total_spend") / n_orders_guard).alias("spend_per_order"),
        (F.col("c_mktsegment") == "AUTOMOBILE").cast("int").alias("seg_automobile"),
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("seg_building"),
        (F.col("c_mktsegment") == "MACHINERY").cast("int").alias("seg_machinery"),
    )


_FLAGSHIP_ORACLE = f"""
WITH act AS (
  SELECT o_custkey,
         COUNT(*) AS n_orders,
         MAX(CAST(o_orderdate AS DATE)) AS last_order_day,
         {sql_dsum("o_totalprice", "total_spend")}
  FROM orders GROUP BY o_custkey
),
cust AS (
  SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment,
         COALESCE(a.n_orders, 0) AS n_orders,
         COALESCE(a.total_spend, 0.0) AS total_spend,
         COALESCE(CAST(DATEDIFF('day', a.last_order_day, DATE '{AS_OF}') AS INTEGER), 365)
           AS days_since_order
  FROM customer c LEFT JOIN act a ON c.c_custkey = a.o_custkey
),
topk AS (
  SELECT * FROM (
    SELECT cust.*,
           CAST(RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS INTEGER) AS rnk
    FROM cust
  ) WHERE rnk <= 20
),
topn AS (
  SELECT t.*, n.n_name, n.n_regionkey
  FROM topk t JOIN nation n ON t.c_nationkey = n.n_nationkey
),
pairs AS (
  SELECT
    a.c_custkey AS account1_id, b.c_custkey AS account2_id,
    a.c_name AS account1_name, b.c_name AS account2_name,
    a.n_name AS org1_id, b.n_name AS org2_id,
    CAST(CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE 0 END AS DOUBLE) AS same_segment,
    CAST(CASE WHEN a.n_regionkey = b.n_regionkey THEN 1 ELSE 0 END AS DOUBLE) AS same_region,
    LEAST(GREATEST(COALESCE(a.c_acctbal,1.0),1.0), GREATEST(COALESCE(b.c_acctbal,1.0),1.0))
      / GREATEST(GREATEST(COALESCE(a.c_acctbal,1.0),1.0), GREATEST(COALESCE(b.c_acctbal,1.0),1.0))
      AS size_ratio,
    2.0 / (1.0 + a.days_since_order / 30.0 + b.days_since_order / 30.0) AS pair_activity,
    ROUND(1.0 / (1.0 + ABS(LN(GREATEST(COALESCE(a.total_spend,1.0),1.0)
                      / GREATEST(COALESCE(b.total_spend,1.0),1.0)))), 9) AS spend_compat,
    a.total_spend AS spend1, b.total_spend AS spend2
  FROM topn a JOIN topn b ON a.c_nationkey < b.c_nationkey
),
scored AS (
  SELECT *,
    ROUND(0.3 * same_segment + 0.25 * size_ratio + 0.25 * pair_activity
          + 0.2 * spend_compat, 9) AS score
  FROM pairs
)
SELECT account1_id, account2_id, account1_name, account2_name, org1_id, org2_id,
       same_segment, size_ratio, pair_activity, spend_compat, score,
       CASE WHEN score >= 0.8 THEN 'Very High' WHEN score >= 0.6 THEN 'High'
            WHEN score >= 0.4 THEN 'Medium' ELSE 'Low' END AS confidence_level,
       CASE WHEN same_segment >= 1.0 THEN 'Segment Expansion'
            WHEN same_region < 1.0 THEN 'Market Development'
            ELSE 'Partner Referral' END AS recommendation_type,
       ROUND(0.1 * (spend1 + spend2), 2) AS estimated_value,
       CASE WHEN score >= 0.8 THEN 'Schedule joint executive briefing'
            WHEN score >= 0.6 THEN 'Arrange partner introduction call'
            WHEN score >= 0.4 THEN 'Share co-marketing materials'
            ELSE 'Add to nurture campaign' END AS next_best_action,
       CAST(ROW_NUMBER() OVER (ORDER BY score DESC, account1_id, account2_id) AS INTEGER) AS rank
FROM scored
ORDER BY score DESC, account1_id, account2_id
LIMIT 100
"""


@register(
    "cross_sell_recommendations",
    oracle=_FLAGSHIP_ORACLE,
    tags=("flagship", "J1", "W1", "W2", "F11", "F12", "F13", "F16", "F17", "F18", "F19"),
)
def cross_sell_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: top-100 cross-org recommendations (pipeline.py:300-373
    re-planned). Candidate cap first (rank ≤ 20 per org, ties kept →
    W2), THEN the pair join — the pair space stays ~(orgs·20)² rows
    regardless of base-table size, and Spark broadcast-NL-joins the
    tiny capped sides.

    CONSTRUCTION COST: the plan is declared as TWO parameterized
    spark.sql statements, a handful of py4j round trips, where the
    same plan as a ~300-call Column tree cost 1.14s of driver time to
    construct at sf0.1 against 0.58s in its jobs (SCALE.md §Round 12).
    D-suffixed literals keep the arithmetic in doubles, as the oracle
    computes it. The fixed-point spend sum goes through spark_sql_dsum,
    which keeps the overflow and NaN traps of plans/_parity.py with
    the same floor(x*100+0.5) integer units. estimated_value rounds as
    ROUND(x * 100D) / 100D, the oracle's ROUND(x, 2) formula: Spark's
    two-place ROUND rounds the double's decimal string HALF_UP, DuckDB
    rounds x·100 half away from zero, and the two differ when x·100
    lands exactly on a .5 that x's own decimal string does not show
    (349230.58499999996 · 100 = 34923058.5 at sf0.1).

    Scale notes unchanged from rounds 9-11: rank-first cap (the
    aggregate sees only top-k customers via a broadcast semi-filter),
    an RDD checkpoint (``localCheckpoint(eager=False)``) of the capped
    frame so the rename-divergent self-join sides share one computation
    — under adaptive execution its shuffle and broadcast stages run
    while this function builds the plan, and only its last stage waits
    for the caller's action, explicit broadcast of the
    pair side (the checkpointed frame carries no stats — without the
    hint the non-equi join falls back to CartesianProduct), and
    ORDER BY + LIMIT planning as TakeOrderedAndProject (per-partition
    partial top-100; the row_number ranks the surviving 100 rows,
    identical values by construction).

    MEASURED NEGATIVE (round 12, don't re-try): folding both
    statements into ONE with topn as a twice-referenced CTE — to skip
    the checkpoint's RDD-conversion driver cost — LOST the same-
    session alternating A/B (0.898s two-statement+checkpoint vs
    1.066s single-statement, min-of-6 at sf0.1, outputs verified
    identical): Catalyst inlines deterministic CTEs, so topn's rank
    window + activity aggregate executed twice, costing more than the
    one RDD conversion saves."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")

    topn = spark.sql(
        f"""
        WITH topk AS (
          SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
          FROM (
            SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
                   rank() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC) AS rnk
            FROM {{c}}
          ) WHERE rnk <= 20
        ),
        act AS (
          SELECT /*+ BROADCAST(tk) */ o_custkey,
                 COUNT(*) AS n_orders,
                 MAX(CAST(o_orderdate AS DATE)) AS last_order_day,
                 {spark_sql_dsum("o_totalprice", "total_spend")}
          FROM {{o}} o JOIN (SELECT c_custkey FROM topk) tk
            ON o.o_custkey = tk.c_custkey
          GROUP BY o_custkey
        ),
        cust AS (
          SELECT /*+ BROADCAST(act) */
                 t.c_custkey, t.c_name, t.c_nationkey, t.c_acctbal,
                 t.c_mktsegment,
                 COALESCE(act.n_orders, 0) AS n_orders,
                 COALESCE(act.total_spend, 0.0D) AS total_spend,
                 COALESCE(DATEDIFF(DATE'{AS_OF}', act.last_order_day), 365)
                   AS days_since_order
          FROM topk t LEFT JOIN act ON t.c_custkey = act.o_custkey
        )
        SELECT /*+ BROADCAST(n) */ cust.*, n.n_name, n.n_regionkey
        FROM cust JOIN {{n}} n ON cust.c_nationkey = n.n_nationkey
        """,
        c=c,
        o=o,
        n=n,
    ).localCheckpoint(eager=False)

    return spark.sql(
        """
        WITH pairs AS (
          SELECT /*+ BROADCAST(b) */
                 a.c_custkey AS account1_id,
                 b.c_custkey AS account2_id,
                 a.c_name AS account1_name,
                 b.c_name AS account2_name,
                 a.n_name AS org1_id,
                 b.n_name AS org2_id,
                 CASE WHEN a.c_mktsegment = b.c_mktsegment
                      THEN 1.0D ELSE 0.0D END AS same_segment,
                 CASE WHEN a.n_regionkey = b.n_regionkey
                      THEN 1.0D ELSE 0.0D END AS same_region,
                 LEAST(GREATEST(COALESCE(a.c_acctbal, 1.0D), 1.0D),
                       GREATEST(COALESCE(b.c_acctbal, 1.0D), 1.0D))
                 / GREATEST(GREATEST(COALESCE(a.c_acctbal, 1.0D), 1.0D),
                            GREATEST(COALESCE(b.c_acctbal, 1.0D), 1.0D))
                   AS size_ratio,
                 2.0D / (1.0D
                         + COALESCE(CAST(a.days_since_order AS DOUBLE),
                                    365.0D) / 30.0D
                         + COALESCE(CAST(b.days_since_order AS DOUBLE),
                                    365.0D) / 30.0D) AS pair_activity,
                 ROUND(1.0D / (1.0D + ABS(LN(
                     GREATEST(COALESCE(a.total_spend, 1.0D), 1.0D)
                     / GREATEST(COALESCE(b.total_spend, 1.0D), 1.0D)))), 9)
                   AS spend_compat,
                 a.total_spend AS spend1,
                 b.total_spend AS spend2
          FROM {a} a JOIN {b} b ON a.c_nationkey < b.c_nationkey
        ),
        scored AS (
          SELECT *,
                 ROUND(0.3D * same_segment + 0.25D * size_ratio
                       + 0.25D * pair_activity + 0.2D * spend_compat, 9)
                   AS score
          FROM pairs
        ),
        top100 AS (
          SELECT * FROM scored
          ORDER BY score DESC, account1_id ASC, account2_id ASC
          LIMIT 100
        )
        SELECT account1_id, account2_id, account1_name, account2_name,
               org1_id, org2_id, same_segment, size_ratio, pair_activity,
               spend_compat, score,
               CASE WHEN score >= 0.8D THEN 'Very High'
                    WHEN score >= 0.6D THEN 'High'
                    WHEN score >= 0.4D THEN 'Medium'
                    ELSE 'Low' END AS confidence_level,
               CASE WHEN same_segment >= 1.0D THEN 'Segment Expansion'
                    WHEN same_region < 1.0D THEN 'Market Development'
                    ELSE 'Partner Referral' END AS recommendation_type,
               ROUND(0.1D * (spend1 + spend2) * 100D) / 100D
                 AS estimated_value,
               CASE WHEN score >= 0.8D THEN 'Schedule joint executive briefing'
                    WHEN score >= 0.6D THEN 'Arrange partner introduction call'
                    WHEN score >= 0.4D THEN 'Share co-marketing materials'
                    ELSE 'Add to nurture campaign' END AS next_best_action,
               ROW_NUMBER() OVER (ORDER BY score DESC, account1_id ASC,
                                  account2_id ASC) AS rank
        FROM top100
        """,
        a=topn,
        b=topn,
    )


def _blocked_part_pairs(
    spark: SparkSession, sf_dir: str, *cols: str | Column
) -> DataFrame:
    """``part`` self-joined within blocks: the same first name word
    (``block_key``) and the same ``p_size``, each unordered pair once
    (``a.p_partkey < b.p_partkey``). Both sides, aliased ``a`` and
    ``b``, carry ``p_partkey``, ``p_name``, ``p_size``, the caller's
    extra part columns ``cols`` and ``block_key``.

    The input is repartitioned on the join keys to an explicit
    ``defaultParallelism * 2`` partitions: AQE's coalescer sizes
    partitions by shuffle bytes and would fold the narrow part
    projection into one partition, so every block's pairs (and the
    per-pair similarity work above the join) would run on one core;
    a REPARTITION_BY_NUM exchange is exempt from coalescing. The
    ``shuffle_hash`` hint keeps both sides the identical subplan, so
    the projection is computed once and its exchange reused; a
    broadcast side would re-run it and ship a build side that grows
    with the corpus to every task. SCALE.md §Round 13/14 has the
    measurements."""
    n_parts = spark.sparkContext.defaultParallelism * 2
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_size", *cols,
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("block_key"),
    ).repartition(n_parts, F.col("block_key"), F.col("p_size"))
    a, b = p.alias("a").hint("shuffle_hash"), p.alias("b")
    return a.join(
        b,
        (F.col("a.block_key") == F.col("b.block_key"))
        & (F.col("a.p_size") == F.col("b.p_size"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    )


def _name_tokens() -> Column:
    """Distinct words of ``p_name``, split once per part row so a pair
    join carries small arrays instead of re-splitting per pair."""
    return F.array_distinct(F.split(F.col("p_name"), " ")).alias("toks")


def _er_rule_features() -> list[Column]:
    """The cheap features of the ER rule score over a blocked pair
    (entity_resolution.py:398-446): token Jaccard, same brand and the
    min/max size ratio. Both sides must carry ``p_brand`` and
    :func:`_name_tokens`."""
    return [
        jaccard_tokens(F.col("a.toks"), F.col("b.toks")).alias("jac"),
        F.when(F.col("a.p_brand") == F.col("b.p_brand"), 1.0)
        .otherwise(0.0)
        .alias("same_brand"),
        (
            F.least(F.col("a.p_size"), F.col("b.p_size")).cast("double")
            / F.greatest(F.col("a.p_size"), F.col("b.p_size"))
        ).alias("size_ratio"),
    ]


def _er_rule_score() -> Column:
    """0.4·lev_sim + 0.3·jac + 0.2·same_brand + 0.1·size_ratio over
    the bound feature columns."""
    return (
        0.4 * F.col("lev_sim")
        + 0.3 * F.col("jac")
        + 0.2 * F.col("same_brand")
        + 0.1 * F.col("size_ratio")
    )


@register(
    "blocked_similarity_join",
    oracle="""
    WITH p AS (
      SELECT p_partkey, p_name, p_size,
             SPLIT_PART(p_name, ' ', 1) AS block_key
      FROM part
    )
    SELECT a.p_partkey AS part1_id, b.p_partkey AS part2_id,
           a.p_name AS name1, b.p_name AS name2,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_distance,
           ROUND(1.0 - levenshtein(a.p_name, b.p_name)
                 / CAST(GREATEST(LENGTH(a.p_name), LENGTH(b.p_name)) AS DOUBLE), 9)
             AS name_similarity
    FROM p a JOIN p b
      ON a.block_key = b.block_key AND a.p_size = b.p_size
         AND a.p_partkey < b.p_partkey
    WHERE 1.0 - levenshtein(a.p_name, b.p_name)
          / CAST(GREATEST(LENGTH(a.p_name), LENGTH(b.p_name)) AS DOUBLE) >= 0.5
    """,
    tags=("join", "J2", "F4", "A1"),
)
def blocked_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked entity-resolution join (entity_resolution.py:287-294,
    459-478): derive a blocking key, equi-join within blocks, then the
    similarity theta-filter. The equi-join keeps the candidate space
    O(block²) instead of O(n²) — the same reason the reference blocks,
    but as a shuffle-partitioned hash join instead of a dict of
    nested loops."""
    pairs = _blocked_part_pairs(spark, sf_dir)
    sim = levenshtein_similarity(F.col("a.p_name"), F.col("b.p_name"))
    return (
        pairs.where(sim >= 0.5)
        .select(
            F.col("a.p_partkey").alias("part1_id"),
            F.col("b.p_partkey").alias("part2_id"),
            F.col("a.p_name").alias("name1"),
            F.col("b.p_name").alias("name2"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).alias("edit_distance"),
            F.round(sim, 9).alias("name_similarity"),
        )
    )


@register(
    "token_jaccard_pairs",
    oracle="""
    WITH p AS (
      SELECT p_partkey, p_name, p_brand, p_size,
             LIST_DISTINCT(STRING_SPLIT(p_name, ' ')) AS toks
      FROM part
    )
    SELECT a.p_partkey AS part1_id, b.p_partkey AS part2_id,
           ROUND(CAST(LEN(LIST_INTERSECT(a.toks, b.toks)) AS DOUBLE)
                 / LEN(LIST_DISTINCT(LIST_CONCAT(a.toks, b.toks))), 9) AS jaccard
    FROM p a JOIN p b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
         AND ABS(a.p_size - b.p_size) <= 1
    """,
    tags=("setop", "SO2", "SO3", "F6"),
)
def token_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard over candidate pairs
    (entity_resolution.py:157-164; product-set overlap
    pipeline.py:126-133) via array_intersect/array_union — set algebra
    stays JVM-side."""
    n_parts = spark.sparkContext.defaultParallelism * 2
    # Repartition on the equi-key before the join (round 13): AQE's
    # byte-based coalescer folded the 20k-row input to one partition,
    # so ~8M candidate probes (25 brand blocks × C(800,2) pairs, theta
    # evaluated per probe) ran on one core — a 3.9s single task.
    # p_brand has 25 distinct values, so the spread is 25-way
    # (adjacent A/B min-of-6 at sf0.1: 4.929s → 0.846s, outputs
    # exact-equal). At 100 TB a brand-cardinality block key would
    # need salting or a composite key; here the block count IS the
    # reference's blocking design.
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size", _name_tokens()
    ).repartition(n_parts, F.col("p_brand"))
    a, b = p.alias("a").hint("shuffle_hash"), p.alias("b")
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey"))
            & (F.abs(F.col("a.p_size") - F.col("b.p_size")) <= 1),
        )
        .select(
            F.col("a.p_partkey").alias("part1_id"),
            F.col("b.p_partkey").alias("part2_id"),
            F.round(jaccard_tokens(F.col("a.toks"), F.col("b.toks")), 9).alias("jaccard"),
        )
    )


@register(
    "deterministic_pred_id",
    oracle="""
    SELECT o_orderkey, o_custkey,
           'pred_' || SUBSTRING(sha256(
             CAST(LEAST(o_orderkey, o_custkey) AS VARCHAR) || ':' ||
             CAST(GREATEST(o_orderkey, o_custkey) AS VARCHAR) || ':v1'
           ), 1, 12) AS pred_id
    FROM orders
    WHERE o_totalprice > 300000
    """,
    tags=("hash", "F20"),
)
def deterministic_pred_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic prediction IDs: sha256 of the order-normalized
    pair + version (feedback_logging.py:386-400)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.where(F.col("o_totalprice") > 300000)
        .select(
            "o_orderkey",
            "o_custkey",
            deterministic_pair_id(F.col("o_orderkey"), F.col("o_custkey")).alias("pred_id"),
        )
    )


@register(
    "ab_bucket_allocation",
    oracle="""
    SELECT CASE WHEN TRY_CAST('0x' || SUBSTRING(md5(CAST(c_custkey AS VARCHAR)), 1, 15) AS BIGINT)
                     % 1000 < 500
                THEN 'treatment' ELSE 'control' END AS variant,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(23,2))) AS DOUBLE) / COUNT(c_acctbal) AS avg_balance
    FROM customer
    GROUP BY 1
    """,
    tags=("hash", "F21", "ML15"),
)
def ab_bucket_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hash A/B routing (feedback_logging.py:546-571):
    md5-bucket each key into [0,1000), split by cumulative allocation,
    then per-variant funnel stats."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.withColumn("variant", ab_variant(F.col("c_custkey")))
        .groupBy("variant")
        .agg(
            F.count("*").alias("n_customers"),
            (
                F.sum(F.col("c_acctbal").cast("decimal(23,2)")).cast("double")
                / F.count("c_acctbal")
            ).alias("avg_balance"),
        )
    )


@register(
    "domain_extraction",
    oracle="""
    SELECT doc_id,
           source || '.example.com' AS host,
           'example.com' AS root,
           source || '.example.com' AS email_host
    FROM documents
    """,
    tags=("text", "F3"),
)
def domain_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain extraction (entity_resolution.py:109-151): parse_url HOST
    + www-strip for URLs, '@'-split for emails, last-2-labels root
    domain. URLs are synthesized from the documents table (testdata has
    no URL column); the oracle states the expected value directly."""
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://www."), F.col("source"), F.lit(".example.com/docs/"), F.col("doc_id")
    )
    email = F.concat(F.lit("contact@"), F.col("source"), F.lit(".example.com"))
    host = domain_from_url(url)
    return d.select(
        "doc_id",
        host.alias("host"),
        root_domain(host).alias("root"),
        domain_from_url(email).alias("email_host"),
    )


@register(
    "er_match_cascade",
    oracle="""
    WITH p AS (
      SELECT p_partkey, p_name, p_brand, p_size,
             SPLIT_PART(p_name, ' ', 1) AS block_key,
             LIST_DISTINCT(STRING_SPLIT(p_name, ' ')) AS toks
      FROM part
    ),
    pairs AS (
      SELECT a.p_partkey AS id1, b.p_partkey AS id2,
             1.0 - levenshtein(a.p_name, b.p_name)
                   / CAST(GREATEST(LENGTH(a.p_name), LENGTH(b.p_name)) AS DOUBLE) AS lev_sim,
             CAST(LEN(LIST_INTERSECT(a.toks, b.toks)) AS DOUBLE)
                   / LEN(LIST_DISTINCT(LIST_CONCAT(a.toks, b.toks))) AS jac,
             CASE WHEN a.p_brand = b.p_brand THEN 1.0 ELSE 0.0 END AS same_brand,
             CAST(LEAST(a.p_size, b.p_size) AS DOUBLE) / GREATEST(a.p_size, b.p_size) AS size_ratio,
             CASE WHEN a.p_name = b.p_name THEN 1 ELSE 0 END AS exact_name
      FROM p a JOIN p b
        ON a.block_key = b.block_key AND a.p_size = b.p_size
           AND a.p_partkey < b.p_partkey
    ),
    scored AS (
      SELECT id1, id2, exact_name,
             0.4 * lev_sim + 0.3 * jac + 0.2 * same_brand + 0.1 * size_ratio AS score,
             lev_sim, jac, same_brand
      FROM pairs
    )
    SELECT id1, id2,
           CASE WHEN exact_name = 1 THEN 'exact'
                WHEN score >= 0.8 THEN 'strong'
                ELSE 'weak' END AS match_tier,
           ROUND(score, 9) AS match_score,
           CONCAT_WS(';',
             CASE WHEN exact_name = 1 THEN 'exact_name' END,
             CASE WHEN lev_sim >= 0.8 THEN 'name_similar' END,
             CASE WHEN jac >= 0.5 THEN 'tokens_overlap' END,
             CASE WHEN same_brand = 1.0 THEN 'same_brand' END) AS reasons
    FROM scored
    WHERE exact_name = 1 OR score >= 0.65
    """,
    tags=("ml", "ML10", "J2", "F4", "F6"),
)
def er_match_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML10 match-decision cascade (entity_resolution.py:398-446) as
    pure column expressions over the blocked pair frame: exact-match
    short-circuit → weighted rule score threshold, with a reasons list
    built from when()-guarded flags (reference builds it with Python
    appends). One blocked join + one projection; no per-pair Python."""
    pairs = _blocked_part_pairs(spark, sf_dir, "p_brand", _name_tokens())
    cheap = pairs.select(
        F.col("a.p_partkey").alias("id1"),
        F.col("b.p_partkey").alias("id2"),
        F.col("a.p_name").alias("name1"),
        F.col("b.p_name").alias("name2"),
        *_er_rule_features(),
        (F.col("a.p_name") == F.col("b.p_name")).alias("exact"),
    )
    # Lossless pre-gate before the Levenshtein DP: with lev_sim ≤ 1 and
    # size_ratio ≤ 1, score ≥ 0.65 is only reachable when the brands
    # match or token Jaccard ≥ 0.5 (0.4·1 + 0.3·jac + 0.2·brand + 0.1
    # ≥ 0.65 ⇒ 0.3·jac + 0.2·brand ≥ 0.15). The O(|s1|·|s2|) DP runs
    # on the ~5% of blocked pairs that can still qualify; pruned pairs
    # were below threshold for ANY Levenshtein value, so the output is
    # bit-identical to the ungated plan (and the oracle).
    feats = cheap.where(
        F.col("exact") | (F.col("same_brand") == 1.0) | (F.col("jac") >= 0.5)
    ).select(
        "*",
        levenshtein_similarity(F.col("name1"), F.col("name2")).alias("lev_sim"),
    )
    scored = feats.select(
        "id1",
        "id2",
        "exact",
        "lev_sim",
        "jac",
        "same_brand",
        _er_rule_score().alias("score"),
    )
    reasons = F.concat_ws(
        ";",
        F.when(F.col("exact"), F.lit("exact_name")),
        F.when(F.col("lev_sim") >= 0.8, F.lit("name_similar")),
        F.when(F.col("jac") >= 0.5, F.lit("tokens_overlap")),
        F.when(F.col("same_brand") == 1.0, F.lit("same_brand")),
    )
    return (
        scored.where(F.col("exact") | (F.col("score") >= 0.65))
        .select(
            "id1",
            "id2",
            F.when(F.col("exact"), F.lit("exact"))
            .when(F.col("score") >= 0.8, F.lit("strong"))
            .otherwise(F.lit("weak"))
            .alias("match_tier"),
            F.round(F.col("score"), 9).alias("match_score"),
            reasons.alias("reasons"),
        )
    )


@register(
    "jaro_winkler_pairs",
    oracle="""
    WITH p AS (
      SELECT p_partkey, p_name, p_size,
             SPLIT_PART(p_name, ' ', 1) AS block_key
      FROM part
    ),
    pairs AS (
      SELECT a.p_partkey AS id1, b.p_partkey AS id2,
             a.p_name AS name1, b.p_name AS name2,
             jaro_similarity(a.p_name, b.p_name) AS jaro,
             CASE WHEN SUBSTRING(a.p_name, 1, 4) = SUBSTRING(b.p_name, 1, 4) THEN 4
                  WHEN SUBSTRING(a.p_name, 1, 3) = SUBSTRING(b.p_name, 1, 3) THEN 3
                  WHEN SUBSTRING(a.p_name, 1, 2) = SUBSTRING(b.p_name, 1, 2) THEN 2
                  WHEN SUBSTRING(a.p_name, 1, 1) = SUBSTRING(b.p_name, 1, 1) THEN 1
                  ELSE 0 END AS prefix
      FROM p a JOIN p b
        ON a.block_key = b.block_key AND a.p_size = b.p_size
           AND a.p_partkey < b.p_partkey
    ),
    jw AS (
      SELECT id1, id2, name1, name2,
             CASE WHEN name1 = '' OR name2 = '' THEN 0.0
                  WHEN name1 = name2 THEN 1.0
                  ELSE jaro + prefix * 0.1 * (1 - jaro) END AS jw
      FROM pairs
    )
    SELECT id1, id2, name1, name2, ROUND(jw, 9) AS jaro_winkler
    FROM jw WHERE jw >= 0.9
    """,
    tags=("ml", "F5", "udf", "pandas-udf"),
)
def jaro_winkler_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 Jaro-Winkler — the one irreducible scalar pandas UDF (SURVEY
    §2.11), Arrow-vectorized. Two intentional conventions live in
    functions/similarity.py: the REFERENCE semantics (float
    transposition halving, unconditional prefix boost — entity_
    resolution.py:199-252; used by the ER paths, pinned by unit and
    property tests) and this query's TEXTBOOK variant (transposition
    pairs floored, matching DuckDB's jaro_similarity bit-for-bit on
    20k+ name pairs) so the UDF machinery itself is oracle-checked:
    the oracle rebuilds the reference's unconditional boost on top of
    DuckDB's jaro core. Neither engine's builtin implements the
    reference's odd-transposition behavior, which is exactly why F5
    is a UDF."""
    pairs = _blocked_part_pairs(spark, sf_dir).select(
        F.col("a.p_partkey").alias("id1"),
        F.col("b.p_partkey").alias("id2"),
        F.col("a.p_name").alias("name1"),
        F.col("b.p_name").alias("name2"),
    )
    # Fenced instance (asNondeterministic): the `jw >= 0.9` filter
    # below references the UDF's output column, and without the fence
    # the optimizer pushes the filter below a duplicated Arrow eval.
    scored = pairs.withColumn(
        "jw", jaro_winkler_textbook_fenced(F.col("name1"), F.col("name2"))
    )
    return scored.where(F.col("jw") >= 0.9).select(
        "id1", "id2", "name1", "name2", F.round("jw", 9).alias("jaro_winkler")
    )


@register(
    "er_threshold_sweep",
    oracle="""
    WITH p AS (
      SELECT p_partkey, p_name, p_brand, p_size,
             SPLIT_PART(p_name, ' ', 1) AS block_key,
             SPLIT_PART(p_name, ' ', 2) AS word2,
             LIST_DISTINCT(STRING_SPLIT(p_name, ' ')) AS toks
      FROM part
    ),
    pairs AS (
      SELECT 1.0 - levenshtein(a.p_name, b.p_name)
                   / CAST(GREATEST(LENGTH(a.p_name), LENGTH(b.p_name)) AS DOUBLE) AS lev_sim,
             CAST(LEN(LIST_INTERSECT(a.toks, b.toks)) AS DOUBLE)
                   / LEN(LIST_DISTINCT(LIST_CONCAT(a.toks, b.toks))) AS jac,
             CASE WHEN a.p_brand = b.p_brand THEN 1.0 ELSE 0.0 END AS same_brand,
             CAST(LEAST(a.p_size, b.p_size) AS DOUBLE) / GREATEST(a.p_size, b.p_size) AS size_ratio,
             CASE WHEN a.word2 = b.word2 THEN 1 ELSE 0 END AS label
      FROM p a JOIN p b
        ON a.block_key = b.block_key AND a.p_size = b.p_size
           AND a.p_partkey < b.p_partkey
    ),
    scored AS (
      SELECT 0.4 * lev_sim + 0.3 * jac + 0.2 * same_brand + 0.1 * size_ratio AS score,
             label
      FROM pairs
    ),
    sweep AS (
      SELECT CAST(t.threshold AS DOUBLE) AS threshold,
             COUNT(CASE WHEN score >= CAST(t.threshold AS DOUBLE) AND label = 1 THEN 1 END) AS tp,
             COUNT(CASE WHEN score >= CAST(t.threshold AS DOUBLE) AND label = 0 THEN 1 END) AS fp,
             COUNT(CASE WHEN score <  CAST(t.threshold AS DOUBLE) AND label = 1 THEN 1 END) AS fn
      FROM scored CROSS JOIN (SELECT UNNEST([0.6, 0.7, 0.8, 0.9]) AS threshold) t
      GROUP BY 1
    )
    SELECT threshold, tp, fp, fn,
           ROUND(tp / GREATEST(tp + fp, 1), 9) AS precision,
           ROUND(tp / GREATEST(tp + fn, 1), 9) AS recall,
           ROUND(2 * (tp / GREATEST(tp + fp, 1)) * (tp / GREATEST(tp + fn, 1))
                 / (CASE WHEN (tp / GREATEST(tp + fp, 1)) + (tp / GREATEST(tp + fn, 1)) = 0
                         THEN 1.0
                         ELSE (tp / GREATEST(tp + fp, 1)) + (tp / GREATEST(tp + fn, 1)) END),
                 9) AS f1
    FROM sweep
    """,
    tags=("ml", "ML12", "evaluation"),
)
def er_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML12 ER evaluation: precision/recall/F1 threshold sweep
    (entity_resolution.py:554-613; evaluate_entity_resolution.py:78-118)
    over the same blocked pair universe as ``er_match_cascade``, with a
    deterministic planted truth label (second name word equal — the
    block key is the first word, so the label is non-degenerate inside
    a block and only correlates loosely with the similarity score,
    giving the sweep a real precision/recall tradeoff).

    Unlike the cascade query there is NO lossless pre-gate here: the
    sweep's fn counts need every labeled pair, including ones no
    Levenshtein value could lift over the lowest threshold. The whole
    sweep is evaluate_matches' single aggregation pass — one blocked
    join feeding 12 conditional counts, stacked to one row per
    threshold; nothing is rescanned per threshold."""
    from ..ml.entity_resolution import evaluate_matches

    word2 = F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("word2")
    pairs = _blocked_part_pairs(
        spark, sf_dir, "p_brand", word2, _name_tokens()
    ).select(
        *_er_rule_features(),
        levenshtein_similarity(F.col("a.p_name"), F.col("b.p_name")).alias("lev_sim"),
        (F.col("a.word2") == F.col("b.word2")).cast("int").alias("is_match_label"),
    )
    scored = pairs.select(
        _er_rule_score().alias("match_score"), "is_match_label"
    )
    ev = evaluate_matches(scored, thresholds=(0.6, 0.7, 0.8, 0.9))
    return ev.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        F.round("precision", 9).alias("precision"),
        F.round("recall", 9).alias("recall"),
        F.round("f1", 9).alias("f1"),
    )


def _normalize_oracle() -> str:
    from ..functions.text import ABBREVIATIONS, LEGAL_SUFFIXES

    abbrev_case = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in ABBREVIATIONS.items()
    )
    suffixes = ", ".join(f"'{s}'" for s in LEGAL_SUFFIXES)
    return f"""
    WITH raw AS (
      SELECT p_partkey,
             p_name || CASE p_partkey % 5
               WHEN 0 THEN ' Inc.'
               WHEN 1 THEN ' Corp'
               WHEN 2 THEN ', LLC'
               WHEN 3 THEN ' Intl Holdings'
               ELSE ' & Sons Tech' END AS raw_name
      FROM part
    ),
    stripped AS (
      SELECT p_partkey, raw_name,
             REGEXP_REPLACE(LOWER(TRIM(raw_name)), '[^\\p{{L}}\\p{{N}}_&\\s]', ' ', 'g') AS s
      FROM raw
    ),
    toks AS (
      SELECT p_partkey, raw_name,
             LIST_FILTER(STRING_SPLIT_REGEX(s, '\\s+'), t -> t <> '') AS t
      FROM stripped
    ),
    expanded AS (
      SELECT p_partkey, raw_name,
             LIST_TRANSFORM(t, x -> CASE x {abbrev_case} ELSE x END) AS t
      FROM toks
    ),
    kept AS (
      SELECT p_partkey, raw_name,
             LIST_FILTER(t, x -> x NOT IN ({suffixes})) AS t
      FROM expanded
    )
    SELECT p_partkey, raw_name,
           ARRAY_TO_STRING(t, ' ') AS normalized,
           ARRAY_TO_STRING(LIST_FILTER(t, x -> LENGTH(x) > 2), ',') AS tokens
    FROM kept
    """


@register(
    "normalize_company_names",
    oracle=_normalize_oracle(),
    tags=("text", "F1", "F2"),
)
def normalize_company_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2 company-name normalization (entity_resolution.py:52-106)
    as one JVM-side expression chain — lowercase, punctuation strip
    (keep '&'), literal-MAP abbreviation expansion, legal-suffix drop,
    whitespace collapse, then >2-char token extraction. Input names
    are p_names deterministically decorated with the suffix/abbrev
    cases the normalizer must handle (SURVEY §7.3 calls F1 parity out
    as one of the genuinely hard bits — this query pins it against
    the oracle)."""
    from ..functions.text import name_tokens, normalize_company_name

    p = load_table(spark, sf_dir, "part")
    raw = F.concat(
        F.col("p_name"),
        F.when(F.col("p_partkey") % 5 == 0, F.lit(" Inc."))
        .when(F.col("p_partkey") % 5 == 1, F.lit(" Corp"))
        .when(F.col("p_partkey") % 5 == 2, F.lit(", LLC"))
        .when(F.col("p_partkey") % 5 == 3, F.lit(" Intl Holdings"))
        .otherwise(F.lit(" & Sons Tech")),
    )
    base = p.select("p_partkey", raw.alias("raw_name"))
    return base.select(
        "p_partkey",
        "raw_name",
        normalize_company_name(F.col("raw_name")).alias("normalized"),
        F.array_join(name_tokens(F.col("raw_name")), ",").alias("tokens"),
    )


@register(
    "score_explanations",
    oracle=f"""
    WITH flagship AS ({_FLAGSHIP_ORACLE}),
    contrib AS (
      SELECT account1_id, account2_id, score,
             ROUND(0.3 * same_segment, 9) AS c_segment,
             ROUND(0.25 * size_ratio, 9) AS c_size,
             ROUND(0.25 * pair_activity, 9) AS c_activity,
             ROUND(0.2 * spend_compat, 9) AS c_spend
      FROM flagship
    )
    SELECT account1_id, account2_id, score,
           c_segment, c_size, c_activity, c_spend,
           CASE
             WHEN c_segment >= c_size AND c_segment >= c_activity AND c_segment >= c_spend THEN 'same_segment'
             WHEN c_size >= c_activity AND c_size >= c_spend THEN 'size_ratio'
             WHEN c_activity >= c_spend THEN 'pair_activity'
             ELSE 'spend_compat'
           END AS top_factor
    FROM contrib
    """,
    tags=("ml", "ML9", "explainability"),
)
def score_explanations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML9 explainability: per-feature score contributions for each
    recommendation (weight × feature term of the rule ensemble) and
    the dominant factor. The reference mocks SHAP (api/main.py:883-890);
    for the linear rule score the exact decomposition IS the Shapley
    attribution, computed as column expressions over the flagship
    output — no model call, no Python. (Tree-model importances live in
    ml/ensemble.EnsembleModel.feature_importances; per-row SHAP for
    tree members would ride mapInPandas with broadcast weights.)

    Every column is computed in ONE projection over the flagship, so
    the CASE repeats the rounded contributions. Spark plans LIMIT over
    one projection over a sort as TakeOrderedAndProject. A second
    projection stacked on the contributions is not collapsed into the
    first (the CASE reads each contribution several times), and the
    flagship's top-100 then runs as a global range-partitioned sort
    under a CollectLimit: two more jobs and a shuffle
    (SCALE.md §Round 20)."""
    recs = cross_sell_recommendations(spark, sf_dir)
    seg, size, act, spend = (
        "ROUND(0.3D * same_segment, 9)",
        "ROUND(0.25D * size_ratio, 9)",
        "ROUND(0.25D * pair_activity, 9)",
        "ROUND(0.2D * spend_compat, 9)",
    )
    return recs.selectExpr(
        "account1_id",
        "account2_id",
        "score",
        f"{seg} AS c_segment",
        f"{size} AS c_size",
        f"{act} AS c_activity",
        f"{spend} AS c_spend",
        f"""CASE WHEN {seg} >= {size} AND {seg} >= {act} AND {seg} >= {spend}
                   THEN 'same_segment'
                 WHEN {size} >= {act} AND {size} >= {spend} THEN 'size_ratio'
                 WHEN {act} >= {spend} THEN 'pair_activity'
                 ELSE 'spend_compat' END AS top_factor""",
    )
