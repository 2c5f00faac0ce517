"""Oracle-checked ML evaluation queries (SURVEY §2.5 W9/W10, §2.10
ML13/ML14): ranking metrics (precision/recall/NDCG@k) for several
scorers against a conversion label, and the feedback→training-data
as-of label join.

Float parity: positional-discount sums are rounded per-row to 9 dp and
decimal-accumulated (different engines would otherwise sum doubles in
different orders); see plans/_parity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.bronze import load_table
from .registry import register

_KS = (5, 10, 20)

# scorer name -> SQL ORDER BY key over the labels CTE
_SCORERS_SQL = {
    "balance": "c_acctbal DESC, c_custkey",
    "spend": "total_spend DESC, c_custkey",
    "recency": "days_since_order ASC, c_custkey",
}

_LABELS_SQL = """
  labels AS (
    SELECT c.c_custkey,
           c.c_acctbal,
           COALESCE(a.total_spend, 0.0) AS total_spend,
           COALESCE(CAST(DATEDIFF('day', a.last_order_day, DATE '2001-09-01') AS INTEGER), 365)
             AS days_since_order,
           COALESCE(l.rel, 0) AS rel
    FROM customer c
    LEFT JOIN (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(23,2))) AS DOUBLE) AS total_spend,
             MAX(CAST(o_orderdate AS DATE)) AS last_order_day
      FROM orders GROUP BY o_custkey
    ) a ON c.c_custkey = a.o_custkey
    LEFT JOIN (
      SELECT o_custkey, MAX(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS rel
      FROM orders GROUP BY o_custkey
    ) l ON c.c_custkey = l.o_custkey
  )
"""


def _metrics_sql(scorer: str, order_by: str) -> str:
    per_k = []
    for k in _KS:
        per_k.append(
            f"""
    SELECT '{scorer}' AS scorer, {k} AS k,
      CAST(SUM(CASE WHEN pos <= {k} THEN rel END) AS DOUBLE) / {k} AS precision_at_k,
      CAST(SUM(CASE WHEN pos <= {k} THEN rel END) AS DOUBLE)
        / GREATEST(SUM(rel), 1) AS recall_at_k,
      ROUND(
        CAST(SUM(CASE WHEN pos <= {k}
                 THEN CAST(ROUND(rel / LOG2(pos + 1), 9) AS DECIMAL(27,12)) END) AS DOUBLE)
        / CAST(SUM(CASE WHEN ideal_pos <= {k}
                 THEN CAST(ROUND(rel / LOG2(ideal_pos + 1), 9) AS DECIMAL(27,12)) END) AS DOUBLE),
        9) AS ndcg_at_k
    FROM ranked_{scorer}"""
        )
    ranked = f"""
  ranked_{scorer} AS (
    SELECT rel,
           ROW_NUMBER() OVER (ORDER BY {order_by}) AS pos,
           ROW_NUMBER() OVER (ORDER BY rel DESC, c_custkey) AS ideal_pos
    FROM labels
  )"""
    return ranked, " UNION ALL ".join(per_k)


def _ranking_oracle() -> str:
    ranked_ctes = []
    selects = []
    for scorer, order_by in _SCORERS_SQL.items():
        cte, sel = _metrics_sql(scorer, order_by)
        ranked_ctes.append(cte)
        selects.append(sel)
    return "WITH " + _LABELS_SQL + "," + ",".join(ranked_ctes) + " " + " UNION ALL ".join(selects)


def _ranking_metrics_sql() -> str:
    """The engine's ranking-metric statement, generated from
    ``_SCORERS_SQL`` and ``_KS``. D-suffixed literals keep the
    arithmetic in doubles (a bare ``0.0`` is a decimal in Spark SQL)."""
    positions = ",\n".join(
        f"ROW_NUMBER() OVER (ORDER BY {order_by}) AS pos_{s}"
        for s, order_by in _SCORERS_SQL.items()
    )

    def disc(pos: str) -> str:
        return f"CAST(ROUND(rel / LOG2({pos} + 1), 9) AS DECIMAL(27,12))"

    aggs = []
    items = []
    for s in _SCORERS_SQL:
        for k in _KS:
            hits = f"CAST(SUM(CASE WHEN pos_{s} <= {k} THEN rel END) AS DOUBLE)"
            aggs += [
                f"{hits} / {k} AS _p_{s}_{k}",
                f"{hits} / GREATEST(SUM(rel), 1) AS _r_{s}_{k}",
                f"ROUND(CAST(SUM(CASE WHEN pos_{s} <= {k} THEN {disc(f'pos_{s}')} END)"
                f" AS DOUBLE) / CAST(SUM(CASE WHEN ideal_pos <= {k}"
                f" THEN {disc('ideal_pos')} END) AS DOUBLE), 9) AS _n_{s}_{k}",
            ]
            items.append(f"'{s}', {k}, _p_{s}_{k}, _r_{s}_{k}, _n_{s}_{k}")
    aggs_sql = ",\n".join(aggs)
    return f"""
    WITH act AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(23,2))) AS DOUBLE) AS total_spend,
             MAX(CAST(o_orderdate AS DATE)) AS last_order_day,
             MAX(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS rel
      FROM {{o}} GROUP BY o_custkey
    ),
    labels AS (
      SELECT c.c_custkey,
             c.c_acctbal,
             COALESCE(a.total_spend, 0.0D) AS total_spend,
             COALESCE(DATEDIFF(DATE'2001-09-01', a.last_order_day), 365)
               AS days_since_order,
             COALESCE(a.rel, 0) AS rel
      FROM {{c}} c LEFT JOIN act a ON c.c_custkey = a.o_custkey
    ),
    ranked AS (
      SELECT rel,
             {positions},
             ROW_NUMBER() OVER (ORDER BY rel DESC, c_custkey) AS ideal_pos
      FROM labels
    ),
    metrics AS (
      SELECT {aggs_sql}
      FROM ranked
    )
    SELECT stack({len(items)}, {", ".join(items)})
           AS (scorer, k, precision_at_k, recall_at_k, ndcg_at_k)
    FROM metrics
    """


@register("ranking_eval_metrics", oracle=_ranking_oracle(), tags=("ml", "W9", "W10", "ML13"))
def ranking_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/NDCG@{5,10,20} for three scorers (balance /
    spend / recency) against the fulfilled-order label — the
    evaluate.py metric table (README.md:82-96 shape) computed with
    window expressions, no collect.

    ONE pass for all scorers AND all ks: one ``GROUP BY o_custkey``
    yields spend, recency and the label together (one shuffle of
    ``orders``); every scorer's position is a window over the SAME
    labels frame; every (scorer, k) metric is a conditional sum in ONE
    aggregate; and stack() reshapes the 1×27 row to the 9 output rows.
    An aggregate per (scorer, k) unioned together re-runs the labels
    pipeline 9 times. The plan is written as one parameterized
    spark.sql statement: the same plan as a Column tree costs about
    4,300 py4j calls to construct (SCALE.md §Round 20)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return spark.sql(_ranking_metrics_sql(), c=c, o=o)


@register(
    "feedback_asof_labels",
    oracle="""
    WITH views AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
    ),
    purch AS (
      SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT v.event_id AS view_event_id,
           v.user_id,
           v.ts AS view_ts,
           CAST(MAX(CASE WHEN p.ts IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER) AS converted,
           COUNT(p.ts) AS n_conversions,
           MIN((epoch_us(p.ts) - epoch_us(v.ts)) / 1000000.0) AS min_delay_sec
    FROM views v
    LEFT JOIN purch p
      ON p.user_id = v.user_id
      AND p.ts > v.ts
      AND p.ts <= v.ts + INTERVAL 24 HOUR
    GROUP BY v.event_id, v.user_id, v.ts
    """,
    tags=("ml", "ML14", "join", "interval"),
)
def feedback_asof_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feedback → training-label generation (feedback_logging.py:
    403-456): each 'view' (prediction analogue) is labeled positive if
    the same user 'purchases' within 24 h — an interval/as-of join the
    reference lacks entirely (SURVEY §2.3 'not present'). Equi-join on
    user_id carries the range predicate, so it shuffles once on the
    user key."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_event_id"),
        F.col("user_id"),
        F.col("ts").alias("view_ts"),
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    joined = views.join(
        purch,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("p_ts") > F.col("view_ts"))
        & (F.col("p_ts") <= F.col("view_ts") + F.expr("INTERVAL 24 HOURS")),
        "left",
    )
    delay = (
        F.unix_micros(F.col("p_ts").cast("timestamp"))
        - F.unix_micros(F.col("view_ts").cast("timestamp"))
    ) / 1_000_000.0
    return joined.groupBy("view_event_id", "user_id", "view_ts").agg(
        F.max(F.when(F.col("p_ts").isNotNull(), 1).otherwise(0)).alias("converted"),
        F.count("p_ts").alias("n_conversions"),
        F.min(delay).alias("min_delay_sec"),
    )
