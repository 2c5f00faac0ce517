"""Ranking evaluation harness (SURVEY §2.10 ML13, §2.5 W9/W10).

Reference: scripts/evaluate.py — DCG/NDCG@k (73-87), precision/recall@k
(89-98), coverage (251), baselines Random/Popularity/Similarity
(265-292). All metrics here are window/agg expressions over a scored
pair DataFrame: rank with row_number, positional log2 discount, prefix
aggregation — no collect, so the same evaluator runs on a billion
pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def ranking_metrics(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    ks: tuple[int, ...] = (5, 10, 20),
    group_cols: tuple[str, ...] = (),
    tiebreak_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Precision@k, Recall@k, NDCG@k for each k, one output row per k.

    NDCG per reference (evaluate.py:81-87): DCG = Σ rel/log2(pos+1)
    over the top-k prefix; IDCG = same discount over the ideal
    (label-sorted) prefix.
    """
    order = [F.desc(score_col), *[F.asc(c) for c in tiebreak_cols]]
    ideal_order = [F.desc(label_col), *[F.asc(c) for c in tiebreak_cols]]
    part = list(group_cols) if group_cols else []
    w = Window.partitionBy(*part).orderBy(*order) if part else Window.orderBy(*order)
    wi = (
        Window.partitionBy(*part).orderBy(*ideal_order)
        if part
        else Window.orderBy(*ideal_order)
    )
    ranked = scored.select(
        F.col(label_col).cast("double").alias("rel"),
        F.row_number().over(w).alias("pos"),
        F.row_number().over(wi).alias("ideal_pos"),
    )
    # ONE aggregation pass for every k: each prefix metric is a
    # conditional sum in one aggregate, reshaped to a row per k with
    # stack, so the window pipeline runs once whatever the number of
    # ks (an aggregate per k unioned together re-runs it once per k).
    aggs = []
    for k in ks:
        aggs += [
            (F.sum(F.when(F.col("pos") <= k, F.col("rel"))) / k).alias(
                f"_p{k}"
            ),
            (
                F.sum(F.when(F.col("pos") <= k, F.col("rel")))
                / F.greatest(F.sum("rel"), F.lit(1.0))
            ).alias(f"_r{k}"),
            (
                F.sum(
                    F.when(
                        F.col("pos") <= k,
                        F.col("rel") / F.log2(F.col("pos") + 1),
                    )
                )
                / F.greatest(
                    F.sum(
                        F.when(
                            F.col("ideal_pos") <= k,
                            F.col("rel") / F.log2(F.col("ideal_pos") + 1),
                        )
                    ),
                    F.lit(1e-12),
                )
            ).alias(f"_n{k}"),
        ]
    items = ", ".join(f"{k}, _p{k}, _r{k}, _n{k}" for k in ks)
    return ranked.agg(*aggs).selectExpr(
        f"stack({len(ks)}, {items})"
        " AS (k, precision_at_k, recall_at_k, ndcg_at_k)"
    )


def coverage(scored: DataFrame, score_col: str = "score", threshold: float = 0.5) -> DataFrame:
    """Share of candidates scored above threshold (evaluate.py:251).
    At 100 TB account-level coverage would use approx_count_distinct."""
    return scored.agg(
        (
            F.count(F.when(F.col(score_col) > threshold, 1)) / F.count("*")
        ).alias("coverage")
    )


def add_baseline_scores(
    pairs: DataFrame, feature_cols: list[str], seed: int = 42
) -> DataFrame:
    """The reference's three baselines (evaluate.py:265-292) as columns:
    random uniform (seeded), popularity = sigmoid of first feature,
    similarity = min-max-normalized feature mean."""
    first = F.col(feature_cols[0]).cast("double")
    mean_feat = sum((F.col(c).cast("double") for c in feature_cols[1:]), first) / len(
        feature_cols
    )
    stats = pairs.agg(
        F.min(mean_feat).alias("mn"), F.max(mean_feat).alias("mx")
    ).collect()[0]
    mn, mx = stats["mn"], stats["mx"]
    rng = (mx - mn) if mx is not None and mn is not None and mx > mn else 1.0
    return (
        pairs.withColumn("score_random", F.rand(seed))
        .withColumn("score_popularity", F.lit(1.0) / (F.lit(1.0) + F.exp(-first)))
        .withColumn("score_similarity", (mean_feat - F.lit(mn)) / F.lit(rng))
    )
