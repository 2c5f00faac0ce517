"""Feature-engineering column expressions (SURVEY §2.7 F7, F9, F11)
and the ensemble vote (A12, A13).

The reference computes these per-row in pandas inside
``create_account_features`` (reference ``src/ml/pipeline.py:65-106``);
here each is a native column expression that stays inside whole-stage
codegen — no Python in the hot path, so they cost the same at 100 TB as
any other projection. The pair features, score ladders and actions
(F11-F19) are part of ``cross_sell_recommendations``' SQL
(plans/crm.py).

Null-sentinel semantics are load-bearing for score parity with the
reference (fillna(0)/replace(0,1)/fillna(365): pipeline.py:70-86) and
are reproduced exactly via coalesce/when.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def log1p_guarded(col: Column) -> Column:
    """log1p of a non-negative-clamped value.

    Reference: ``np.log1p(df["AnnualRevenue"].fillna(0))``
    (pipeline.py:70). Clamping also guards TPC-H-style negative
    balances, where log1p would return NaN.
    """
    return F.log1p(F.greatest(F.coalesce(col, F.lit(0.0)), F.lit(0.0)))


def is_enterprise(col: Column, threshold: float = 1000.0) -> Column:
    """(value > threshold) → int flag (pipeline.py:77)."""
    return (F.coalesce(col, F.lit(0.0)) > threshold).cast("int")


def recency_score(days: Column) -> Column:
    """1/(1+days/30), days nulls → 365 (pipeline.py:86-89)."""
    d = F.coalesce(days.cast("double"), F.lit(365.0))
    return F.lit(1.0) / (F.lit(1.0) + d / F.lit(30.0))


def ensemble_score(
    nn: Column, xgb: Column, rf: Column, gb: Column,
    weights: tuple[float, float, float, float] = (0.3, 0.3, 0.2, 0.2),
) -> Column:
    """Weighted ensemble vote (pipeline.py:285-289; weights 48-54)."""
    w = weights
    return nn * w[0] + xgb * w[1] + rf * w[2] + gb * w[3]


def score_confidence(nn: Column, xgb: Column, rf: Column, gb: Column) -> Column:
    """Per-row stddev across the 4 model scores (pipeline.py:375-389,
    np.std = population stddev), as closed-form arithmetic — stays in
    codegen, no array/UDF detour."""
    mean = (nn + xgb + rf + gb) / 4.0
    var = (
        (nn - mean) * (nn - mean)
        + (xgb - mean) * (xgb - mean)
        + (rf - mean) * (rf - mean)
        + (gb - mean) * (gb - mean)
    ) / 4.0
    return F.sqrt(var)
