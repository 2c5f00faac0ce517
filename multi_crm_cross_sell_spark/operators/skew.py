"""Skew-mitigation join utilities (SURVEY §4 scale guardrails).

AQE's skew-join splitting (enabled in session.tune) handles most skew
at runtime by splitting oversized shuffle partitions. Salting is the
complementary STATIC strategy for the case AQE cannot fix: a single
hot key whose rows must all meet the same build-side row (e.g. every
event of one whale user joining that user's dimension row). Replicate
the build side R ways, scatter the probe side uniformly over the R
replicas, and the hot key's work spreads across R tasks.

Equivalent results to a plain equi-join (inner/left), verified by
tests/test_skew.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def salt_probe(df: DataFrame, replication: int = 16) -> DataFrame:
    """Scatter the (large, skewed) probe side: uniform salt in
    [0, replication). Deterministic per row via a hash of all columns
    rather than rand() so retried tasks salt identically."""
    h = F.abs(F.xxhash64(*[F.col(c) for c in df.columns]))
    return df.withColumn(SALT_COL, (h % replication).cast("int"))


def explode_build(df: DataFrame, replication: int = 16) -> DataFrame:
    """Replicate the (small, per-key) build side once per salt value."""
    return df.withColumn(
        SALT_COL,
        F.explode(F.array(*[F.lit(i) for i in range(replication)])),
    )


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    on: list[str],
    how: str = "inner",
    replication: int = 16,
) -> DataFrame:
    """Equi-join with salted keys: shuffle distributes each hot key
    over ``replication`` partitions instead of one. The build side
    grows R×, so use only when build is small relative to the skew
    (the same regime where the reference's per-key work would pile
    onto one executor)."""
    p = salt_probe(probe, replication)
    b = explode_build(build, replication)
    joined = p.join(b, on=[*on, SALT_COL], how=how)
    return joined.drop(SALT_COL)
