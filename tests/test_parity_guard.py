"""Overflow guard for the long-units parity path (plans/_parity.py).

dsum/davg accumulate FLOOR(x * 10^f + 0.5) as BIGINT via TRY_SUM plus
an explicit raise: try_sum returns NULL on long overflow in BOTH ANSI
modes, and the guarded fragment (_guarded_dsum_sql) converts that NULL
(on a non-empty group) into RAISE_ERROR — so a wrong-answer-by-wrap is
impossible regardless of the deployment's spark.sql.ansi.enabled setting. The
bound (|sum·10^f| < 2^63, crossed near sf ≈ 40 on lineitem sums with
f=6) is documented in _parity.py; these tests pin:

1. the bound genuinely holds at test scale (ANSI and non-ANSI runs
   agree value-for-value — no wrap anywhere), and
2. a synthetic crossing RAISES loudly in both ANSI modes instead of
   returning a wrapped sum or a silent NULL.
"""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from multi_crm_cross_sell_spark.plans import all_queries
from multi_crm_cross_sell_spark.plans._parity import davg, dsum, spark_sql_dsum

SF = "/root/testdata/sf0.01"

# The queries whose oracle-checked sums ride the long-units path.
DSUM_QUERIES = ["pricing_summary", "join_revenue_by_nation"]


@contextlib.contextmanager
def _with_ansi(spark, value: str):
    """Set ansi.enabled, restoring the PRIOR value (Spark 4 defaults
    it to true — a hardcoded restore would flip the whole suite)."""
    prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", value)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)


@pytest.mark.parametrize("name", DSUM_QUERIES)
def test_long_units_sums_hold_under_both_ansi_modes(spark, name):
    q = all_queries()[name]
    with _with_ansi(spark, "false"):
        plain = q.fn(spark, SF).collect()
    with _with_ansi(spark, "true"):
        ansi = q.fn(spark, SF).collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, ansi)), (
        f"{name}: ANSI and non-ANSI disagree — a long-units "
        "accumulator wrapped at test scale"
    )


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_synthetic_overflow_raises_loudly(spark, ansi):
    """A sum that crosses 2^63 in unit space must raise the
    _parity.py overflow error — never wrap (non-ANSI plain-sum
    behavior) and never return NULL silently."""
    # 3 rows of 4e16 with f=2 → units 4e18 each, sum 1.2e19 > 2^63.
    df = spark.range(3).select(F.lit(4.0e16).alias("x"))
    with _with_ansi(spark, ansi):
        with pytest.raises(Exception, match="long-units overflow"):
            df.agg(dsum("x", "s")).collect()


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_guard_passes_below_bound_and_on_empty_groups(spark, ansi):
    """The guard must not fire on legitimate data: values below the
    bound sum exactly, and an all-NULL / empty group yields NULL (the
    SQL sum convention) rather than a spurious raise."""
    with _with_ansi(spark, ansi):
        df = spark.range(4).select((F.col("id") * 1.25).alias("x"))
        [row] = df.agg(dsum("x", "s")).collect()
        assert row.s == pytest.approx(7.5)
        empty = df.where(F.lit(False))
        [row] = empty.agg(dsum("x", "s")).collect()
        assert row.s is None


def test_textrank_integer_fixpoint_holds_under_ansi(spark):
    """textrank_keywords' r*cnt products must not overflow at test
    scale, and the failure mode at production scale must be loud:
    under ANSI the identical plan throws on bigint overflow instead
    of wrapping (see the query docstring's bound)."""
    q = all_queries()["textrank_keywords"]
    with _with_ansi(spark, "false"):
        plain = q.fn(spark, SF).collect()
    with _with_ansi(spark, "true"):
        ansi = q.fn(spark, SF).collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, ansi))


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_single_row_cast_saturation_raises_loudly(spark, ansi):
    """ADVICE round-7: per-ROW overflow is a separate surface from
    accumulator overflow — under non-ANSI, CAST(double AS BIGINT)
    SATURATES (no wrap, no NULL), so one |x·10^f| >= 2^63 row used to
    produce a finite wrong sum that try_sum never flagged. The
    per-row abs-compare guard must raise instead, in both modes."""
    # ONE row of 1e17 with f=2 → units 1e19 >= 2^63: saturation zone.
    df = spark.range(1).select(F.lit(1.0e17).alias("x"))
    with _with_ansi(spark, ansi):
        with pytest.raises(Exception, match="long-units overflow"):
            df.agg(dsum("x", "s")).collect()


def _guarded_sums(spark, df):
    """dsum and davg as Column aggregates, and dsum again through a
    spark.sql statement (the flagship's form)."""
    return [
        lambda: df.agg(dsum("x", "s")).collect(),
        lambda: df.agg(davg("x", "s")).collect(),
        lambda: spark.sql(
            f"SELECT {spark_sql_dsum('x', 's')} FROM {{df}}", df=df
        ).collect(),
    ]


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_guarded_sums_match_decimal_reference_and_raise(spark, ansi):
    """Pin the guard contract on every entry point against an
    independent exact reference, Spark's own decimal sum: (1) below the
    bound dsum and davg equal CAST(SUM(CAST(x AS DECIMAL(38,f))) AS
    DOUBLE) bit-for-bit, (2) a synthetic accumulator crossing raises
    in both ANSI modes, (3) NaN raises instead of flooring to 0."""
    with _with_ansi(spark, ansi):
        df = spark.range(-7, 40).select((F.col("id") * 1.37 + 0.01).alias("x"))
        [got] = df.agg(dsum("x", "dsum"), davg("x", "davg")).collect()
        [ref] = df.selectExpr(
            "CAST(SUM(CAST(x AS DECIMAL(38,2))) AS DOUBLE) AS dsum",
            "CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / COUNT(x) AS davg",
        ).collect()
        assert (got.dsum, got.davg) == (ref.dsum, ref.davg)
        [via_sql] = spark.sql(
            f"SELECT {spark_sql_dsum('x', 's')} FROM {{df}}", df=df
        ).collect()
        assert via_sql.s == ref.dsum
        # 3 rows of 4e16 at f=2 (and of 4e12 at f=6): each row passes
        # the per-row compare, the unit sum 1.2e19 crosses 2^63. davg
        # (f=6) over the 4e16 rows raises at the per-row compare.
        over = spark.range(3).select(F.lit(4.0e16).alias("x"))
        over_fine = spark.range(3).select(F.lit(4.0e12).alias("x"))
        nan = spark.range(2).select(
            F.when(F.col("id") == 0, float("nan")).otherwise(1.5).alias("x")
        )
        for bad in (over, nan):
            for run in _guarded_sums(spark, bad):
                with pytest.raises(Exception, match="long-units overflow"):
                    run()
        with pytest.raises(Exception, match="long-units overflow"):
            over_fine.agg(davg("x", "s")).collect()


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_integer_column_units_do_not_wrap(spark, ansi):
    """The units multiply runs in doubles for every input type: an
    integer column times an integer literal would overflow int at
    |x·10^f| >= 2^31 (wrapping silently under non-ANSI) long before
    the bigint accumulator's 2^63 bound."""
    df = spark.range(2).select(F.lit(30_000_000).cast("int").alias("x"))
    with _with_ansi(spark, ansi):
        [row] = df.agg(dsum("x", "s")).collect()
    assert row.s == 60_000_000.0


def test_column_argument_names_the_fix():
    """dsum/davg take SQL text. A Column would print in prefix form
    (``*(l_extendedprice, -(1, l_discount))``) and fail later as a
    parse error, so it is refused up front with the fix named."""
    for fn in (dsum, davg):
        with pytest.raises(TypeError, match="as Spark SQL text"):
            fn(F.col("l_extendedprice") * (1 - F.col("l_discount")), "s")


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_nan_input_raises_loudly(spark, ansi):
    """NaN violates the dsum contract (fixed-point-valued column) and
    must stay LOUD: abs(NaN) >= thr is false, and the floor-based
    units extraction would otherwise turn NaN into a silent 0 where
    the old ROUND path threw from BigDecimal.valueOf(NaN)."""
    df = spark.range(2).select(
        F.when(F.col("id") == 0, float("nan")).otherwise(1.5).alias("x")
    )
    with _with_ansi(spark, ansi):
        with pytest.raises(Exception, match="long-units overflow"):
            df.agg(dsum("x", "s")).collect()
