"""Float-determinism helpers for oracle-checked queries.

Summing doubles is order-dependent; Spark's partial aggregation and
DuckDB's single-node aggregation visit rows in different orders, so a
raw ``sum(double)`` can differ in the last ulps — enough to flip a
rounded value and break a hash compare. The fix is to make the
aggregation EXACT: cast each row to a decimal before summing (decimal
addition is associative), then cast the exact decimal result back to
double (the cents/micros fit well inside 2^53, so the final double is
identical in both engines).

This also mirrors the scale guidance in SURVEY §1.2: money at 100 TB
belongs in decimals, not doubles.

Per-row arithmetic (+,-,*,/ on doubles) is IEEE-deterministic and needs
no rounding; only cross-row reductions and transcendentals (different
libm implementations) are protected — transcendentals by rounding to 9
significant-ish decimals, far above the ≤1-ulp libm divergence.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Decimal type strings kept as the SEMANTIC declaration (money with 2
# fractional digits, fine quantities with 6); the accumulation itself
# runs in long integer units — see _units.
MONEY = "decimal(23,2)"
FINE = "decimal(27,6)"


def _frac_digits(scale: str) -> int:
    return int(scale.rstrip(")").rsplit(",", 1)[1])


def _units(scale: str) -> int:
    return 10 ** _frac_digits(scale)


# Exactness argument, long-units form: every input is a decimal with
# ≤ f fractional digits, so x·10^f is integer-valued; the nearest
# double to x is within ~1e-10 of that integer, so ROUND(x·10^f) is
# the EXACT integer in both engines regardless of tie rules. Integer
# addition is associative — partial aggregation order cannot change
# the sum — and the final units→value division produces the identical
# double on both sides. Same guarantee as decimal accumulation, at
# long speed: Spark sums decimals wider than 18 digits on the
# BigDecimal path (measured 6.7× slower than the long path on
# pricing_summary, 1.8s → 0.4s at sf0.1).
# Overflow bound: |Σ x·10^f| must stay under 2^63 ≈ 9.2e18 — with
# f=6 that is ~9.2e12 in value units, crossed near sf≈40 on lineitem
# sums. TWO overflow surfaces are guarded, and both must be:
#   1. ACCUMULATOR overflow — the sum crosses 2^63 over many rows.
#      try_sum returns NULL on long overflow in BOTH ANSI modes
#      (verified: plain sum wraps to garbage under non-ANSI), and the
#      NULL becomes a loud RAISE_ERROR whenever the group was
#      non-empty.
#   2. PER-ROW cast overflow — a single |x·10^f| ≥ 2^63. Under
#      non-ANSI, CAST(double AS BIGINT) SATURATES to ±Long.MaxValue
#      (it does not wrap and does not NULL), so without its own guard
#      a saturated row yields a finite wrong sum that try_sum never
#      sees as overflow. An explicit abs-compare RAISEs before the
#      cast. (try_cast would NULL instead — but sum/try_sum SKIP null
#      inputs, silently dropping the row: strictly worse.)
# So a wrong-answer-by-wrap-or-saturation is impossible, not merely
# documented: any deployment that crosses either bound gets an
# exception naming the fix (widen to decimal / plain double agg, see
# SCALE.md) instead of a silently wrong sum.
# tests/test_parity_guard.py pins both halves: the bound holds at
# test scale, and a synthetic crossing raises under ANSI *and*
# non-ANSI. DuckDB needs no guard — its SUM(BIGINT) widens to
# HUGEINT.
# Measured cost of the guard (sf0.1 lineitem, 8 fixed-point aggs):
# plain sum 0.53s → try_sum 0.67s → guarded 0.73s — the checked add
# is most of it. Deliberately paid in ALL sessions rather than only
# non-ANSI ones: choosing the expression from the session's ANSI conf
# at construction time would silently lose the guarantee if the conf
# changes between plan construction and execution.


_OVERFLOW_MSG = (
    "dsum/davg long-units overflow (|x·10^f| or |sum·10^f| >= 2^63): "
    "widen the aggregation to decimal or plain double — "
    "see plans/_parity.py and SCALE.md"
)


def _guarded_dsum_sql(expr: str, scale: str) -> str:
    """The one guarded fixed-point sum, as a Spark SQL fragment (no
    alias): the nearest-integer units of ``expr`` accumulated as bigint
    with try_sum, cast to double and divided back once. It carries
    loud overflow traps on BOTH surfaces: a per-row abs-compare raises
    before the (non-ANSI: saturating) double→bigint cast can produce a
    finite wrong value, and a NULL from try_sum over a non-empty group
    can then only mean accumulator overflow, so it raises too. try_sum
    is written twice textually, but Spark's aggregation planner
    collapses identical aggregate expressions into one buffer.

    The per-row compare runs on the RAW expression against a
    precomputed threshold 2^63·(1−2^-50)/u — not on the units
    expression, which would evaluate the multiply twice per row
    (measured +0.5s on the 8-agg pricing pass at sf0.1; this form costs
    ~nothing over the accumulator guard alone). The 2^-50 margin makes
    the check CONSERVATIVE: if |x| < thr then the computed double x·u
    is provably < 2^63 (one multiplication rounding of ≤2^-52 relative
    cannot bridge a 2^-50 gap), so silent saturation is impossible;
    values inside the ~8000-ulp sliver below the true bound raise a
    false-positive overflow — the safe direction for a guard.

    Nearest-integer extraction is FLOOR(x·u + 0.5), not ROUND(x·u):
    Spark's ROUND on DoubleType allocates a java.math.BigDecimal per
    row while FLOOR is one Math.floor intrinsic that already RETURNS
    long — measured 1.07s → 0.31s on the 6-sum pricing aggregate at
    sf0.1 (bit-identical output). The two differ only on exact-.5
    ties (HALF_UP rounds -2.5 away from zero to -3, floor(+0.5) gives
    -2), and ties are unreachable here: x·u lands within ~1e-10 of an
    integer n (the dsum contract: ≤ f fractional digits), so
    x·u + 0.5 ∈ [n+0.5−1e-10, n+0.5+1e-10] and floor of that is
    exactly n for positives AND negatives. The oracle keeps ROUND —
    identical integers either way. The multiply runs in doubles for
    every input type: an integer column times an integer literal
    overflows int at |x·u| >= 2^31, silently under non-ANSI, long
    before the bigint accumulator's bound.

    ISNAN is trapped EXPLICITLY: abs(NaN) >= thr is false, and
    (long)Math.floor(NaN) is silently 0. NaN violates the dsum
    contract (fixed-point-valued column), so it must stay loud.

    NOT for oracle strings: DuckDB has no try_sum / raise_error and
    needs no guard (SUM(BIGINT) widens to HUGEINT) — use
    :func:`sql_dsum` there."""
    if not isinstance(expr, str):
        raise TypeError(
            "dsum/davg take the summed expression as Spark SQL text, not a "
            f"{type(expr).__name__}: write it as a string, e.g. "
            "dsum('l_extendedprice * (1 - l_discount)', 'revenue')"
        )
    u = float(_units(scale))
    thr = (2.0**63) * (1.0 - 2.0**-50) / u
    raise_ = f"CAST(RAISE_ERROR('{_OVERFLOW_MSG}') AS BIGINT)"
    row = (
        f"CASE WHEN ABS({expr}) >= {thr!r}D OR ISNAN({expr}) THEN {raise_} "
        f"ELSE FLOOR(({expr}) * {u}D + 0.5D) END"
    )
    return (
        f"CAST(CASE WHEN TRY_SUM({row}) IS NULL AND COUNT({expr}) > 0 "
        f"THEN {raise_} ELSE TRY_SUM({row}) END AS DOUBLE) / {u}D"
    )


def dsum(expr: str, alias: str, scale: str = MONEY) -> Column:
    """Exact sum of a fixed-point-valued double expression (Spark SQL
    text), emitted as double: see :func:`_guarded_dsum_sql`."""
    return F.expr(_guarded_dsum_sql(expr, scale)).alias(alias)


def sql_dsum(expr: str, alias: str, scale: str = MONEY) -> str:
    u = _units(scale)
    return (
        f"CAST(SUM(CAST(ROUND(({expr}) * {u}) AS BIGINT)) AS DOUBLE)"
        f" / {float(u)} AS {alias}"
    )


def spark_sql_dsum(expr: str, alias: str, scale: str = MONEY) -> str:
    """:func:`dsum` as an aliased select-list item, for plans written
    as one spark.sql statement."""
    return f"{_guarded_dsum_sql(expr, scale)} AS {alias}"


def davg(expr: str, alias: str, scale: str = FINE) -> Column:
    """Exact-sum-based average: the guarded sum divided by the count.
    Both engines divide identical doubles by identical longs."""
    return F.expr(f"{_guarded_dsum_sql(expr, scale)} / COUNT({expr})").alias(alias)


def sql_davg(expr: str, alias: str, scale: str = FINE) -> str:
    u = _units(scale)
    return (
        f"CAST(SUM(CAST(ROUND(({expr}) * {u}) AS BIGINT)) AS DOUBLE)"
        f" / {float(u)} / COUNT({expr}) AS {alias}"
    )


def r9(col: Column, alias: str) -> Column:
    """Round a transcendental-derived double to 9 dp (libm divergence
    between the JVM and DuckDB is ≤1 ulp; 9 dp is ~1e6× above it for
    the magnitudes we emit)."""
    return F.round(col, 9).alias(alias)
