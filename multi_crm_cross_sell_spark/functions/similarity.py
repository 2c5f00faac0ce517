"""String/set similarity kernels (SURVEY §2.7 F4-F6, §2.11).

- Levenshtein and token-set Jaccard are native expressions (built-in
  ``levenshtein``; array_intersect/array_union) — JVM-side, codegen.
- Jaro-Winkler has no Spark built-in; it is the engine's one
  irreducible string UDF, implemented as an Arrow-batched pandas UDF
  reproducing the reference algorithm exactly
  (/root/reference/src/ml/entity_resolution.py:199-252: match window
  max(len)/2-1, transposition count, prefix boost 0.1·min(4, prefix)).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


def levenshtein_similarity(a: Column, b: Column) -> Column:
    """1 - lev/max(len) (entity_resolution.py:186-196). The reference's
    emptiness guard fires BEFORE the similarity math: either side empty
    → 0.0 (``if not s1 or not s2``), so two suffix-only names that both
    normalize to "" are NOT a match. NULL inputs coalesce to empty and
    hit the same 0.0 branch — the reference treats missing values as
    falsy strings, and without the coalesce the when-condition itself
    is NULL, which would leak NULL (not 0.0) into downstream feature
    vectors and the rule score."""
    a = F.coalesce(a, F.lit(""))
    b = F.coalesce(b, F.lit(""))
    denom = F.greatest(F.length(a), F.length(b))
    return F.when((F.length(a) == 0) | (F.length(b) == 0), F.lit(0.0)).otherwise(
        F.lit(1.0) - F.levenshtein(a, b) / denom.cast("double")
    )


def jaccard_tokens(a: Column, b: Column) -> Column:
    """|A∩B| / |A∪B| over token arrays (entity_resolution.py:157-164)."""
    aa = F.array_distinct(a)
    bb = F.array_distinct(b)
    union = F.size(F.array_union(aa, bb))
    return F.when(union == 0, F.lit(0.0)).otherwise(
        F.size(F.array_intersect(aa, bb)) / union.cast("double")
    )


def _jaro(s1: str, s2: str, floor_transpositions: bool = False) -> float:
    # Reference order (entity_resolution.py:201-204): emptiness beats
    # equality, so jaro("", "") is 0.0, not 1.0.
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0
    if s1 == s2:
        return 1.0
    match_window = max(len1, len2) // 2 - 1
    if match_window < 0:
        match_window = 0
    m1 = [False] * len1
    m2 = [False] * len2
    matches = 0
    for i, ch in enumerate(s1):
        lo = max(0, i - match_window)
        hi = min(len2, i + match_window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == ch:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(len1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    # The reference (entity_resolution.py:240-241) halves the raw
    # transposition count as a FLOAT: (matches - t/2) / matches. The
    # textbook/DuckDB convention counts transposition PAIRS (floor).
    # They differ whenever the raw count is odd (~4% of random pairs).
    # Reference semantics are the parity target and the default; the
    # floor variant exists so one query can be oracle-checked against
    # DuckDB's jaro_similarity bit-for-bit.
    th = (t // 2) if floor_transpositions else (t / 2)
    return (matches / len1 + matches / len2 + (matches - th) / matches) / 3.0


def _jaro_winkler(
    s1: str,
    s2: str,
    scaling: float = 0.1,
    floor_transpositions: bool = False,
) -> float:
    j = _jaro(s1, s2, floor_transpositions)
    prefix = 0
    for a, b in zip(s1, s2):
        if a != b or prefix == 4:
            break
        prefix += 1
    return j + prefix * scaling * (1.0 - j)


_DUCK_CON = None
_DUCK_PID = None

# SQL computes only the EXACT-INTEGER parts: the jaro core (measured
# bit-identical to the scalar floor `_jaro` on ASCII), the integer
# prefix length (capped 4), and the emptiness/equality flags. The
# Winkler boost floats stay OUT of SQL deliberately: DuckDB parses
# the literal `0.1` as DECIMAL, and `j + prefix * 0.1 * (1 - j)`
# through a DECIMAL intermediate lands 1 ulp off the scalar
# reference's float64 chain on ~0.02% of pairs — so the boost is
# applied in numpy below with the reference's exact operation order.
# ``rid`` rides through the SQL and the results are SCATTERED back by
# it (round-15 ADVICE fix): correctness no longer rests on DuckDB's
# preserve_insertion_order default — any result order realigns.
_JW_FLOOR_SQL = """
SELECT rid,
       jaro_similarity(a, b) AS j,
       CASE WHEN SUBSTRING(a, 1, 4) = SUBSTRING(b, 1, 4) THEN 4
            WHEN SUBSTRING(a, 1, 3) = SUBSTRING(b, 1, 3) THEN 3
            WHEN SUBSTRING(a, 1, 2) = SUBSTRING(b, 1, 2) THEN 2
            WHEN SUBSTRING(a, 1, 1) = SUBSTRING(b, 1, 1) THEN 1
            ELSE 0 END AS prefix,
       (a = '' OR b = '') AS is_empty,
       (a = b) AS is_eq
FROM batch_df
"""


def _duck_con():
    """One DuckDB connection per Python worker PROCESS (guide §4.5:
    heavyweight init once, amortized across batches; worker reuse
    keeps it across tasks). threads=1 — Spark already runs one task
    per core, a parallel DuckDB inside each would oversubscribe.
    The PID guard re-initializes after a fork. Returns None when
    duckdb is not importable on the executor (round-15 ADVICE fix):
    the batch kernel then falls back to the per-row scalar reference,
    which is bit-identical by construction — an executor without
    duckdb degrades to round-13 speed instead of raising."""
    global _DUCK_CON, _DUCK_PID
    import os

    if _DUCK_CON is None or _DUCK_PID != os.getpid():
        try:
            import duckdb
        except ImportError:
            _DUCK_CON = None
            _DUCK_PID = os.getpid()
            return None
        _DUCK_CON = duckdb.connect()
        _DUCK_CON.execute("SET threads TO 1")
        _DUCK_PID = os.getpid()
    return _DUCK_CON


def _jw_floor_batch(a_arr, b_arr):
    """Floor-convention Jaro-Winkler over a batch of non-null string
    pairs. ASCII rows run through DuckDB's vectorized C jaro core —
    measured bit-identical to the scalar `_jaro_winkler(...,
    floor_transpositions=True)` on ASCII (the floor convention was
    DESIGNED to match it; re-fuzzed round 14: 25k ASCII cases, zero
    mismatches; ~3.2M pairs/s/core vs the Python loop's ~25k/s) —
    with the boost computed by the same SQL the DuckDB oracle runs.
    DuckDB's jaro walks BYTES, not codepoints, so non-ASCII rows take
    the scalar reference per ROW (never per batch — one non-ASCII row
    must not change its neighbors' path; same per-row-fallback rule
    as bucket_wide_arrow). Executors without duckdb take the scalar
    path for every row (bit-identical, slower — see _duck_con)."""
    import numpy as np

    n = len(a_arr)
    out = np.empty(n, dtype=np.float64)
    con = _duck_con()
    sel = (
        np.flatnonzero(
            np.fromiter(
                (x.isascii() and y.isascii() for x, y in zip(a_arr, b_arr)),
                dtype=bool,
                count=n,
            )
        )
        if con is not None
        else np.empty(0, dtype=np.int64)
    )
    scalar_rows = np.setdiff1d(np.arange(n), sel, assume_unique=True)
    if sel.size:
        batch_df = pd.DataFrame(
            {"rid": sel, "a": a_arr[sel], "b": b_arr[sel]}
        )
        con.register("batch_df", batch_df)
        try:
            res = con.execute(_JW_FLOOR_SQL).fetchnumpy()
        finally:
            con.unregister("batch_df")
        j = res["j"]
        p = res["prefix"].astype(np.float64)
        # Reference float order: j + ((prefix * scaling) * (1.0 - j))
        # — left-to-right, float64 throughout, bit-identical to
        # `_jaro_winkler`'s return expression. Guards mirror _jaro's
        # early returns: emptiness beats equality beats the boost.
        jw = j + (p * 0.1) * (1.0 - j)
        jw = np.where(res["is_empty"], 0.0, np.where(res["is_eq"], 1.0, jw))
        # Scatter by the row id the SQL carried through — no
        # dependence on DuckDB scan/result ordering.
        out[res["rid"]] = jw
    for i in scalar_rows:
        out[i] = _jaro_winkler(a_arr[i], b_arr[i], floor_transpositions=True)
    return out


@pandas_udf(DoubleType())
def jaro_winkler_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    """Arrow-batched Jaro-Winkler, REFERENCE semantics (float
    transposition halving); null-safe. Stays a per-row Python loop:
    the reference's odd-transposition value is not recoverable from
    any engine builtin (that is the whole reason F5 is a UDF), and
    the round-14 vectorized-numpy rewrite measured SLOWER (0.8x) than
    this loop — the dense [batch, len1, len2] masks cost more than
    the scalar's early-exit sparse walk (OPTIMIZATION_r14.md)."""
    out = []
    for a, b in zip(s1, s2):
        if a is None or b is None:
            out.append(None)
        else:
            out.append(_jaro_winkler(a, b))
    return pd.Series(out, dtype="float64")


@pandas_udf(DoubleType())
def jaro_winkler_floor_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    """Textbook/DuckDB transposition-pair convention (floor);
    null-safe. Round 14: batches run through `_jw_floor_batch`
    (DuckDB C core for ASCII rows, scalar reference per non-ASCII
    row) instead of a per-row Python loop — guide §4.2, outputs
    bit-identical."""
    import numpy as np

    a = s1.to_numpy(dtype=object)
    b = s2.to_numpy(dtype=object)
    valid = np.fromiter(
        (x is not None and y is not None for x, y in zip(a, b)),
        dtype=bool,
        count=len(a),
    )
    out = np.full(len(a), np.nan, dtype=np.float64)
    if valid.any():
        out[valid] = _jw_floor_batch(a[valid], b[valid])
    return pd.Series(out, dtype="float64")


def jaro_winkler(a: Column, b: Column) -> Column:
    return jaro_winkler_udf(a, b)


# The floor UDF is pure; this non-deterministic instance is an
# optimizer fence, so a filter on its output cannot be pushed below a
# second copy of the Arrow eval.
_jaro_winkler_floor_nd = jaro_winkler_floor_udf.asNondeterministic()


def jaro_winkler_textbook_fenced(a: Column, b: Column) -> Column:
    """Optimizer-fenced instance (asNondeterministic) for call sites
    whose own FILTER references the UDF's output column — guide §4.4:
    without the fence the pushed filter duplicates the Arrow eval.
    Not valid inside join conditions or grouping expressions."""
    return _jaro_winkler_floor_nd(a, b)
