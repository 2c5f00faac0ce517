"""Approximate nearest neighbor search over embedding columns.

Two paths (BASELINE.json north star):
- brute-force cosine top-k (plans/datapipe.cosine_topk_bruteforce) —
  the exactness baseline, O(Q·N) dot products;
- random-hyperplane LSH (this module) — the 100 TB path: each vector
  gets a K-bit bucket signature (sign of dot with K fixed hyperplanes);
  candidate pairs share a bucket, so the search cost is O(Q·bucket)
  instead of O(Q·N), and the bucket join is a plain shuffle equi-join.

The hyperplanes are deterministic md5-seeded literals (generated once
in Python, embedded in both the Spark plan and the SQL oracle), and
every dot product is a POSITIONAL plain-double sum (v[0]*w[0] + ... +
v[63]*w[63], one generated SQL string per dot): both engines execute
the identical IEEE-754 operations in the identical left-to-right
order, so the results are bit-identical across engines and cluster
layouts — the same guarantee the earlier decimal(38,18) fold bought,
WITHOUT its costs. The decimal fold was (a) a lambda-HOF pipeline,
which Spark interprets row-at-a-time outside codegen, and (b)
38-digit BigDecimal arithmetic per element; measured at the 100x
decade it put ann_ivf_topk at ~100s and embedding_near_dup at ~522s,
almost entirely dot-product time. The positional double form is
whole-stage-codegen scalar math. (Neither JVM doubles nor DuckDB's
C++ build reassociate floating-point — order is the expression
order, so cross-engine bit-equality holds; the driver's hash compare
enforces it every round.)

THE 8 KB JIT CLIFF (round 7, measured): Spark-side dots must NOT be
evaluated over two ARRAY columns at production dims. Each a[i]*b[i]
term over array columns generates ~100+ bytes of bytecode (null +
bounds checks per element access); a 64-dim two-array dot plus the
fused stage scaffolding crosses HotSpot's DontCompileHugeMethods
limit (8000 bytecode bytes per method) — the generated method is
NEVER JIT-compiled at any tier and the whole fused stage runs in the
bytecode interpreter. Whole-stage codegen compiles fine (no Janino
error, nothing in the logs); the only symptom is throughput. Measured
on the 89M-row IVF assignment stream at the 100x decade: 32-term dot
2.9s → 48-term dot 378s (~130x, the cliff between 32 and 48 terms);
the full IVF query 316s as arrays vs ~17s (fresh JVM, noop-write
sink — COUNT-based probes are worthless here, count() prunes the
dot columns and measures nothing) in the SCALAR-COLUMN layout this
module now uses: vectors travel as dim
individual double columns (v_0..v_63) unpacked once at the scan, so
each dot term is two local double loads + multiply + add (~10 bytes
of bytecode) and a 64-term dot is ~600 bytes — three of them fit in
one fused stage with room to spare. Same IEEE ops in the same order,
bit-identical results (equality of the aggregate sum verified at the
cliff probe; the driver's value-hash compare re-proves it per round).
At 10x the interpreted form cost ~3s and passed unnoticed — only the
100x decade exposed it; fixed-cost-per-row defects scale linearly
and hide at small n.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_PLANES = 8
DIM = 64

# Adaptive IVF codebook size — the ONE place the c = max(16, isqrt(n))
# formula lives. ivf_assign's adaptive branch, semantic_dedup_frame,
# and callers that size the codebook themselves
# (plans/datapipe.cluster_balanced_sample) all derive from here, so
# the formula cannot silently drift between the kernel and a call
# site while the SQL oracles (which state it independently as
# GREATEST(16, FLOOR(SQRT(n)))) keep checking it.
MIN_CENTROIDS = 16


def adaptive_codebook(n: int) -> tuple[int, str]:
    """(n_centroids, assign_impl) for a corpus of ``n`` vectors. The
    assignment is the Arrow kernel at every n; the second element
    names it for the scale-branch reports that read it."""
    import math

    return max(MIN_CENTROIDS, math.isqrt(n)), "arrow"


MIN_COARSE = 4


def adaptive_coarse(c: int) -> int:
    """Coarse-level cell count for a two-level IVF over ``c`` fine
    cells: c1 = max(4, isqrt(c)) — the same square-root balance one
    level up (SCALE.md §centroid-closure ceiling). Lives here, next to
    adaptive_codebook, for the same no-drift reason."""
    import math

    return max(MIN_COARSE, math.isqrt(c))


def _unit(seed: str) -> float:
    """Deterministic uniform in [-1, 1) from md5, rounded to 6 dp so
    the literal round-trips exactly through SQL text."""
    h = int(hashlib.md5(seed.encode()).hexdigest()[:15], 16)
    return round((h % 2_000_000) / 1_000_000.0 - 1.0, 6)


# Lazily extended cache: plane (table, k) is fully determined by its
# seed, so any K-plane prefix is identical no matter how many planes a
# caller asks for — pairs(K+1) ⊆ pairs(K) by construction. Table 0
# keeps the original seed format (oracle-pinned queries reference it);
# tables t >= 1 are independent draws for OR-amplification.
HYPERPLANES: dict[tuple[int, int], list[float]] = {
    (0, k): [_unit(f"plane{k}:dim{d}") for d in range(DIM)] for k in range(N_PLANES)
}


def _plane(k: int, table: int = 0) -> list[float]:
    if (table, k) not in HYPERPLANES:
        seed = f"plane{k}" if table == 0 else f"t{table}:plane{k}"
        HYPERPLANES[(table, k)] = [_unit(f"{seed}:dim{d}") for d in range(DIM)]
    return HYPERPLANES[(table, k)]


MAX_PLANES = 30


def adaptive_n_planes(n_rows: int, target_bucket: int = 8) -> int:
    """Plane count that keeps EXPECTED bucket occupancy constant as the
    corpus grows: K = ceil(log2(n / target_bucket)). With a fixed K,
    10x the vectors means 10x per bucket and ~100x in-bucket candidate
    pairs — measured as a 39x wall-time blowup at the 10x scale point
    and 326x at the 100x decade (SCALE.md) — while K growing with
    log2(n) keeps candidate count linear in n. INTEGER-exact (the
    adaptive_band_bits discipline: bit_length, never float log2 whose
    x.9999 could ceil differently across engines — the SQL mirror is
    LENGTH(BIN((n + t - 1) // t - 1))). Floor at the default so small
    corpora keep the historical behavior; cap at MAX_PLANES (bucket
    ids stay comfortably in a bigint; beyond n = 8·2^30 vectors,
    concatenate a second plane block per table)."""
    if n_rows <= target_bucket:
        return N_PLANES
    ceil_ratio = (n_rows + target_bucket - 1) // target_bucket
    return min(MAX_PLANES, max(N_PLANES, (ceil_ratio - 1).bit_length()))


def dot_sql(a: str, b: str, dim: int = DIM) -> str:
    """Positional plain-double dot product as a Spark SQL string
    (0-based subscripts): one parsed expression, whole-stage codegen,
    bit-identical to the DuckDB mirror (sql_dot) because both engines
    run the same IEEE ops in the same order."""
    return "(" + " + ".join(f"{a}[{i}] * {b}[{i}]" for i in range(dim)) + ")"


def sql_dot(a: str, b: str, dim: int = DIM) -> str:
    """DuckDB mirror of dot_sql (1-based subscripts)."""
    return "(" + " + ".join(
        f"{a}[{i}] * {b}[{i}]" for i in range(1, dim + 1)
    ) + ")"


def sql_l1(a: str, b: str, dim: int = DIM) -> str:
    """DuckDB positional L1 distance, i-ascending left-associated
    adds — the IEEE sequence the rerank Arrow kernel replicates."""
    return "(" + " + ".join(
        f"ABS({a}[{i}] - {b}[{i}])" for i in range(1, dim + 1)
    ) + ")"


def sql_sign_agree(a: str, b: str, dim: int = DIM) -> str:
    """DuckDB positional sign-agreement count (#i where a_i·b_i > 0)
    — exact integer arithmetic, no float-order concerns."""
    return "(" + " + ".join(
        f"(CASE WHEN {a}[{i}] * {b}[{i}] > 0 THEN 1 ELSE 0 END)"
        for i in range(1, dim + 1)
    ) + ")"


# --- wide scalar-column layout (the 8 KB JIT cliff fix, see module
# --- docstring): vectors as dim individual double columns.


def unpack_exprs(vec_col: str, prefix: str, dim: int = DIM) -> list[str]:
    """SQL select-exprs unpacking an array column into ``dim`` scalar
    double columns ``{prefix}_0 .. {prefix}_{dim-1}`` — done ONCE at
    the scan; everything downstream does scalar math.

    The COALESCE(..., 0.0) makes every unpacked column NON-NULLABLE,
    and that is load-bearing, not cosmetic: with nullable scalar
    columns, any filter/join above the frame infers an
    isnotnull(norm) constraint whose expression tree references all
    ``dim`` columns, and Catalyst's constraint propagation through an
    aliasing projection (q_i = v_i renames) KEEPS the original
    constraint while adding each alias-substituted copy — 64 aliases
    of a 64-attribute constraint is a 2^64 closure. Measured: plan
    analysis OOMs the driver heap inside
    UnaryNode.getAllValidConstraints / ExpressionSet.map before a
    single task runs. Non-nullable columns generate no isnotnull
    constraints, so the constraint sets stay tiny. Precondition
    (documented contract): embedding vectors are dense and non-null —
    a null element would become 0.0 here while the SQL oracle keeps
    NULL semantics."""
    return [
        f"COALESCE(CAST({vec_col}[{i}] AS DOUBLE), CAST(0.0 AS DOUBLE))"
        f" AS {prefix}_{i}"
        for i in range(dim)
    ]


def rename_exprs(src: str, dst: str, dim: int = DIM) -> list[str]:
    """Column renames ``{src}_i AS {dst}_i`` for join-side aliasing."""
    return [f"{src}_{i} AS {dst}_{i}" for i in range(dim)]


def dot_cols(a: str, b: str, dim: int = DIM) -> str:
    """Positional plain-double dot over SCALAR columns: ~10 bytes of
    bytecode per term vs ~100+ for the two-array form — the layout
    that keeps dot-heavy fused stages under the 8 KB JIT limit.
    Identical IEEE ops in identical order to dot_sql/sql_dot."""
    return "(" + " + ".join(f"{a}_{i} * {b}_{i}" for i in range(dim)) + ")"


def plane_dot_cols(prefix: str, k: int, table: int = 0, dim: int = DIM) -> str:
    """dot(vector-as-scalar-columns, plane_k) with literal
    coefficients (~10 bytes/term)."""
    cs = _plane(k, table)
    return "(" + " + ".join(
        f"{prefix}_{i} * ({cs[i]!r})" for i in range(dim)
    ) + ")"


def norm_cols(prefix: str, dim: int = DIM) -> str:
    """SQRT(dot(x, x)) over scalar columns, for INLINE use. Norms are
    deliberately NOT materialized as a named column: an alias whose
    expression references all ``dim`` scalar columns is a
    constraint-propagation bomb — Catalyst records `alias = expr` as
    a plan constraint, and every later column RENAME (q_i = v_i, 64
    of them) maps the accumulated constraint set per alias while
    keeping the originals, so one 64-attribute constraint closes to
    2^64 variants (driver OOM in getAllValidConstraints, measured).
    Inline norms keep every constraint single-attribute, and the
    recomputation is ~600 bytes of JIT'd bytecode per use — noise
    next to the pair dot it accompanies. (Bit-equality is unaffected:
    the same IEEE expression yields the same double wherever it is
    evaluated.)"""
    return f"SQRT({dot_cols(prefix, prefix, dim)})"


def wide_base(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
    n_rows: int | None = None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(vec_id, v_0..v_{dim-1}) — the shared scalar-column frame every
    embedding operator starts from. Unpacks BELOW an explicit
    repartition (the unpack projection is CPU-bound and a single
    parquet file would otherwise run on one core; the shuffle then
    materializes scalar columns, so no downstream stage ever touches
    the array form). Norms are computed inline at use sites via
    ``norm_cols`` — see its docstring for why a norm COLUMN here
    would OOM the planner. The same rule governs every operator in
    this module: never alias a wide expression and rename columns
    after it — rename FIRST, then compute.

    ``n_rows`` (when the caller knows the corpus size): sizes the
    partition count as ceil(n_rows / 2000), floor 8, cap 2×cores —
    REPARTITION_BY_NUM is exempt from AQE coalescing (deliberately,
    so the unpack parallelizes), which means an index pipeline whose
    every downstream job re-reads this frame's checkpoint otherwise
    pays 64 tasks per job REGARDLESS of size (measured: 12 jobs × 64
    tasks of scheduling floor ≈ 2s of ann_pq_topk's sf0.1 wall for
    5k rows).

    ``extra_cols``: narrow metadata columns (e.g. ``label``) carried
    through the unpack for filtered-search variants — kept out of the
    scalar-dim namespace, never part of any wide expression."""
    n_parts = embeddings.sparkSession.sparkContext.defaultParallelism * 2
    if n_rows is not None:
        n_parts = min(n_parts, max(8, -(-n_rows // 2000)))
    return embeddings.selectExpr(
        f"{id_col} AS vec_id", *extra_cols, *unpack_exprs(vec_col, "v", dim)
    ).repartition(n_parts, F.col("vec_id"))


def plane_dot_sql(vec: str, k: int, table: int = 0, dim: int = DIM) -> str:
    """dot(vec, plane_k) with the plane folded in as float literals
    (6-dp values round-trip exactly through SQL text in both
    engines). ``dim`` <= DIM uses the plane's leading components."""
    cs = _plane(k, table)
    return "(" + " + ".join(
        f"{vec}[{i}] * ({cs[i]!r})" for i in range(dim)
    ) + ")"


def sql_plane_dot(vec: str, k: int, table: int = 0) -> str:
    """DuckDB mirror of plane_dot_sql (1-based subscripts on vec)."""
    cs = _plane(k, table)
    return "(" + " + ".join(
        f"{vec}[{i + 1}] * ({cs[i]!r})" for i in range(DIM)
    ) + ")"


def bucket_sql(
    vec: str, n_planes: int = N_PLANES, table: int = 0, dim: int = DIM
) -> str:
    """K-bit LSH bucket as one Spark SQL string: bit k set iff
    dot(vec, plane_k) >= 0. ``table`` selects an independent
    hyperplane set (OR-amplification: L tables recover the recall
    that a larger adaptive K gives away — a pair is a candidate if it
    matches in ANY table)."""
    terms = " + ".join(
        f"(CASE WHEN {plane_dot_sql(vec, k, table, dim)} >= 0"
        f" THEN {1 << k} ELSE 0 END)"
        for k in range(n_planes)
    )
    return f"({terms})"


def bucket_cols(
    prefix: str, n_planes: int = N_PLANES, table: int = 0, dim: int = DIM
) -> str:
    """K-bit LSH bucket over SCALAR columns as one SQL string. At
    ~10 bytecode bytes per multiply-add term this stays JIT-safe for
    K·dim up to ~600 terms, but as of round 13 no execution path uses
    it: the single-table path computes buckets in bucket_wide_arrow
    (the JVM expression's real cost was per-ACTION optimizer walks of
    the ~2000-node tree, not execution — SCALE.md §Round 13) and the
    multitable path uses bucket_frame's explode-first form. Kept,
    with bucket_id, as the JVM semantic spec the oracle SQL mirrors.
    If it returns to a join key, wrap in COALESCE(..., -1) so the key
    is non-nullable — otherwise inner-join constraint inference
    pushes an isnotnull(bucket) filter containing the full K·dim
    expression down to the scan (the round-3 lesson)."""
    terms = " + ".join(
        f"(CASE WHEN {plane_dot_cols(prefix, k, table, dim)} >= 0.0"
        f" THEN {1 << k} ELSE 0 END)"
        for k in range(n_planes)
    )
    return f"({terms})"


def bucket_id(
    vec: str, n_planes: int = N_PLANES, table: int = 0, dim: int = DIM
) -> Column:
    """Column form of bucket_sql; ``vec`` is a COLUMN NAME (the
    expression is assembled as one SQL string — the py4j round-trip
    lesson). NOTE: for the Spark execution path prefer
    ``bucket_frame`` — this single-expression form generates K·dim
    multiply-adds in ONE Janino method and blows the 64 KB bytecode
    limit once fused into a join/sort stage (whole-stage codegen then
    silently falls back to interpreted execution for the entire
    stage). Kept for tests and as the semantic spec the oracle SQL
    mirrors."""
    return F.expr(bucket_sql(vec, n_planes, table, dim))


def _planes_literal_sql(n_planes: int, n_tables: int = 1, dim: int = DIM) -> str:
    """array<array<double>> literal of the L·K plane vectors,
    table-major (index i → table i DIV K, plane i % K). At most
    30·64·L doubles — constant-folds to a single Literal at parse
    time (unlike the 131k-element bloom case, small enough that the
    fold is free)."""
    rows = []
    for t in range(n_tables):
        for k in range(n_planes):
            cs = _plane(k, t)
            rows.append(
                "array(" + ",".join(repr(c) for c in cs[:dim]) + ")"
            )
    return "array(" + ",".join(rows) + ")"


def bucket_frame(
    base: DataFrame,
    n_planes: int,
    n_tables: int = 1,
    dim: int = DIM,
) -> DataFrame:
    """(vec_id, t, bucket) for every vector × hyperplane table,
    computed EXPLODE-FIRST: posexplode the L·K plane matrix literal so
    each row evaluates ONE ``dim``-term positional dot (a few KB of
    generated code — codegen-clean), then rebuild the K-bit bucket as
    an integer aggregate Σ 2^k over the sign bits.

    Why not one big expression per table (``bucket_id``): K·dim
    multiply-add terms in a single expression tree exceed Janino's
    64 KB per-method bytecode limit as soon as the projection fuses
    with the downstream join/sort stage (and whole-stage codegen
    cannot split a single expression across methods, nor a post-join
    projection whose inputs are operator-local variables). The
    compile failure is SILENT — Spark falls back to interpreting the
    whole fused stage. Measured at the 100x decade (200k vectors,
    K=15): interpreted fallback 9.3s cold / 4.3s warm, explode-first
    8.4s / 3.8s — and the latter is the shape that keeps widening
    codegen coverage instead of abandoning it.

    Cost shape: n·L·K exploded rows each carrying the vector's scalar
    columns (no interpreted-HOF child — the Generate child is a folded
    Literal, the round-6 precision of the Generate lesson), consumed
    by a hash aggregate that completes MAP-SIDE: the upstream
    repartition on vec_id satisfies the (vec_id, t) clustering
    requirement (partitioning on a subset of the grouping keys), so
    no new exchange appears. Input is the WIDE frame (v_0..v_{dim-1});
    the per-row dot is scalar-column × one-array-access (~70 bytes of
    bytecode per term — under the 8 KB JIT limit where the two-array
    form was not, see module docstring). Output is always the narrow
    (vec_id, t, bucket) index frame; callers join vectors back by id
    (co-partitioned — no extra exchange)."""
    vcols = [f"v_{i}" for i in range(dim)]
    ex = base.select(
        "vec_id",
        *vcols,
        F.posexplode(F.expr(_planes_literal_sql(n_planes, n_tables, dim))).alias(
            "i", "p"
        ),
    )
    pdot = "(" + " + ".join(f"v_{i} * p[{i}]" for i in range(dim)) + ")"
    bit = F.expr(
        f"CASE WHEN {pdot} >= 0.0 THEN shiftleft(1L, i % {n_planes}) ELSE 0L END"
    )
    return (
        ex.withColumn("t", F.expr(f"CAST(i DIV {n_planes} AS INT)"))
        .groupBy("vec_id", "t")
        .agg(F.sum(bit).alias("bucket"))
    )


def _coalesced_matrix(arrs, dim: int):
    """(rows, dim) float64 matrix of one Arrow batch of embedding
    arrays, with unpack_exprs' COALESCE(x, 0.0) semantics — the input
    stage both LSH kernels share. Contract rows (dense, full-length,
    non-null) take one vectorized stack. A batch with any malformed
    row (null vector, short or long vector, None elements arriving as
    an object array) builds per ROW instead, so one bad row never
    changes its batch neighbors' values: a null vector reads all
    0.0, a short one is zero-padded, a long one truncated to ``dim``.
    Null ELEMENTS reach Python as NaN on both branches (pyarrow's
    null/NaN collapse for float lists, even inside object-dtype
    batches) and map to 0.0 on both, so a row's value never depends
    on which branch its batch took; a true-NaN input, which is
    indistinguishable after the Arrow boundary, also reads 0.0."""
    import numpy as np

    try:
        V = np.stack(arrs)
    except (ValueError, TypeError):  # ragged or null rows
        V = None
    if V is not None and V.dtype != object and V.shape == (len(arrs), dim):
        V = V.astype(np.float64)
        if np.isnan(V).any():
            np.nan_to_num(V, copy=False, nan=0.0, posinf=np.inf, neginf=-np.inf)
        return V
    V = np.zeros((len(arrs), dim), dtype=np.float64)
    for r, a in enumerate(arrs):
        if a is None:
            continue
        row = np.asarray(
            [0.0 if x is None else x for x in list(a)[:dim]], dtype=np.float64
        )
        np.nan_to_num(row, copy=False, nan=0.0, posinf=np.inf, neginf=-np.inf)
        V[r, : len(row)] = row
    return V


def bucket_wide_arrow(
    embeddings: DataFrame,
    n_planes: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: int = 0,
    dim: int = DIM,
) -> DataFrame:
    """(vec_id, bucket, v_0..v_{dim-1}) in ONE Arrow-batched numpy
    pass over the raw scan — the single-table LSH index frame.

    Why not the JVM expression forms (round 13, measured): the
    single-expression bucket (bucket_cols) is a ~10 KB expression
    tree TWICE (index + query side), and at sf0.1 the query's wall
    was ~65% DRIVER time — every .save() re-runs analysis, the full
    optimizer, physical planning and codegen-source generation over
    the ~10k-node tree (0.25s optimize alone, re-paid per action;
    in-job time was 0.16s of a 1.03s wall). The explode-first
    bucket_frame avoids the big tree but pays an aggregation job.
    This kernel gives the optimizer ONE opaque mapInPandas node plus
    narrow column refs: same-session adjacent A/B min-of-6 at sf0.1,
    1.047s → 0.519s wall, outputs bit-identical. At 100 TB it is the
    same design as _assign_cells_arrow: each partition streams its
    batches through vectorized C once, no shuffle, and the K·dim
    flops per row are trivially rate-matched to the scan.

    Bit-parity discipline (the _assign_cells_arrow conventions):
    float32→float64 widening is exact (same as unpack_exprs' CAST);
    each plane dot accumulates i-ascending with a zeros() start —
    0.0 + x == x for every x except -0.0, whose sign cannot flip the
    >= 0.0 sign test — so every intermediate double equals the JVM's
    left-to-right `v_0*c_0 + v_1*c_1 + ...`; the bucket is an exact
    integer sum of 2^k terms. Malformed rows (null, short or
    null-element vectors) follow unpack_exprs' COALESCE(x, 0.0)
    semantics (:func:`_coalesced_matrix`)."""
    import numpy as np

    P = np.array(
        [_plane(k, table)[:dim] for k in range(n_planes)], dtype=np.float64
    )

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _coalesced_matrix(pdf[vec_col].to_numpy(), dim)
            n = V.shape[0]
            bucket = np.zeros(n, dtype=np.int64)
            for kk in range(n_planes):
                acc = np.zeros(n, dtype=np.float64)
                for i in range(dim):
                    acc += V[:, i] * P[kk, i]
                bucket += np.where(acc >= 0.0, np.int64(1 << kk), np.int64(0))
            out = {id_col: pdf[id_col].to_numpy(), "bucket": bucket}
            for i in range(dim):
                out[f"v_{i}"] = V[:, i]
            yield pd.DataFrame(out)

    # Output id column carries the CALLER'S id_col name (round-15
    # ADVICE: it was hardcoded to vec_id, silently renaming a
    # non-default caller's id column).
    schema = f"{id_col} bigint, bucket bigint, " + ", ".join(
        f"v_{i} double" for i in range(dim)
    )
    return embeddings.select(id_col, vec_col).mapInPandas(fn, schema=schema)


def buckets_multi_arrow(
    embeddings: DataFrame,
    n_planes: int,
    n_tables: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
) -> DataFrame:
    """(vec_id, b_0..b_{L-1}, v_0..v_{dim-1}) in ONE Arrow-batched
    numpy pass over the raw scan — the MULTI-table LSH index frame
    (round 14). The multitable path previously built wide_base +
    bucket_frame (explode over the L·K plane-literal array + integer
    re-aggregation) behind TWO lazy checkpoints; at sf0.1 ~63% of
    ann_lsh_multitable's wall was driver-side construction/planning of
    that tree (job_profile: construct 0.874 s of a 1.387 s wall). One
    opaque kernel node computing every table's bucket in the same
    batch sweep removes the explode/agg subplan and one checkpoint:
    adjacent A/B min-of-4 at sf0.1 1.687 → 1.069 s, outputs
    bit-identical.

    Bit-parity discipline — identical to :func:`bucket_wide_arrow`
    (the single-table kernel, round 13): i-ascending accumulation per
    plane dot (every intermediate double equals the JVM's
    left-to-right chain), sign test ``>= 0.0``, bucket as an exact
    integer sum of 2^k terms; the plane matrix of table ``t`` is
    ``_plane(k, t)`` — the same constants bucket_frame's literal array
    carries. Malformed rows follow the same COALESCE(x, 0.0)
    semantics through :func:`_coalesced_matrix`."""
    import numpy as np

    PS = [
        np.array(
            [_plane(k, t)[:dim] for k in range(n_planes)], dtype=np.float64
        )
        for t in range(n_tables)
    ]

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _coalesced_matrix(pdf[vec_col].to_numpy(), dim)
            n = V.shape[0]
            out = {id_col: pdf[id_col].to_numpy()}
            for t in range(n_tables):
                P = PS[t]
                bucket = np.zeros(n, dtype=np.int64)
                for kk in range(n_planes):
                    acc = np.zeros(n, dtype=np.float64)
                    for i in range(dim):
                        acc += V[:, i] * P[kk, i]
                    bucket += np.where(
                        acc >= 0.0, np.int64(1 << kk), np.int64(0)
                    )
                out[f"b_{t}"] = bucket
            for i in range(dim):
                out[f"v_{i}"] = V[:, i]
            yield pd.DataFrame(out)

    # Output id column carries the CALLER'S id_col name (round-15
    # ADVICE: it was hardcoded to vec_id, silently renaming a
    # non-default caller's id column).
    schema = (
        f"{id_col} bigint, "
        + ", ".join(f"b_{t} bigint" for t in range(n_tables))
        + ", "
        + ", ".join(f"v_{i} double" for i in range(dim))
    )
    return embeddings.select(id_col, vec_col).mapInPandas(fn, schema=schema)


def _index_bytes(raw: DataFrame, n_vectors: int | None, dim: int) -> int:
    """Byte size of an LSH index input for the repartition gate: from
    the caller-known row count when given (zero py4j or optimizer
    work), else the optimizer's planning-time estimate."""
    if n_vectors is not None:
        return n_vectors * (dim * 8 + 16)
    return int(raw._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def ann_topk(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = N_PLANES,
    n_tables: int = 1,
    hamming_probes: int = 0,
    dim: int = DIM,
    n_vectors: int | None = None,
) -> DataFrame:
    """Per-query top-k by exact cosine among same-bucket candidates.

    ``n_planes=None`` sizes K = log2(n/8) from the corpus (constant
    expected occupancy — the 100 TB path). Two independent RECALL
    levers compensate for the tighter adaptive buckets:
    - ``n_tables=L`` > 1 (OR-amplification): L independent hyperplane
      sets, a candidate only needs to share a bucket in ANY table.
      Cost: L× bucket computation AND L× index storage.
    - ``hamming_probes=1`` (multi-probe): each query ALSO probes the K
      buckets at Hamming distance 1 from its own — a vector just on
      the other side of one hyperplane lands there. Cost: (K+1)× probe
      keys on the (small) query side only; no extra index storage or
      per-vector compute — the classic multi-probe LSH trade.
    Both compose; recall curves are measured in SCALE.md §ANN recall.
    The defaults keep the oracle-pinned single-table plan (L=1 runs
    the same unified index path — the candidate set, scores and
    output rows are identical to the former specialized branch).

    One explode-first pass over all L·K planes builds the whole
    (vec_id, t, bucket) index frame (bucket_frame); candidate ids are
    deduped BEFORE any cosine math, so the exact-verify cost is per
    unique candidate, not per (table, candidate). All vector math
    runs on the scalar-column layout (wide_base — the 8 KB JIT cliff
    fix, module docstring)."""
    from pyspark.sql import Window

    if n_planes is None:
        n_planes = adaptive_n_planes(
            embeddings.count() if n_vectors is None else n_vectors
        )

    if n_tables == 1 and hamming_probes == 0:
        # SHALLOW single-table path, round-13 form: ONE Arrow pass
        # (bucket_wide_arrow) builds the (vec_id, bucket, v_*) index
        # frame; a lazy checkpoint dedupes its two consumers (query
        # side + probe side), then broadcast-probe → inline cosine →
        # top-k. The previous JVM form computed the K·dim bucket
        # expression twice (~10k optimizer nodes) and its sf0.1 wall
        # was ~65% per-action driver re-planning; the Arrow kernel
        # collapses that to one opaque node (1.047s → 0.519s adjacent
        # min-of-6, bit-identical — kernel docstring). No dedup
        # needed: one table ⇒ one bucket per vector ⇒ pairs unique.
        # No K·dim codegen guard needed either — the kernel is
        # vectorized C at any K ≤ MAX_PLANES.
        n_parts = embeddings.sparkSession.sparkContext.defaultParallelism * 2
        raw = embeddings.selectExpr(
            f"{id_col} AS vec_id", f"{vec_col} AS _vec"
        )
        # Repartition ONLY when the corpus is big enough for the
        # probe stage to need multi-core parallelism. The decision
        # prefers the caller-known footer row count (zero py4j /
        # optimizer work); the optimizer's planning-time size
        # estimate is the fallback. Below the threshold everything
        # after the broadcast build is one fused job; above it (the
        # 100x decade: ~51 MB of vectors in one parquet split) the
        # explicit hash repartition restores the 32-way CPU spread
        # the byte-based file splitter would not provide — placed
        # BELOW the Arrow kernel so the per-batch numpy work spreads
        # too.
        small = _index_bytes(raw, n_vectors, dim) <= 32 * 1024 * 1024
        if not small:
            raw = raw.repartition(n_parts, F.col("vec_id"))
        bb = bucket_wide_arrow(
            raw, n_planes, id_col="vec_id", vec_col="_vec", dim=dim
        ).localCheckpoint(eager=False)
        q = bb.where(query_pred).selectExpr(
            "vec_id AS query_id",
            "bucket AS qbucket",
            *[f"v_{i} AS q_{i}" for i in range(dim)],
        )
        cosine = F.expr(
            f"ROUND({dot_cols('q', 'v', dim)}"
            f" / ({norm_cols('q', dim)} * {norm_cols('v', dim)}), 9)"
        )
        scored = (
            F.broadcast(q)
            .join(
                bb,
                (F.col("qbucket") == F.col("bucket"))
                & (F.col("vec_id") != F.col("query_id")),
            )
            .select("query_id", "vec_id", cosine.alias("cosine"))
        )
        if small:
            # Small corpus: narrow the scored stream to ONE partition
            # so the top-k window's ClusteredDistribution(query_id) is
            # satisfied by SinglePartition — no exchange, no second
            # AQE round. The big-corpus branch keeps the hash
            # exchange: there the window's sort volume needs the
            # 32-way spread.
            scored = scored.coalesce(1)
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("vec_id")
        )
        return scored.withColumn("rk", F.row_number().over(w)).where(
            F.col("rk") <= k
        )

    # DEEP path (L tables and/or multi-probe), round-14 form: ONE
    # Arrow pass (buckets_multi_arrow) computes every table's bucket
    # AND the scalar-column layout together; a single lazy checkpoint
    # dedupes all consumers (narrow index view, query vectors,
    # candidate re-rank — column pruning would otherwise specialize
    # each copy and re-run the kernel, the round-7 lesson). The
    # previous form (wide_base + bucket_frame behind TWO checkpoints)
    # spent ~63% of the sf0.1 wall on driver-side construction/
    # planning of the explode-over-plane-literal subplan
    # (job_profile: construct 0.874 s / 1.387 s wall); the kernel
    # collapses it to one opaque node — adjacent A/B min-of-4 at
    # sf0.1 1.687 → 1.069 s, outputs bit-identical (same per-plane
    # accumulation order, same sign test, same COALESCE fallback —
    # kernel docstring). Same size gate as the shallow branch: below
    # ~32 MB of vectors everything after the broadcast build is one
    # fused job; above it the explicit hash repartition BELOW the
    # kernel spreads both the numpy batches and the downstream joins
    # (REPARTITION_BY_NUM — exempt from AQE byte-coalescing).
    raw = embeddings.selectExpr(f"{id_col} AS vec_id", f"{vec_col} AS _vec")
    if _index_bytes(raw, n_vectors, dim) > 32 * 1024 * 1024:
        n_parts = embeddings.sparkSession.sparkContext.defaultParallelism * 2
        if n_vectors is not None:
            n_parts = min(n_parts, max(8, -(-n_vectors // 2000)))
        raw = raw.repartition(n_parts, F.col("vec_id"))
    bb = buckets_multi_arrow(
        raw, n_planes, n_tables, id_col="vec_id", vec_col="_vec", dim=dim
    ).localCheckpoint(eager=False)
    base = bb.select("vec_id", *[f"v_{i}" for i in range(dim)])
    # Narrow (vec_id, t, bucket) index view: posexplode over the tiny
    # L-element bucket array — Generate with already-computed integer
    # children (the harmless shape per the round-6 Generate rule); no
    # re-aggregation job, unlike bucket_frame's explode-first build.
    buck = bb.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.col(f"b_{t}") for t in range(n_tables)])
        ).alias("t", "bucket"),
    )
    # Query ids come from the RAW frame, column-pruned to the id —
    # routing them through `base` would block the broadcast build on
    # the full unpack+repartition materialization just to read ids.
    qids = (
        embeddings.withColumnRenamed(id_col, "vec_id")
        .where(query_pred)
        .select("vec_id")
    )
    qb = buck.join(
        F.broadcast(qids),
        "vec_id",
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("t").alias("qt"),
        F.col("bucket").alias("qbucket"),
    )
    if hamming_probes >= 1:
        # multi-probe: the query additionally probes every bucket one
        # bit-flip away (explode on the SMALL query side only — the
        # data-side index is untouched). Probes beyond Hamming-1 give
        # diminishing returns for this K range; compose with n_tables
        # for more recall instead.
        probes = F.array(
            F.col("qbucket"),
            *[F.col("qbucket").bitwiseXOR(F.lit(1 << b)) for b in range(n_planes)],
        )
        qb = qb.select(
            "query_id", "qt", F.explode(probes).alias("qbucket")
        )
    cand_ids = (
        F.broadcast(qb)
        .join(
            buck,
            (F.col("qt") == F.col("t"))
            & (F.col("qbucket") == F.col("bucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id")
    )
    if n_tables > 1 or hamming_probes >= 1:
        # dedup-before-cosine only when duplicates are POSSIBLE: with
        # one table and no multi-probe each vector occupies exactly
        # one bucket, so every (query, candidate) pair is already
        # unique and the dropDuplicates shuffle is a pure tax.
        cand_ids = cand_ids.dropDuplicates(["query_id", "vec_id"])
    qv = base.where(query_pred).selectExpr(
        "vec_id AS query_id", *rename_exprs("v", "q", dim)
    )
    cosine = F.expr(
        f"ROUND({dot_cols('q', 'v', dim)}"
        f" / ({norm_cols('q', dim)} * {norm_cols('v', dim)}), 9)"
    )
    scored = (
        cand_ids.join(F.broadcast(qv), "query_id")
        .join(base, "vec_id")
        .select("query_id", "vec_id", cosine.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = N_PLANES,
    n_tables: int = 1,
    dim: int = DIM,
    n_vectors: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH-bucket blocking
    (vectors on the same side of all K hyperplanes), then exact cosine
    on same-bucket pairs only.

    Same narrow-join shape as the MinHash text dedup: the bucket
    self-join sees only (vec_id, bucket) rows and reuses one exchange
    (shuffle_hash hint); vectors and norms are joined back per side of
    the candidate set. O(pairs-in-bucket) — which stays linear in n
    ONLY if bucket occupancy is held constant: pass ``n_planes=None``
    to size K = log2(n/8) from a count of the input (the 100 TB path;
    measured restoring linearity at the 10x scale point, SCALE.md).
    ``n_tables=L`` > 1 adds OR-amplification (independent hyperplane
    sets; candidate = same bucket in ANY table) — the recall lever
    that pairs with the adaptive K, measured in SCALE.md §ANN recall.
    The defaults pin K=8, L=1 for the oracle-checked query."""
    if n_planes is None:
        n_planes = adaptive_n_planes(
            embeddings.count() if n_vectors is None else n_vectors
        )
    # Lazy checkpoint: four consumers (two bucket-join sides, two
    # verify sides) otherwise re-plan the scan + 64-column unpack from
    # the parquet file — the executed plan carried FOUR parquet scans
    # (plan-audited round 9; the ann_topk deep path had the same
    # finding in round 7). Measured 1.11 → 0.95s at sf0.1; the wide
    # frame is the right one to store here (the narrow-checkpoint rule
    # applies to derived-array frames, not the shared unpack every
    # consumer needs verbatim).
    base = wide_base(
        embeddings, id_col, vec_col, dim, n_rows=n_vectors
    ).localCheckpoint(eager=False)
    # Narrow (vec_id, t, bucket) index frame for any L, explode-first
    # over the wide frame (bucket_frame: the per-table K·dim-term
    # bucket expression blows the 64 KB Janino limit, and two-array
    # dots blow the 8 KB JIT limit — module docstring).
    ids = bucket_frame(base, n_planes, n_tables, dim)
    a, b = ids.alias("a").hint("shuffle_hash"), ids.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("id1"), F.col("b.vec_id").alias("id2"))
    )
    if n_tables > 1:
        cand = cand.dropDuplicates(["id1", "id2"])
    s1 = base.selectExpr("vec_id AS id1", *rename_exprs("v", "a", dim))
    s2 = base.selectExpr("vec_id AS id2", *rename_exprs("v", "b", dim))
    cosine = F.expr(
        f"ROUND({dot_cols('a', 'b', dim)}"
        f" / ({norm_cols('a', dim)} * {norm_cols('b', dim)}), 9)"
    )
    return (
        cand.join(s1, "id1")
        .join(s2, "id2")
        .select("id1", "id2", cosine.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


# Codebook shipping bound (round 15, verdict item 7): the ANN
# assignment kernels carry their codebook matrices to executors.
# Below this bound they ride the TASK CLOSURE — TorrentBroadcast
# ships the serialized task binary once per executor per stage, so at
# the adaptive c = isqrt(n) the closure is c·dim·8 B ≈ √n·512 B:
# ~16 MB at n = 10^9, ~51 MB at n = 10^10. Past the bound (with the
# adaptive codebook that is n ≳ 1.7×10^10, where c > 131k at dim 64
# and the matrix passes 64 MiB — at n = 10^12 it would be ~0.5 GB)
# the matrices ship as an EXPLICIT Spark broadcast instead: same
# torrent distribution, but the bytes leave the task description, so
# scheduler serialization and the closure cache stop carrying them.
CODEBOOK_CLOSURE_MAX_BYTES = 64 * 1024 * 1024


class _CodebookCarrier:
    """Zero-arg resolver for a kernel's codebook arrays: returns them
    from the task closure below CODEBOOK_CLOSURE_MAX_BYTES, from an
    explicit Spark broadcast above it (the auto-switch documented at
    the constant; ``broadcast`` is the live handle when engaged, None
    otherwise — tests introspect it)."""

    def __init__(self, sc, arrays: tuple):
        total = sum(int(a.nbytes) for a in arrays)
        if total <= CODEBOOK_CLOSURE_MAX_BYTES:
            self.arrays: tuple | None = arrays
            self.broadcast = None
        else:
            self.arrays = None
            self.broadcast = sc.broadcast(arrays)

    def __call__(self) -> tuple:
        if self.broadcast is None:
            return self.arrays
        return self.broadcast.value


def _local_cents_frame(spark, scalar_cols, prefix: str, M) -> DataFrame:
    """Codebook frame as a LOCAL relation built from driver arrays the
    caller ALREADY holds (the bounded collect every assignment kernel
    performs): ``scalar_cols`` is [(name, "bigint"|"int", int_array)],
    plus ``{prefix}_0..{prefix}_{dim-1}`` double columns from the c×dim
    matrix ``M``. Replaces the probe side's computed codebook subplans
    (TakeOrderedAndProject over the corpus + a single-partition rank
    window per broadcast re-plan) with a LocalTableScan — zero jobs,
    zero extra passes over the corpus (guide §2.4); the values are the
    SAME doubles the collect returned, so results are bit-identical.
    Every field is declared non-nullable — nullable wide columns
    regenerate the isnotnull-constraint closure unpack_exprs exists to
    avoid. Size discipline: callers gate on CODEBOOK_CLOSURE_MAX_BYTES
    (c·dim·8 B ≈ √n·512 B — the closure-bound math at the constant)
    and keep the computed-frame form past it, where embedding tens of
    MB into the plan would bloat driver memory and every task
    description."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    dim = M.shape[1]
    tmap = {"bigint": LongType(), "int": IntegerType()}
    npmap = {"bigint": np.int64, "int": np.int32}
    fields = [StructField(nm, tmap[t], False) for nm, t, _ in scalar_cols]
    fields += [StructField(f"{prefix}_{i}", DoubleType(), False) for i in range(dim)]
    schema = StructType(fields)
    cols = {nm: arr.astype(npmap[t]) for nm, t, arr in scalar_cols}
    for i in range(dim):
        cols[f"{prefix}_{i}"] = M[:, i]
    # With spark.sql.execution.arrow.pyspark.enabled (session.tune sets
    # it on every session) the pandas frame converts through Arrow into
    # a true LocalRelation — float64 values bit-exact — so downstream
    # broadcast builds collect driver-side with zero jobs.
    return spark.createDataFrame(pd.DataFrame(cols), schema)


def _half_up_exact(x):
    """HALF_UP (round half away from zero) with EXACT tie detection —
    numpy's round() is banker's and the naive floor(|x|+0.5) misrounds
    values within one ulp below a .5 boundary (the +0.5 add rounds up
    to the boundary first; at |x| ≈ 1e9 that is a ~1.2e-7 window, ~20
    expected hits per 89M values). For |x| < 2^52, x − floor(x) is
    computed exactly in IEEE, so comparing the exact fraction against
    0.5 reproduces Java BigDecimal HALF_UP / DuckDB ROUND bit-for-bit
    (the shortest-decimal-repr subtlety cannot flip a side: a repr
    that round-trips to x lies on x's side of every representable
    boundary)."""
    import numpy as np

    pos = np.floor(x)
    neg = np.ceil(x)
    return np.where(x >= 0.0, pos + (x - pos >= 0.5), neg - (neg - x >= 0.5))


def _assign_cells_arrow(
    base: DataFrame,
    cents: DataFrame,
    dim: int,
    cblock: int = 1024,
    with_sim: bool = False,
    cmat: "tuple | None" = None,
) -> DataFrame:
    """Nearest-centroid assignment as ONE Arrow-batched numpy pass:
    each vector's winner is the centroid with the highest
    ROUND(cos, 9), ties to the lowest cent_ix — the oracle's
    ``ROW_NUMBER() OVER (ORDER BY cent_sim DESC, cent_id)``. Dots and
    norms accumulate i-ascending (the JVM's left-to-right
    ``v_0*c_0 + v_1*c_1 + ...``, so every intermediate double is the
    same), the nano rounding is exact HALF_UP (_half_up_exact) and the
    argmax is a max over packed (nanos, tie-break) longs. Streaming
    each vector batch ONCE with the n·c·dim flops in vectorized C is
    ~15× faster at the 100× decade than a JVM cross join, which
    materializes n·c rows of 2·dim doubles (≈90 GB at 200k×447) and
    is memory-bandwidth-bound. The centroid matrix rides the task
    closure up to CODEBOOK_CLOSURE_MAX_BYTES, an explicit Spark
    broadcast past it (_CodebookCarrier). Returns (vec_id, cell), plus
    the winner's cosine as ``proto_sim`` when ``with_sim`` — the
    packed key already carries round(sim·1e9), so emitting it is one
    integer unpack + divide, not a recompute; nanos/1e9 is the
    correctly-rounded double of the exact rational n/10^9, i.e. the
    same value ROUND(sim, 9) yields (parity pinned by the d4 /
    prototypicality oracles)."""
    import numpy as np

    if cmat is not None:
        # Caller already holds the codebook arrays (ivf_assign's
        # bounded collect, round 15) — no second collect job.
        C, cix = cmat
    else:
        crows = sorted(cents.collect(), key=lambda r: r["cent_ix"])
        C = np.array(
            [[r[f"c_{i}"] for i in range(dim)] for r in crows], dtype=np.float64
        )
        cix = np.array([r["cent_ix"] for r in crows], dtype=np.int64)
    # Centroid norms once, in the SAME i-ascending accumulation order
    # as norm_cols (per-step IEEE rounding identical ⇒ identical
    # doubles; sqrt is correctly rounded).
    cacc = np.zeros(C.shape[0])
    for i in range(dim):
        cacc += C[:, i] * C[:, i]
    cnorm = np.sqrt(cacc)

    vcols = [f"v_{i}" for i in range(dim)]
    # Centroid CHUNKING bounds the (batch × centroids) temporaries:
    # with c = isqrt(n) at web scale (n = 1e9 ⇒ c ≈ 32k) an unchunked
    # 10k-row batch would allocate 10k × 32k float64 ≈ 2.5 GB per
    # temp. Blocks of ≤1024 centroids keep every temp ≤ ~80 MB and a
    # running elementwise max over the PACKED keys is associative, so
    # the winner is identical however the blocks are cut. The centroid
    # matrix itself (c·dim doubles, 16 MB at c = 32k) rides the task
    # binary (shipped once per executor per stage) below
    # CODEBOOK_CLOSURE_MAX_BYTES and an explicit broadcast above it.
    carrier = _CodebookCarrier(
        base.sparkSession.sparkContext, (C,)
    )

    def fn(batches):
        (C,) = carrier()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = pdf[vcols].to_numpy(dtype=np.float64)
            m = V.shape[0]
            accn = np.zeros(m)
            for i in range(dim):
                accn += V[:, i] * V[:, i]
            vnorm = np.sqrt(accn)[:, None]
            best = None
            for s in range(0, C.shape[0], cblock):
                Cb = C[s : s + cblock]
                accd = np.zeros((m, Cb.shape[0]))
                for i in range(dim):
                    accd += V[:, i : i + 1] * Cb[None, :, i]
                sim = accd / (vnorm * cnorm[None, s : s + cblock])
                nanos = _half_up_exact(sim * 1e9).astype(np.int64)
                pk = (nanos + 1_000_000_000) * 2_097_152 + (
                    1_048_576 - cix[s : s + cblock]
                )[None, :]
                bb = pk.max(axis=1)
                best = bb if best is None else np.maximum(best, bb)
            cell = 1_048_576 - (best % 2_097_152)
            out = pdf[["vec_id"]].assign(cell=cell)
            if with_sim:
                nanos = best // 2_097_152 - 1_000_000_000
                out = out.assign(proto_sim=nanos.astype(np.float64) / 1e9)
            yield out

    schema = "vec_id bigint, cell bigint"
    if with_sim:
        schema += ", proto_sim double"
    return base.mapInPandas(fn, schema=schema)


def _kmeans_cents(base: DataFrame, k: int, dim: int, seed: int = 1337) -> DataFrame:
    """Trained codebook over the scalar-column frame: MLlib KMeans with
    a fixed seed (deterministic given the frame's deterministic
    partitioning), centers back as a (cent_id, c_0..c_{dim-1}) frame
    with synthetic dense ids 0..k-1. Shared by ivf_assign's
    ``centroids="kmeans"`` mode and ivf2_topk's trained mode."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = base.select(
        array_to_vector(F.array(*[F.col(f"v_{i}") for i in range(dim)])).alias(
            "features"
        )
    )
    km = KMeans(k=k, seed=seed, maxIter=20).fit(feat)
    cent_rows = [
        (i, *[float(x) for x in c]) for i, c in enumerate(km.clusterCenters())
    ]
    schema = "cent_id bigint, " + ", ".join(f"c_{i} double" for i in range(dim))
    return base.sparkSession.createDataFrame(cent_rows, schema)


def ivf_assign(
    embeddings: DataFrame,
    n_centroids: int | None = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str = "first",
    dim: int = DIM,
    with_vectors: bool = True,
    n_rows: int | None = None,
    with_sim: bool = False,
    extra_cols: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared IVF index-build: nearest-centroid cell assignment for
    every vector. Returns ``(base, cents, assigned)`` where ``base``
    is the scalar-column layout of the input, ``cents`` carries the
    codebook (``cent_id``, ``c_0..c_{dim-1}``, dense ``cent_ix``) and
    ``assigned`` is ``base`` plus the ``cell`` (= winning cent_ix)
    column — or just ``(vec_id, cell)`` when ``with_vectors=False``
    (``extra_cols``: narrow metadata columns carried through the wide
    frame — see wide_base; the assignment kernels ignore them, the
    centroid slice drops them, ``base``/``assigned`` keep them — the
    filtered-search hook)
    (pq_topk scores candidates against CODES, never raw vectors, so
    the join re-attaching 64 scalar columns would be pure waste).
    Used by :func:`ivf_topk` (ANN probes) and
    :func:`semantic_dedup_frame` (SemDeDup within-cell dedup) — the
    argmax-as-packed-long-max trick and its measured rationale live
    here once.

    ``centroids``:
    - ``"first"`` (default): the ``n_centroids`` lowest-id vectors —
      deterministic and oracle-reproducible where a KMeans fit would
      not be; pinned by the registered queries.
    - ``"kmeans"``: train the codebook with MLlib KMeans (fixed seed,
      Euclidean objective) — the production path promised in SCALE.md.
      The INDEX STRUCTURE is identical either way (the same packed
      argmax cell assignment), and that is the part that must scale.
      Trained centroids tile the data instead of echoing the first
      rows — measured recall@10 at fixed nprobe in SCALE.md §ANN
      recall, pinned by a unit test."""
    from pyspark.sql import Window

    if n_centroids is None:
        n_rows = embeddings.count()
        n_centroids, _ = adaptive_codebook(n_rows)
    # Lazy RDD persist on the scalar-column layout: base fans out to
    # MANY consumers (the assignment, the centroid slice, the PQ
    # encode stream and the PQ query table). One materialization
    # serves them all; the payload is the unpacked vectors
    # themselves, which every consumer needs anyway. n_rows (from the
    # adaptive count or the caller) right-sizes the checkpoint's
    # partition count so every consumer job's task count tracks the
    # corpus, not the core count (see wide_base).
    base = wide_base(
        embeddings, id_col, vec_col, dim, n_rows=n_rows, extra_cols=extra_cols
    ).localCheckpoint(eager=False)
    # Dense 0-based centroid index for the argmax packing below:
    # cent_id can be any vec_id value ("first" mode), but the packed
    # tie-break field needs < 2^20. row_number over the tiny centroid
    # frame is monotone in cent_id, so (sim desc, cent_ix asc) picks
    # the SAME winner as (sim desc, cent_id asc) — the oracle's
    # ordering. Cell identity is internal; both the assignment and
    # the query probes key on cent_ix.
    cw = Window.orderBy("cent_id")
    cmat = None
    if centroids == "kmeans":
        cents = _kmeans_cents(base, n_centroids, dim).withColumn(
            "cent_ix", F.row_number().over(cw) - 1
        )
    else:
        # The kernel needs the codebook matrix on the driver anyway, so
        # ONE bounded collect (c rows ≈ √n·512 B adaptive) serves both
        # the kernel closure and — below the shipping bound — a LOCAL
        # cents frame for the probe/lookup consumers, removing the
        # TakeOrdered-over-the-corpus pass + rank window every
        # downstream broadcast re-plans (measured faster across the
        # family, SCALE.md §Round 15).
        import numpy as np

        rows = sorted(
            base.orderBy("vec_id").limit(n_centroids).collect(),
            key=lambda r: r["vec_id"],
        )
        C = np.array(
            [[r[f"v_{i}"] for i in range(dim)] for r in rows],
            dtype=np.float64,
        )
        ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
        cix = np.arange(C.shape[0], dtype=np.int64)
        cmat = (C, cix)
        if C.nbytes <= CODEBOOK_CLOSURE_MAX_BYTES:
            cents = _local_cents_frame(
                base.sparkSession,
                [("cent_id", "bigint", ids), ("cent_ix", "int", cix)],
                "c",
                C,
            )
        else:
            cents = (
                base.orderBy("vec_id")
                .limit(n_centroids)
                .selectExpr("vec_id AS cent_id", *rename_exprs("v", "c", dim))
                .withColumn("cent_ix", F.row_number().over(cw) - 1)
            )
    # ARGMAX AS A PACKED-LONG MAX, in one Arrow-batched numpy pass per
    # partition (_assign_cells_arrow). Ordering is EXACTLY
    # (sim desc, cent_id asc): nanos = round(sim*1e9) is the same
    # monotone key the oracle's ROUND(sim, 9) ordering uses, and
    # (2^20 - cent_ix) in the low 21 bits breaks ties toward the
    # LOWEST centroid (cent_ix is monotone in cent_id). Bound:
    # (1e9 + 1e9) * 2^21 = 4.2e15 << 2^63; the tie-break field holds
    # any c ≤ 2^20 centroids. A max over one long is associative,
    # which is what lets the kernel cut centroids into blocks. This
    # is the "built-ins can't express it efficiently" case the
    # pandas-UDF escape hatch exists for: the op is a dense matmul,
    # and the JVM cross-join form (n·c rows of 2·dim doubles, ~90 GB
    # at the 100× decade) measured 72.6 s vs ~4 s for the same
    # 89M-pair assignment (SCALE.md §Round 14).
    cells = _assign_cells_arrow(base, cents, dim, with_sim=with_sim, cmat=cmat)
    assigned = base.join(cells, "vec_id") if with_vectors else cells
    return base, cents, assigned


def ivf_topk(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = 5,
    n_centroids: int | None = 16,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str = "first",
    dim: int = DIM,
    n_vectors: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: assign every vector to its nearest
    centroid cell (:func:`ivf_assign`); a query searches its
    ``nprobe`` nearest cells. nprobe > 1 recovers the boundary
    neighbors a single-cell probe misses (a vector just across the
    Voronoi edge), at a linear cost multiplier on the candidate set —
    the standard IVF recall knob. The per-pair search space shrinks
    from O(N) to O(nprobe·N/n_centroids) and the cell join shuffles
    on an int key; centroid-mode trade-offs in :func:`ivf_assign`.
    ``n_vectors``: corpus size known to the caller (e.g. parquet
    footer) — skips ivf_assign's count job for the adaptive
    codebook."""
    from pyspark.sql import Window

    if n_centroids is None and n_vectors is not None:
        n_centroids, _ = adaptive_codebook(n_vectors)
    base, cents, assigned = ivf_assign(
        embeddings, n_centroids, id_col, vec_col, centroids, dim,
        n_rows=n_vectors,
    )
    # queries probe their nprobe nearest cells; data vectors live in
    # exactly one cell, so (query, candidate) pairs stay unique without
    # a dedup pass.
    # RENAME FIRST, THEN COMPUTE (the constraint-bomb rule from
    # norm_cols): cent_sim is an aliased wide expression, so every
    # column it references must already carry its final name — a
    # rename AFTER this projection would close the 128-attribute
    # constraint over each alias.
    w = Window.partitionBy("query_id").orderBy(F.desc("cent_sim"), F.asc("cent_id"))
    sim = F.expr(
        f"ROUND({dot_cols('q', 'c', dim)}"
        f" / ({norm_cols('q', dim)} * {norm_cols('c', dim)}), 9)"
    )
    qvecs = base.where(query_pred).selectExpr(
        "vec_id AS query_id", *rename_exprs("v", "q", dim)
    )
    # The probe rank runs on the NARROW (query_id, cent_id, cent_sim)
    # frame and the query vectors re-join AFTER the nprobe cut
    # (round 9): carrying q_0..q_63 through the window shuffled
    # queries·c rows of 64 doubles through the sort — ~1.8 GB at the
    # 100× decade (5k queries × 707 cells) vs ~84 MB narrow. Both
    # sides of the re-join are the same tiny filtered slice of the
    # checkpointed base, so the extra join broadcasts.
    probes = (
        qvecs.join(F.broadcast(cents), how="cross")
        .select(
            "query_id",
            "cent_id",
            F.col("cent_ix").alias("qcell"),
            sim.alias("cent_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= nprobe)
        .select("query_id", "qcell")
    )
    q = probes.join(F.broadcast(qvecs), "query_id")
    cand = F.broadcast(q).join(
        assigned,
        (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
    )
    cosine = F.expr(
        f"ROUND({dot_cols('q', 'v', dim)}"
        f" / ({norm_cols('q', dim)} * {norm_cols('v', dim)}), 9)"
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        cand.select("query_id", "vec_id", cosine.alias("cosine"))
        .withColumn("rk", F.row_number().over(wq))
        .where(F.col("rk") <= k)
    )


def ivf_filtered_topk(
    embeddings: DataFrame,
    query_pred: Column,
    label_col: str = "label",
    k: int = 10,
    n_centroids: int | None = None,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
    n_vectors: int | None = None,
) -> DataFrame:
    """INDEXED filtered vector search — the 100 TB path the exact
    yardstick's docstring (plans/datapipe.ann_filtered_topk) promises:
    the metadata predicate ("same label as the query") is pushed INTO
    the IVF cell scan. Assign once (the shared ivf_assign kernel, the
    label riding the wide frame as a narrow extra column), then the
    candidate join's equi-key is the COMPOSITE (cell, label): a
    posting that fails the predicate misses the broadcast hash table
    and is dropped before the ``dim``-term cosine ever evaluates —
    pre-filter, not post-filter, at index-probe cost. On a real
    cluster the same plan reads as: partition postings by
    (cell, label), probe only matching partitions.

    Cost shape vs the exact yardstick: the yardstick's pair stream is
    Σ_label |Q_l|·|N_l| (quadratic in n when queries ∝ n — its
    measured 57× decade factor at 100×); this plan's is
    Σ_q |probed cells ∩ label| ≈ q·nprobe·n/(c·L) with c = isqrt(n)
    adaptive — the ivf_topk scaling class. RECALL is vs the filtered
    ground truth: a same-label neighbor hiding outside the probed
    cells is missed — measured against the exact yardstick in
    SCALE.md §ANN recall (the filtered candidate pool per cell is
    ~1/L of unfiltered, so equal-nprobe recall sits slightly below
    unfiltered IVF's; raise nprobe to buy it back).

    Determinism: identical ordering contract to ivf_topk
    (ROUND(sim,9) DESC, id ASC everywhere); the label equality is
    exact integer/string comparison on both engines."""
    from pyspark.sql import Window

    if n_centroids is None and n_vectors is not None:
        n_centroids, _ = adaptive_codebook(n_vectors)
    base, cents, assigned = ivf_assign(
        embeddings,
        n_centroids,
        id_col,
        vec_col,
        "first",
        dim,
        n_rows=n_vectors,
        extra_cols=(label_col,),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cent_sim"), F.asc("cent_id")
    )
    sim = F.expr(
        f"ROUND({dot_cols('q', 'c', dim)}"
        f" / ({norm_cols('q', dim)} * {norm_cols('c', dim)}), 9)"
    )
    qvecs = base.where(query_pred).selectExpr(
        "vec_id AS query_id",
        f"{label_col} AS qlabel",
        *rename_exprs("v", "q", dim),
    )
    # Probe rank on the NARROW frame, query vectors re-joined after
    # the nprobe cut (the ivf_topk round-9 shape — windowing 64
    # doubles per row through the sort is pure payload).
    probes = (
        qvecs.join(F.broadcast(cents), how="cross")
        .select(
            "query_id",
            "cent_id",
            F.col("cent_ix").alias("qcell"),
            sim.alias("cent_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= nprobe)
        .select("query_id", "qcell")
    )
    q = probes.join(F.broadcast(qvecs), "query_id")
    # COMPOSITE equi-key (cell, label): the label predicate is part of
    # the hash-join key itself — failing postings never reach the
    # cosine projection.
    cand = F.broadcast(q).join(
        assigned,
        (F.col("cell") == F.col("qcell"))
        & (F.col(label_col) == F.col("qlabel"))
        & (F.col("vec_id") != F.col("query_id")),
    )
    cosine = F.expr(
        f"ROUND({dot_cols('q', 'v', dim)}"
        f" / ({norm_cols('q', dim)} * {norm_cols('v', dim)}), 9)"
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        cand.select("query_id", "vec_id", cosine.alias("cosine"))
        .withColumn("rk", F.row_number().over(wq))
        .where(F.col("rk") <= k)
    )


def _ivf2_labels_np(Cf, f_ids, Cc, c_ids, c_cix, self_pairs: bool):
    """Fine→coarse labels as one numpy argmax — bit-identical to the
    JVM ``lab_packed`` form (pk = ((round(sim·1e9) + 1e9)·2 + self)
    · 2^21 + (2^20 − co_ix), max per fine centroid): dots and norms
    accumulate i-ascending (per-step IEEE rounding identical to
    dot_cols/norm_cols), HALF_UP nanos via :func:`_half_up_exact`,
    the self bit only in "first" mode (coarse ids are fine ids there;
    trained codebooks are disjoint point sets). The c×c1 matrix is
    driver-tiny at every decade (√n × n^¼). Returns the winning
    co_ix per fine centroid, in fine cent_ix order."""
    import numpy as np

    dim = Cf.shape[1]
    facc = np.zeros(Cf.shape[0])
    oacc = np.zeros(Cc.shape[0])
    for i in range(dim):
        facc += Cf[:, i] * Cf[:, i]
        oacc += Cc[:, i] * Cc[:, i]
    fnorm, onorm = np.sqrt(facc), np.sqrt(oacc)
    accd = np.zeros((Cf.shape[0], Cc.shape[0]))
    for i in range(dim):
        accd += Cf[:, i : i + 1] * Cc[None, :, i]
    sim = accd / (fnorm[:, None] * onorm[None, :])
    nanos = _half_up_exact(sim * 1e9).astype(np.int64)
    self_term = (
        (f_ids[:, None] == c_ids[None, :]).astype(np.int64)
        if self_pairs
        else np.int64(0)
    )
    pk = ((nanos + 1_000_000_000) * 2 + self_term) * 2_097_152 + (
        1_048_576 - c_cix
    )[None, :]
    return (1_048_576 - pk.max(axis=1) % 2_097_152).astype(np.int64)


def _ivf2_assign_arrow(
    base: DataFrame,
    Cf,
    f_cix,
    flab,
    Cc,
    c_cix,
    dim: int,
    cblock: int = 1024,
) -> DataFrame:
    """FUSED two-level IVF assignment: ONE Arrow-batched numpy pass
    computes each vector's coarse cell (vs the c1 coarse centroids)
    and then its fine cell among ONLY the fine centroids labeled with
    that coarse cell — replacing the old stage-2 dataflow (base ⋈ vco
    on vec_id → ⋈ broadcast(fine_lab) on the coarse label → packed
    argmax groupBy(vec_id) → base ⋈ cells on vec_id again), i.e. two
    n-row joins and one n-row exchange, with zero extra passes: the
    kernel emits ``base``'s columns plus ``cell`` directly.

    Scale story UNCHANGED from the broadcast-join form it replaces:
    the flops are the same n·c1·dim (stage 1) + n·(c/c1)·dim average
    (stage 2 — each vector is scored against its coarse group's fine
    centroids only, never all c), and the full fine codebook already
    shipped to every executor as the fine_lab BROADCAST hash relation
    (c·dim doubles); here the same bytes ride the task binary instead
    (TorrentBroadcast, once per executor per stage). Per-group skew
    is the codebook's own balance (c/c1 average), and centroid
    chunking (``cblock``) bounds the per-batch temporaries exactly as
    in :func:`_assign_cells_arrow`.

    Bit-parity discipline identical to :func:`_assign_cells_arrow`
    (i-ascending accumulation, HALF_UP nanos, packed tie-break toward
    the lowest cent_ix); every coarse cell a vector can win is
    guaranteed non-empty (self bit in "first" mode; valid-cell DROP in
    trained mode), so the group lookup is total — a missing group
    would raise, not mis-assign."""
    import numpy as np

    cacc = np.zeros(Cc.shape[0])
    for i in range(dim):
        cacc += Cc[:, i] * Cc[:, i]
    cnorm = np.sqrt(cacc)
    facc = np.zeros(Cf.shape[0])
    for i in range(dim):
        facc += Cf[:, i] * Cf[:, i]
    fnorm = np.sqrt(facc)
    groups = {int(g): np.nonzero(flab == g)[0] for g in np.unique(flab)}
    vcols = [f"v_{i}" for i in range(dim)]
    # Codebook matrices ride the task closure below
    # CODEBOOK_CLOSURE_MAX_BYTES (the fine book is c·dim·8 B ≈
    # √n·512 B — ~51 MB at n = 10^10), an explicit broadcast above it
    # (n ≳ 1.7×10^10 adaptive — round 15, see the constant). The
    # derived 1-D state (norms, labels, group index) is c·8 B-scale
    # and stays in the closure either way.
    carrier = _CodebookCarrier(
        base.sparkSession.sparkContext, (Cf, Cc)
    )

    def fn(batches):
        Cf, Cc = carrier()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = pdf[vcols].to_numpy(dtype=np.float64)
            m = V.shape[0]
            accn = np.zeros(m)
            for i in range(dim):
                accn += V[:, i] * V[:, i]
            vnorm = np.sqrt(accn)[:, None]
            best = None
            for s in range(0, Cc.shape[0], cblock):
                Cb = Cc[s : s + cblock]
                accd = np.zeros((m, Cb.shape[0]))
                for i in range(dim):
                    accd += V[:, i : i + 1] * Cb[None, :, i]
                sim = accd / (vnorm * cnorm[None, s : s + cblock])
                nanos = _half_up_exact(sim * 1e9).astype(np.int64)
                pk = (nanos + 1_000_000_000) * 2_097_152 + (
                    1_048_576 - c_cix[s : s + cblock]
                )[None, :]
                bb = pk.max(axis=1)
                best = bb if best is None else np.maximum(best, bb)
            vco = 1_048_576 - (best % 2_097_152)
            cell = np.empty(m, dtype=np.int64)
            for g in np.unique(vco):
                rows = np.nonzero(vco == g)[0]
                idx = groups[int(g)]
                Vg = V[rows]
                ng = rows.shape[0]
                bestg = None
                for s in range(0, idx.shape[0], cblock):
                    ib = idx[s : s + cblock]
                    Cb = Cf[ib]
                    accd = np.zeros((ng, ib.shape[0]))
                    for i in range(dim):
                        accd += Vg[:, i : i + 1] * Cb[None, :, i]
                    sim = accd / (vnorm[rows] * fnorm[None, ib])
                    nanos = _half_up_exact(sim * 1e9).astype(np.int64)
                    pk = (nanos + 1_000_000_000) * 2_097_152 + (
                        1_048_576 - f_cix[ib]
                    )[None, :]
                    bb = pk.max(axis=1)
                    bestg = bb if bestg is None else np.maximum(bestg, bb)
                cell[rows] = 1_048_576 - (bestg % 2_097_152)
            yield pdf.assign(cell=cell)

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in base.schema.fields
    )
    return base.mapInPandas(fn, schema=schema + ", cell bigint")


def ivf2_topk(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = 5,
    p1: int = 2,
    p2: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
    n_vectors: int | None = None,
    centroids: str = "first",
) -> DataFrame:
    """HIERARCHICAL two-level IVF ANN — the documented escape hatch
    past the flat index's centroid-closure ceiling (SCALE.md: flat
    c = isqrt(n) stops scaling near c ≈ 10⁵–10⁶, i.e. n ≈ 10¹⁰–10¹²,
    because every assignment task must hold the full c×dim centroid
    matrix). Structure:

    - c  = max(16, isqrt(n)) FINE cells (adaptive_codebook — same
      formula as the flat index);
    - c1 = max(4, isqrt(c)) COARSE cells (adaptive_coarse); each fine
      centroid is labeled with its nearest coarse centroid;
    - a vector assigns to its nearest coarse cell first, then to the
      nearest FINE centroid within that coarse cell;
    - a query probes its ``p1`` nearest coarse cells, then the ``p2``
      best fine cells among them, then exact-cosine re-ranks the
      vectors of those fine cells.

    Scale shape: BOTH assignment stages run in one fused Arrow pass
    (:func:`_ivf2_assign_arrow`, round 14 — it replaced a stage-2
    broadcast join + packed-argmax groupBy plus two n-row vec_id
    joins): each vector is scored against the c1 coarse centroids,
    then against ONLY its coarse cell's fine centroids — n·c1·dim +
    n·(c/c1)·dim ≈ 2·n·√c·dim flops, vs the flat index's n·c·dim (at
    n = 10¹⁰: 10⁵ fine cells, 316 coarse; ≈ 6×10¹² pair-terms vs the
    flat 10¹⁵). The fine codebook rides the task binary (c·dim
    doubles — the SAME bytes the replaced form broadcast to every
    executor as the fine_lab hash relation, minus the hash overhead):
    c·dim·8 B ≈ √n·512 B, ~51 MB at n = 10¹⁰ — bounded by
    CODEBOOK_CLOSURE_MAX_BYTES (64 MiB), past which (n ≳ 1.7×10¹⁰,
    where the matrix would grow toward ~0.5 GB at n = 10¹²) the
    kernel auto-switches to an explicit Spark broadcast
    (_CodebookCarrier, round 15); the driver-side bounded collect
    that builds the matrix carries the same √n·512 B bound.
    The probe tail is the ivf_topk shape on the fine-cell int key.
    Recall sits below the flat index at equal (p1·p2) because a near
    neighbor can hide across a coarse boundary — the standard
    two-level trade, measured next to the flat curve in SCALE.md.

    Determinism ("first" mode, the oracle-pinned default): lowest-id
    centroids at both levels, all similarity ranks ordered
    (ROUND(sim, 9) DESC, centroid id ASC) — the whole index is
    oracle-reproducible in SQL. The coverage invariant (every coarse
    cell a vector can assign to holds ≥1 fine centroid) is guaranteed
    by the SELF bit in the label argmax: coarse centroids ARE fine
    centroids under lowest-id prefixes, so each labels to itself.

    ``centroids="kmeans"`` (the TRAINED production path, mirroring
    ivf_assign's): both codebooks are MLlib KMeans fits (fixed seed),
    FAISS-style — the coarse quantizer trains on the data, not on the
    fine centroids. Trained coarse/fine codebooks are disjoint point
    sets, so the self-bit cannot apply; instead the build DROPS empty
    coarse cells from the assignment/probe space (vectors and queries
    only ever see coarse cells that own fine centroids), which
    restores the same invariant. Seed-pinned, test-asserted
    (test_ivf2_fine_labels_cover_every_coarse_cell / _kmeans)."""
    from pyspark.sql import Window

    import numpy as np

    n = embeddings.count() if n_vectors is None else n_vectors
    c, _ = adaptive_codebook(n)
    c1 = adaptive_coarse(c)

    # Checkpointed scalar-column layout (same construction ivf_assign
    # uses); consumed by the fused assignment kernel and the query
    # probe frames.
    base = wide_base(embeddings, id_col, vec_col, dim, n_rows=n).localCheckpoint(
        eager=False
    )
    cw = Window.orderBy("cent_id")
    if centroids == "kmeans":
        coarse = _kmeans_cents(base, c1, dim).withColumn(
            "cent_ix", F.row_number().over(cw) - 1
        )
        fine = _kmeans_cents(base, c, dim).withColumn(
            "cent_ix", F.row_number().over(cw) - 1
        )
        frows = sorted(fine.collect(), key=lambda r: r["cent_ix"])
        Cf = np.array(
            [[r[f"c_{i}"] for i in range(dim)] for r in frows], dtype=np.float64
        )
        f_ids = np.array([r["cent_id"] for r in frows], dtype=np.int64)
        crows = sorted(coarse.collect(), key=lambda r: r["cent_ix"])
        Cc = np.array(
            [[r[f"c_{i}"] for i in range(dim)] for r in crows], dtype=np.float64
        )
        c_ids = np.array([r["cent_id"] for r in crows], dtype=np.int64)
        self_pairs = False
    else:
        # Fine codebook: first c lowest-id vectors, dense cent_ix (same
        # construction as ivf_assign's); coarse = the c1-prefix of the
        # SAME lowest-id ordering, so ONE bounded collect (c rows, the
        # exact payload _assign_cells_arrow collects on the flat path)
        # serves both codebook levels of the fused kernel AND the
        # local probe-side frames below — the JVM fine/coarse frames
        # are only built on the above-bound fallback path.
        fine = coarse = None
        rows = sorted(
            base.orderBy("vec_id").limit(c).collect(), key=lambda r: r["vec_id"]
        )
        Cf = np.array(
            [[r[f"v_{i}"] for i in range(dim)] for r in rows], dtype=np.float64
        )
        f_ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
        Cc, c_ids = Cf[:c1], f_ids[:c1]
        self_pairs = True
    f_cix = np.arange(Cf.shape[0], dtype=np.int64)
    c_cix = np.arange(Cc.shape[0], dtype=np.int64)
    # Fine→coarse labels, computed ONCE in numpy for the kernel —
    # bit-identical to the JVM lab_packed argmax below (parity pinned
    # by test_ivf2_fused_assignment_matches_jvm); the JVM labels frame
    # remains the probe side's source so the executed probe plan is
    # unchanged.
    flab = _ivf2_labels_np(Cf, f_ids, Cc, c_ids, c_cix, self_pairs)
    if centroids == "kmeans":
        # Drop empty coarse cells BEFORE any assignment/probe: vectors
        # and queries only ever see coarse cells that own ≥1 fine
        # centroid, restoring the coverage invariant the self bit
        # provides in "first" mode. The valid set is ≤ c1 ints,
        # computed from flab (bit-identical to the JVM labels argmax —
        # test_ivf2_fused_assignment_matches_jvm).
        valid = np.unique(flab)
        keep = np.isin(c_cix, valid)
        Cc_a, c_cix_a, c_ids_a = Cc[keep], c_cix[keep], c_ids[keep]
    else:
        Cc_a, c_cix_a, c_ids_a = Cc, c_cix, c_ids
    if Cf.nbytes + Cc.nbytes <= CODEBOOK_CLOSURE_MAX_BYTES:
        # PROBE-SIDE LOCALIZATION (round 15): the coarse frame and the
        # labeled fine codebook are LOCAL relations built from the
        # driver rows the fused kernel already collected, with the
        # fine→coarse labels from the SAME numpy argmax the kernel
        # uses (parity vs the JVM lab_packed form pinned by
        # test_ivf2_fused_assignment_matches_jvm). This removes two
        # corpus-sized TakeOrdered passes (the JVM fine/coarse scans),
        # their single-partition rank windows, and the c×c1
        # cross-join + groupBy labels chain from the executed plan —
        # the probe side now starts from two LocalTableScans. Values
        # are the same collected doubles, so results are bit-identical.
        spark = embeddings.sparkSession
        co = _local_cents_frame(
            spark,
            [("co_id", "bigint", c_ids_a), ("co_ix", "int", c_cix_a)],
            "o",
            Cc_a,
        )
        fine_lab = _local_cents_frame(
            spark,
            [
                ("cent_ix", "int", f_cix),
                ("cent_id", "bigint", f_ids),
                ("co_ix", "bigint", flab),
            ],
            "c",
            Cf,
        )
    else:
        # Above the closure bound (n ≳ 1.7×10¹⁰ — the
        # CODEBOOK_CLOSURE_MAX_BYTES math): keep the computed-frame
        # probe side so tens of MB never embed into the plan; the
        # kernel side switches to an explicit broadcast at the same
        # bound (_CodebookCarrier).
        if fine is None:
            fine = (
                base.orderBy("vec_id")
                .limit(c)
                .selectExpr("vec_id AS cent_id", *rename_exprs("v", "c", dim))
                .withColumn("cent_ix", F.row_number().over(cw) - 1)
            )
            coarse = (
                base.orderBy("vec_id")
                .limit(c1)
                .selectExpr("vec_id AS cent_id", *rename_exprs("v", "c", dim))
                .withColumn("cent_ix", F.row_number().over(cw) - 1)
            )
        # Coarse centroids in o_-prefixed layout for joins against
        # frames carrying c_-named fine centroids or v_-named vectors.
        co = coarse.selectExpr(
            "cent_id AS co_id",
            "cent_ix AS co_ix",
            *[f"c_{i} AS o_{i}" for i in range(dim)],
        )
        # Fine -> coarse labels: c×c1 pairs, packed-long argmax ordered
        # (sim desc, SELF first, co_id asc via the dense monotone
        # co_ix). The SELF bit guarantees every coarse centroid (also a
        # fine centroid — both are lowest-id prefixes) labels to ITSELF
        # even when two coarse centroids' cosines tie at 9 dp: without
        # it, a coarse cell could end up with zero fine centroids while
        # vectors still coarse-assign to it, and the stage-2 inner join
        # would silently drop those vectors from the index (round-10
        # review finding). Bound: (2e9·2 + 1)·2^21 ≈ 8.4e15 « 2^63.
        # In kmeans mode the ids are synthetic and unrelated across
        # levels, so the self term is hard-zero — validity comes from
        # the empty-cell DROP instead.
        lab_raw = (
            f"{dot_cols('c', 'o', dim)}"
            f" / ({norm_cols('c', dim)} * {norm_cols('o', dim)})"
        )
        self_term = (
            "(CASE WHEN cent_id = co_id THEN 1L ELSE 0L END)"
            if centroids != "kmeans"
            else "0L"
        )
        lab_packed = F.expr(
            f"((CAST(ROUND(({lab_raw}) * 1000000000) AS BIGINT) + 1000000000L) * 2"
            f" + {self_term})"
            f" * 2097152L + (1048576L - co_ix)"
        )
        labels = (
            fine.join(F.broadcast(co), how="cross")
            .select("cent_ix", lab_packed.alias("pk"))
            .groupBy("cent_ix")
            .agg(F.max("pk").alias("pk"))
            .select(
                "cent_ix",
                (
                    F.lit(1048576).cast("bigint")
                    - F.pmod(F.col("pk"), F.lit(2097152))
                ).alias("co_ix"),
            )
        )
        if centroids == "kmeans":
            coarse_valid = coarse.join(
                F.broadcast(
                    labels.select(F.col("co_ix").alias("cent_ix")).distinct()
                ),
                "cent_ix",
            )
            co = coarse_valid.selectExpr(
                "cent_id AS co_id",
                "cent_ix AS co_ix",
                *[f"c_{i} AS o_{i}" for i in range(dim)],
            )
        # Labeled fine codebook for the QUERY probe side only (the
        # fused kernel owns both assignment stages); single consumer,
        # so no checkpoint — one broadcast build.
        fine_lab = fine.join(F.broadcast(labels), "cent_ix")
    # Both assignment stages (vector → coarse cell → fine cell within
    # that coarse cell) run in ONE Arrow pass; the kernel emits base's
    # columns + cell directly, so no join re-attaches the vectors.
    assigned = _ivf2_assign_arrow(base, Cf, f_cix, flab, Cc_a, c_cix_a, dim)

    # Query probes: top-p1 coarse cells, then top-p2 fine cells among
    # the fine centroids of those coarse cells. The query set is small
    # by construction, so q vectors ride the probe frames (broadcast).
    qvecs = base.where(query_pred).selectExpr(
        "vec_id AS query_id", *rename_exprs("v", "q", dim)
    )
    co_sim = F.expr(
        f"ROUND({dot_cols('q', 'o', dim)}"
        f" / ({norm_cols('q', dim)} * {norm_cols('o', dim)}), 9)"
    )
    w1 = Window.partitionBy("query_id").orderBy(F.desc("co_sim"), F.asc("co_id"))
    qco = (
        qvecs.join(F.broadcast(co), how="cross")
        .select("query_id", *[f"q_{i}" for i in range(dim)], "co_id", "co_ix",
                co_sim.alias("co_sim"))
        .withColumn("rn", F.row_number().over(w1))
        .where(F.col("rn") <= p1)
        .drop("rn", "co_sim", "co_id")
    )
    f_sim = F.expr(
        f"ROUND({dot_cols('q', 'c', dim)}"
        f" / ({norm_cols('q', dim)} * {norm_cols('c', dim)}), 9)"
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("f_sim"), F.asc("cent_id"))
    qf = (
        qco.join(F.broadcast(fine_lab), "co_ix")
        .select("query_id", "cent_id", F.col("cent_ix").alias("qcell"),
                f_sim.alias("f_sim"))
        .withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= p2)
        .select("query_id", "qcell")
    )
    # Exact re-rank over the probed fine cells (a vector lives in
    # exactly one fine cell, so pairs are unique without a dedup).
    q = qf.join(F.broadcast(qvecs), "query_id")
    cand = F.broadcast(q).join(
        assigned,
        (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
    )
    cosine = F.expr(
        f"ROUND({dot_cols('q', 'v', dim)}"
        f" / ({norm_cols('q', dim)} * {norm_cols('v', dim)}), 9)"
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        cand.select("query_id", "vec_id", cosine.alias("cosine"))
        .withColumn("rk", F.row_number().over(wq))
        .where(F.col("rk") <= k)
    )


def _semdedup_cells_arrow(
    assigned: DataFrame, threshold: float, dim: int
) -> DataFrame:
    """Within-cell SemDeDup pass as per-cell Arrow groups: each cell's
    vectors arrive as ONE pandas batch (applyInPandas over the int
    cell key), the m×m cosine block is computed with chunked ordered-
    accumulation matmuls, and the per-vector aggregates (lower-id
    neighbor count, max similarity) come out directly — the Σ|cell|²
    pair stream never exists as rows. Bit-parity discipline as in
    :func:`_assign_cells_arrow`: i-ascending accumulation for dots
    and norms, ROUND(x, 9) as exact-HALF_UP on the 1e9-scaled double
    (= DuckDB's std::round(value·10⁹)/10⁹ bit-for-bit), ids sorted so
    "lower-id neighbor" is a triangular mask. max_sim is emitted as
    -inf for no-neighbor rows and nulled in a Spark projection (Arrow
    would ship NaN as NaN, not SQL NULL).

    Skew note: one GROUP cannot be split across tasks (unlike the
    equi-join form, where AQE skew-splits a hot cell), so a
    pathologically dense semantic mode serializes its m² block on one
    core — m ≈ √n under the adaptive-c codebook (~450 at the 100×
    decade, a few ms of numpy), and the join form stays available via
    ``impl="join"`` for corpora that defeat the balance argument."""
    import numpy as np

    vcols = [f"v_{i}" for i in range(dim)]
    thr = float(threshold)

    def fn(pdf):
        pdf = pdf.sort_values("vec_id")
        V = pdf[vcols].to_numpy(dtype=np.float64)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        m = V.shape[0]
        accn = np.zeros(m)
        for i in range(dim):
            accn += V[:, i] * V[:, i]
        norm = np.sqrt(accn)
        n_dup = np.zeros(m, dtype=np.int64)
        max_sim = np.full(m, -np.inf)
        ch = 512
        colg = np.arange(m)[None, :]
        for s in range(0, m, ch):
            Vb = V[s : s + ch]
            mb = Vb.shape[0]
            accd = np.zeros((mb, m))
            for i in range(dim):
                accd += Vb[:, i : i + 1] * V[None, :, i]
            sim = accd / (norm[s : s + ch, None] * norm[None, :])
            sim9 = _half_up_exact(sim * 1e9) / 1e9
            valid = colg < (s + np.arange(mb))[:, None]
            hit = (sim9 >= thr) & valid
            n_dup[s : s + ch] = hit.sum(axis=1)
            max_sim[s : s + ch] = np.where(hit, sim9, -np.inf).max(
                axis=1, initial=-np.inf
            )
        import pandas as pd

        return pd.DataFrame(
            {"vec_id": ids, "n_dup_lower": n_dup, "max_sim_lower": max_sim}
        )

    out = assigned.select("vec_id", "cell", *vcols).groupBy("cell").applyInPandas(
        fn, schema="vec_id bigint, n_dup_lower bigint, max_sim_lower double"
    )
    return out.select(
        "vec_id",
        "n_dup_lower",
        F.when(F.col("n_dup_lower") > 0, F.col("max_sim_lower")).alias(
            "max_sim_lower"
        ),
        (F.col("n_dup_lower") == 0).alias("kept"),
    )


def semantic_dedup_frame(
    embeddings: DataFrame,
    threshold: float = 0.7,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str = "first",
    dim: int = DIM,
    impl: str = "auto",
    preassigned: "tuple[DataFrame, DataFrame, DataFrame] | None" = None,
    n_rows: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then compare
    pairs ONLY within a cluster cell and drop every vector that has a
    lower-id in-cell neighbor with cosine ≥ ``threshold``. The kept
    row of each semantic-duplicate neighborhood is its lowest id —
    deterministic, so the whole operator is oracle-reproducible.

    Returns one row per input vector: ``(vec_id, n_dup_lower,
    max_sim_lower, kept)`` where ``n_dup_lower`` counts the lower-id
    in-cell neighbors at or above the threshold and ``kept`` marks
    the representatives (n_dup_lower == 0).

    Scale shape: the cell assignment is :func:`ivf_assign` (one
    Arrow pass, packed-long argmax — measured at the 100x decade);
    the pairwise stage is a SELF-JOIN ON THE INT CELL
    KEY, so the candidate space is Σ|cell|² ≈ n²/c instead of n².
    With the adaptive c = max(16, isqrt(n)) codebook that is ~n^1.5
    comparisons total and expected per-cell occupancy √n — the same
    occupancy-balance argument the ANN path uses, and exactly the
    trick SemDeDup itself relies on to run at web scale. Skewed cells
    (a dense semantic mode) are an AQE skew-join case: the join key
    is a plain int, so runtime skew splitting applies. No stage ever
    shuffles more than the wide base once."""
    # "auto" picks the pair-stage implementation by corpus size, the
    # adaptive-parameter discipline the index parameters already
    # follow (both paths are BIT-IDENTICAL — parity-pinned by test):
    # - "join" (small n): the equi-join pair stream; cheapest at bench
    #   scale (measured 1.95s vs 2.52s at n=2k — the grouped form pays
    #   a cell shuffle + Python worker round-trip) and AQE-skew-
    #   splittable.
    # - "arrow" (large n): per-cell Arrow groups aggregate the
    #   within-cell block locally, so the Σ|cell|² pair stream (89M
    #   rows × 130 doubles at the 100× decade in the join form) never
    #   exists as rows — measured 13.4s → 8.4s at 200k vectors.
    # Crossover measured between 20k (join 2.41 vs arrow 2.60) and
    # 200k; the threshold sits at 50k. The count doubles as the
    # adaptive-c input so ivf_assign does not recount.
    n = n_rows
    if impl == "auto" or n_centroids is None:
        if n is None:
            n = embeddings.count()
        if impl == "auto":
            impl = "arrow" if n >= 50_000 else "join"
        if n_centroids is None:
            n_centroids, _ = adaptive_codebook(n)
    # ``preassigned``: a (base, cents, assigned) trio from a caller
    # that already ran ivf_assign on the SAME corpus/codebook (the D4
    # composition shares one assignment between its SemDeDup and
    # prototype stages) — values are identical either way, this only
    # avoids a second assignment pass.
    if preassigned is not None:
        base, cents, assigned = preassigned
    else:
        base, cents, assigned = ivf_assign(
            embeddings, n_centroids, id_col, vec_col, centroids, dim,
            n_rows=n,
        )
    if impl == "arrow":
        return _semdedup_cells_arrow(assigned, threshold, dim)
    # LAZY RDD PERSIST before the self-join: the two join sides are
    # rename-divergent copies of `assigned`, so canonical-plan
    # matching finds no ReusedExchange and the 100x plan ran the
    # assignment TWICE (measured in the round-8 profile). localCheckpoint dedupes every consumer at RDD level
    # (the column-pruning lesson — cache() would serve cross-run hits
    # inside bench's min-of-n loop).
    ck = assigned.localCheckpoint(eager=False)
    # Norms ONCE PER ROW, not per pair: computed inline the pair
    # stage re-ran both 64-term norms for every candidate pair —
    # 128 of 192 float terms per pair were redundant. Alias the norm
    # AFTER all renames (the constraint-closure rule: rename first,
    # then compute wide expressions; inputs are non-nullable so no
    # isnotnull constraint is generated for the alias).
    hi = ck.selectExpr(
        "vec_id",
        "cell",
        *[f"v_{i}" for i in range(dim)],
        f"{norm_cols('v', dim)} AS nv",
    )
    lo = ck.selectExpr(
        "vec_id AS lo_id", "cell AS lo_cell", *rename_exprs("v", "u", dim)
    ).selectExpr(
        "lo_id",
        "lo_cell",
        *[f"u_{i}" for i in range(dim)],
        f"{norm_cols('u', dim)} AS nu",
    )
    cosine = F.expr(
        f"ROUND({dot_cols('v', 'u', dim)} / (nv * nu), 9)"
    )
    pairs = hi.join(
        lo,
        (F.col("cell") == F.col("lo_cell")) & (F.col("lo_id") < F.col("vec_id")),
    ).select("vec_id", cosine.alias("cosine"))
    # Threshold as CONDITIONAL AGGREGATES, not a where(): a filter on
    # the derived cosine column would be pushed below the projection
    # with the whole dot/norm tree INLINED (the round-3 pushdown
    # bomb), evaluating every pair's cosine twice. Conditional sums
    # reference the projected column once; the n_dup_lower > 0 gate
    # above the aggregation is equivalent to the pair filter because
    # absent groups and zero-count groups both coalesce to 0/kept.
    hit = F.col("cosine") >= threshold
    dup = (
        pairs.groupBy("vec_id")
        .agg(
            F.sum(hit.cast("bigint")).alias("n_dup_lower"),
            F.max(F.when(hit, F.col("cosine"))).alias("max_sim_lower"),
        )
        .where(F.col("n_dup_lower") > 0)
    )
    ids = embeddings.select(F.col(id_col).alias("vec_id"))
    return ids.join(dup, "vec_id", "left").select(
        "vec_id",
        F.coalesce(F.col("n_dup_lower"), F.lit(0)).cast("bigint").alias(
            "n_dup_lower"
        ),
        "max_sim_lower",
        F.col("n_dup_lower").isNull().alias("kept"),
    )


# --- Product quantization (PQ): 4-bit codes over 8 subspaces — the
# --- memory-compression member of the ANN family (FAISS IVFPQ shape).

PQ_M = 8  # subspaces (dim 64 -> 8 dims each)
PQ_KS = 16  # centroids per subspace -> 4-bit codes, 8*4 = 32 bits/vector


def pq_codebook(
    base: DataFrame, dim: int = DIM, n_sub: int = PQ_M, ks: int = PQ_KS
) -> DataFrame:
    """Deterministic PQ codebook: subspace m's centroids are the m-th
    subvectors of the ``ks`` lowest-id vectors (the IVF "first" mode
    discipline — oracle-reproducible where a trained codebook is not;
    a k-means codebook slots into the same frame shape). Returns
    (m, c, pc_0..pc_{ds-1}) with c dense 0-based per subspace."""
    from pyspark.sql import Window

    ds = dim // n_sub
    first = base.orderBy("vec_id").limit(ks)
    parts = [
        first.selectExpr(
            "vec_id",
            f"CAST({m} AS INT) AS m",
            *[f"v_{m * ds + j} AS pc_{j}" for j in range(ds)],
        )
        for m in range(n_sub)
    ]
    cb = parts[0]
    for p in parts[1:]:
        cb = cb.unionByName(p)
    cw = Window.partitionBy("m").orderBy("vec_id")
    return cb.withColumn("c", F.row_number().over(cw) - 1).drop("vec_id")


def pq_literals(
    cb: DataFrame, n_sub: int = PQ_M, ks: int = PQ_KS
) -> dict[tuple[int, int], list[float]]:
    """Collect the PQ codebook to driver-side literals — M·ks rows
    (128 at the defaults), bounded by construction like the bloom
    bitmap / BPE type-table collects. Python floats ARE IEEE doubles,
    so the collected values are bit-identical to the frame's."""
    ds = len([c for c in cb.columns if c.startswith("pc_")])
    assert ds > 0
    return {
        (r["m"], r["c"]): [r[f"pc_{j}"] for j in range(ds)]
        for r in cb.collect()
    }


def pq_literals_from_base(
    base: DataFrame, dim: int = DIM, n_sub: int = PQ_M, ks: int = PQ_KS
) -> dict[tuple[int, int], list[float]]:
    """Same literals as ``pq_literals(pq_codebook(base))`` — the m-th
    subspace's centroid c is the m-th subvector of the (c+1)-lowest-id
    vector — via ONE TakeOrdered job over ks rows instead of the
    codebook frame's 8-branch union + window (equality pinned by
    test_pq_literals_paths_agree)."""
    # Driver-side re-sort of the ks collected rows: TakeOrderedAndProject
    # does return them sorted today (pinned by test_pq_literals_paths_
    # agree), but the codebook must not depend on a plan-shape ordering
    # guarantee (round-9 advisor finding) — ks rows, negligible cost.
    rows = sorted(
        base.orderBy("vec_id").limit(ks).collect(), key=lambda r: r["vec_id"]
    )
    ds = dim // n_sub
    # Corpora smaller than ks degrade to fewer centroids — the same
    # graceful behavior the codebook-frame path has (its window just
    # produces fewer rows).
    ks_eff = min(ks, len(rows))
    return {
        (m, c): [rows[c][f"v_{m * ds + j}"] for j in range(ds)]
        for m in range(n_sub)
        for c in range(ks_eff)
    }


def _pq_cb_matrix(
    cb: dict[tuple[int, int], list[float]], n_sub: int, ks: int
):
    """Codebook literals as a (n_sub, ks, ds) float64 matrix."""
    import numpy as np

    ds = len(cb[(0, 0)])
    return np.array(
        [[cb[(m, c)] for c in range(ks)] for m in range(n_sub)],
        dtype=np.float64,
    )


def _pq_dn_block(V, Cm, ds: int):
    """Integer-nano squared L2 of every row of ``V`` (n, ds) against
    every centroid of ``Cm`` (ks, ds): terms accumulated j-ascending
    (0 + t0 == t0 exactly, then left-associated adds — the identical
    IEEE sequence the SQL oracle's ``(s_0-p_0)*(s_0-p_0) + ...``
    states), then HALF_UP nano rounding via _half_up_exact (= Java
    BigDecimal / DuckDB ROUND bit-for-bit). Returns (n, ks) int64."""
    import numpy as np

    acc = np.zeros((V.shape[0], Cm.shape[0]))
    for j in range(ds):
        d = V[:, j : j + 1] - Cm[None, :, j]
        acc += d * d
    return _half_up_exact(acc * 1e9).astype(np.int64)


def pq_encode(
    base: DataFrame,
    cb: "DataFrame | dict[tuple[int, int], list[float]]",
    dim: int = DIM,
    n_sub: int = PQ_M,
    ks: int = PQ_KS,
) -> DataFrame:
    """Encode every vector as one packed bigint of ``n_sub`` 5-bit
    code fields (4 bits used at ks=16): per subspace, the nearest
    centroid by squared L2, ties to the lowest centroid index.

    Plan shape: ONE Arrow-batched numpy pass over the scalar-column
    base (the _assign_cells_arrow discipline — the codebook is M·ks
    driver literals riding the task closure, 4 KB): per subspace the
    (batch × ks) nano-distance block accumulates j-ascending, the
    argmin is a packed-long min (dn·32 + c, ties to the lowest c) and
    the 5-bit fields pack into one int64 — zero joins, zero shuffles.
    Two rejected JVM forms, both measured at sf0.1: (a) union the
    n·M subvector stream + broadcast-join the codebook + two hash
    aggregates — an 8-branch union (512-task stage) and ~3s of stage
    floor; (b) the fused all-literals projection (LEAST over ks packed
    dists × M subspaces inline) — ~10k-node expression whose generated
    method blows past the JIT/Janino method ceilings and silently
    falls back to interpreted row-at-a-time eval, ~1.3 ms/row (6.4 s
    for 5k rows single-task; the round-7 8 KB-cliff pathology in
    expression form). Bound: dn = round(d²·1e9) < 2^45 for |x| ≤ 100
    components, ·32 + c ≪ 2^63.

    BEHAVIOR CHANGE (round 9, kept deliberately): when the supplied
    codebook carries MORE than ``ks`` centroids per subspace, this
    Arrow form encodes against the FIRST ``ks`` only — an explicit
    smaller ks means "encode against the first ks centroids". The
    pre-round-9 join-based form ignored ``ks`` entirely and encoded
    against every codebook row; callers relying on that must pass
    ``ks`` >= the codebook's actual width (repo callers all derive ks
    and codebook from the same adaptive_codebook gate, so they are
    consistent by construction).

    BEHAVIOR CHANGE (round 10, the other direction of the same knob):
    when the codebook carries FEWER than ``ks`` centroids per
    subspace (a corpus smaller than ks), ``ks`` is CLAMPED down to
    the codebook's actual width instead of raising on the missing
    (m, c) keys — the graceful small-corpus degradation the
    codebook-frame path already had. An explicit smaller ks still
    means "first ks centroids"; the clamp never widens it."""
    import numpy as np

    if isinstance(cb, DataFrame):
        cb = pq_literals(cb, n_sub, ks)
    if not cb:
        raise ValueError("pq_encode: empty codebook (no vectors?)")
    ds = dim // n_sub
    # Clamp (never override) the caller's ks: corpora smaller than ks
    # carry fewer centroids, while an explicit smaller ks keeps
    # meaning "encode against the first ks centroids".
    ks = min(ks, 1 + max(c for (_, c) in cb))
    C = _pq_cb_matrix(cb, n_sub, ks)
    vcols = [f"v_{i}" for i in range(dim)]
    shifts = np.arange(n_sub, dtype=np.int64) * 5
    cidx = np.arange(ks, dtype=np.int64)[None, :]

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = pdf[vcols].to_numpy(dtype=np.float64)
            code = np.zeros(V.shape[0], dtype=np.int64)
            for m in range(n_sub):
                dn = _pq_dn_block(V[:, m * ds : (m + 1) * ds], C[m], ds)
                cm = (dn * 32 + cidx).min(axis=1) % 32
                code += cm << shifts[m]
            yield pdf[["vec_id"]].assign(pq_code=code)

    return base.mapInPandas(fn, schema="vec_id bigint, pq_code bigint")


def _pq_assign_encode_arrow(
    base: DataFrame,
    C,
    c_cix,
    Cpq,
    dim: int,
    n_sub: int,
    ks: int,
    cblock: int = 1024,
) -> DataFrame:
    """FUSED IVF-cell assignment + PQ encode: ONE Arrow pass emits
    (vec_id, cell, pq_code) — the cell argmax bit-identical to
    :func:`_assign_cells_arrow` (same chunked packed-long max, same
    HALF_UP nanos, same i-ascending accumulation) and the packed code
    bit-identical to :func:`pq_encode`'s kernel (same
    :func:`_pq_dn_block`, same packed-min tie-break). Replaces TWO
    passes over the checkpointed base plus the n-row codes join that
    re-attached pq_code to the candidate stream (which the planner
    satisfied by BROADCASTING the full n-row codes frame — fine at
    bench scale, a corpus-sized broadcast at 100 TB). Both codebooks
    ride the task closure: c·dim + M·ks·ds doubles — the flat
    assignment closure plus 4 KB — up to CODEBOOK_CLOSURE_MAX_BYTES,
    past which they ship as an explicit broadcast instead
    (n ≳ 1.7×10^10 adaptive — round 15, see the constant)."""
    import numpy as np

    cacc = np.zeros(C.shape[0])
    for i in range(dim):
        cacc += C[:, i] * C[:, i]
    cnorm = np.sqrt(cacc)
    ds = dim // n_sub
    shifts = np.arange(n_sub, dtype=np.int64) * 5
    cidx = np.arange(ks, dtype=np.int64)[None, :]
    vcols = [f"v_{i}" for i in range(dim)]
    carrier = _CodebookCarrier(
        base.sparkSession.sparkContext, (C, Cpq)
    )

    def fn(batches):
        C, Cpq = carrier()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = pdf[vcols].to_numpy(dtype=np.float64)
            m = V.shape[0]
            accn = np.zeros(m)
            for i in range(dim):
                accn += V[:, i] * V[:, i]
            vnorm = np.sqrt(accn)[:, None]
            best = None
            for s in range(0, C.shape[0], cblock):
                Cb = C[s : s + cblock]
                accd = np.zeros((m, Cb.shape[0]))
                for i in range(dim):
                    accd += V[:, i : i + 1] * Cb[None, :, i]
                sim = accd / (vnorm * cnorm[None, s : s + cblock])
                nanos = _half_up_exact(sim * 1e9).astype(np.int64)
                pk = (nanos + 1_000_000_000) * 2_097_152 + (
                    1_048_576 - c_cix[s : s + cblock]
                )[None, :]
                bb = pk.max(axis=1)
                best = bb if best is None else np.maximum(best, bb)
            cell = 1_048_576 - (best % 2_097_152)
            code = np.zeros(m, dtype=np.int64)
            for mi in range(n_sub):
                dn = _pq_dn_block(V[:, mi * ds : (mi + 1) * ds], Cpq[mi], ds)
                cm = (dn * 32 + cidx).min(axis=1) % 32
                code += cm << shifts[mi]
            yield pdf[["vec_id"]].assign(cell=cell, pq_code=code)

    return base.mapInPandas(
        fn, schema="vec_id bigint, cell bigint, pq_code bigint"
    )


def pq_topk(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = 5,
    n_centroids: int | None = None,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
    n_sub: int = PQ_M,
    ks: int = PQ_KS,
    n_vectors: int | None = None,
) -> DataFrame:
    """IVF-PQ ANN (the FAISS IVFPQ composition): IVF cells prune the
    candidate set to O(nprobe·n/c) per query, then candidates are
    scored by ASYMMETRIC DISTANCE COMPUTATION — the query's exact
    subvectors against each candidate's 4-bit PQ codes, i.e. M table
    lookups per pair instead of a dim-term dot product. At 100 TB the
    point is MEMORY: a 64-dim float32 vector is 256 bytes, its PQ
    code is one bigint (32× smaller), so the scored candidate stream
    ships codes, not vectors, and the per-query distance tables
    (n_q · M·ks rows of integer nanos) broadcast.

    Deterministic end-to-end: "first"-mode IVF codebook and PQ
    codebooks, integer-nano distances (round BEFORE summing — the
    plans/_parity.py discipline), ties to the lowest centroid /
    vec_id, so the whole index is oracle-reproducible in SQL.

    Output: (query_id, vec_id, adc_nanos, rk) — the top-k candidates
    per query by approximate distance ASC. ADC is an approximation by
    construction (codes quantize the data side); recall vs exact
    brute force is measured in tools/recall_bench.py, not assumed.

    ``n_vectors``: corpus size known to the caller (e.g. from the
    parquet footer) — skips ivf_assign's count job when sizing the
    adaptive codebook.

    Codebook shipping bound: the IVF matrix is c·dim·8 B ≈ √n·512 B
    at the adaptive c = isqrt(n) (~51 MB at n = 10¹⁰); the fused
    kernel carries it in the task closure up to
    CODEBOOK_CLOSURE_MAX_BYTES (64 MiB) and auto-switches to an
    explicit Spark broadcast past it (n ≳ 1.7×10¹⁰ — _CodebookCarrier,
    round 15). The bounded collect building it driver-side carries
    the same √n·512 B bound."""
    from pyspark.sql import Window

    import numpy as np

    if n_centroids is None:
        if n_vectors is None:
            n_vectors = embeddings.count()
        n_centroids, _ = adaptive_codebook(n_vectors)
    base = wide_base(
        embeddings, id_col, vec_col, dim, n_rows=n_vectors
    ).localCheckpoint(eager=False)
    ds = dim // n_sub
    # ONE bounded collect serves BOTH codebooks: the IVF centroids are
    # the max(c, ks) lowest-id rows' vectors and the PQ codebook is
    # the ks-prefix's subvectors (pq_literals_from_base's construction
    # over the same rows — c = max(16, isqrt(n)) ≥ ks at the adaptive
    # default, so the prefix is free).
    rows = sorted(
        base.orderBy("vec_id").limit(max(n_centroids, ks)).collect(),
        key=lambda r: r["vec_id"],
    )
    if not rows:
        raise ValueError("pq_topk: empty corpus")
    C = np.array(
        [[r[f"v_{i}"] for i in range(dim)] for r in rows[:n_centroids]],
        dtype=np.float64,
    )
    c_cix = np.arange(C.shape[0], dtype=np.int64)
    if C.nbytes <= CODEBOOK_CLOSURE_MAX_BYTES:
        # Probe-side cents as a LOCAL frame from the SAME collected
        # rows (round 15 — the ivf_assign localization; bound math at
        # CODEBOOK_CLOSURE_MAX_BYTES): no TakeOrdered pass + rank
        # window re-planned per broadcast.
        c_ids = np.array(
            [r["vec_id"] for r in rows[: n_centroids]], dtype=np.int64
        )
        cents = _local_cents_frame(
            base.sparkSession,
            [("cent_id", "bigint", c_ids), ("cent_ix", "int", c_cix)],
            "c",
            C,
        )
    else:
        cw = Window.orderBy("cent_id")
        cents = (
            base.orderBy("vec_id")
            .limit(n_centroids)
            .selectExpr("vec_id AS cent_id", *rename_exprs("v", "c", dim))
            .withColumn("cent_ix", F.row_number().over(cw) - 1)
        )
    ks = min(ks, len(rows))  # graceful tiny corpora
    Cpq = np.array(
        [
            [[rows[c][f"v_{m * ds + j}"] for j in range(ds)] for c in range(ks)]
            for m in range(n_sub)
        ],
        dtype=np.float64,
    )
    # Fused assignment + encode: one Arrow pass emits
    # (vec_id, cell, pq_code) — no separate codes frame, no n-row
    # join/broadcast re-attaching codes to candidates.
    assigned = _pq_assign_encode_arrow(
        base, C, c_cix, Cpq, dim, n_sub, ks
    )

    # Query probes: nearest nprobe cells, narrow output (the ivf_topk
    # probe block minus the wide payload — ADC needs only the qdist
    # tables, built separately below).
    cent_sim = F.expr(
        f"ROUND({dot_cols('q', 'c', dim)}"
        f" / ({norm_cols('q', dim)} * {norm_cols('c', dim)}), 9)"
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.desc("cent_sim"), F.asc("cent_id")
    )
    probes = (
        base.where(query_pred)
        .selectExpr("vec_id AS query_id", *rename_exprs("v", "q", dim))
        .join(F.broadcast(cents), how="cross")
        .select(
            "query_id",
            "cent_id",
            F.col("cent_ix").alias("qcell"),
            cent_sim.alias("cent_sim"),
        )
        .withColumn("rn", F.row_number().over(wp))
        .where(F.col("rn") <= nprobe)
        .select("query_id", "qcell")
    )
    # The candidate stream carries pq_code straight out of the fused
    # kernel — the old form's codes frame (and the n-row broadcast
    # join re-attaching it) no longer exists.
    cand = F.broadcast(probes).join(
        assigned,
        (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
    ).select("query_id", "vec_id", "pq_code")

    # Per-query distance table: exact query subvectors vs every PQ
    # centroid, as ONE array<bigint> of M·ks integer-nano entries per
    # query (index m·ks + c) — the same Arrow dn kernel pq_encode
    # uses (one implementation ⇒ the data-side and query-side nanos
    # cannot drift), emitting the flat array instead of the argmin.
    # n_q · M·ks · 8 bytes broadcasts.
    vcols = [f"v_{i}" for i in range(dim)]

    def qfn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = pdf[vcols].to_numpy(dtype=np.float64)
            blocks = [
                _pq_dn_block(V[:, m * ds : (m + 1) * ds], Cpq[m], ds)
                for m in range(n_sub)
            ]
            qdn = np.concatenate(blocks, axis=1)  # (n, M·ks), m-major
            yield pdf[["vec_id"]].rename(
                columns={"vec_id": "query_id"}
            ).assign(qdn=list(qdn))

    qtab = base.where(query_pred).mapInPandas(
        qfn, schema="query_id bigint, qdn array<bigint>"
    )

    # ADC as ONE BROADCAST LOOKUP JOIN: each candidate row extracts
    # its M 5-bit codes and indexes the query's broadcast distance
    # array M times in a plain projection — the earlier form chained
    # M broadcast joins (one per subspace), paying M broadcast-job
    # scheduling floors per run; this is the same integer sum
    # (order-free, value-identical to the grouped sum the oracle
    # expresses) with ONE join. Every index exists by construction,
    # so element_at never returns null.
    adc = " + ".join(
        f"element_at(qdn, CAST({m * ks + 1}"
        f" + pmod(shiftright(pq_code, {5 * m}), 32) AS INT))"
        for m in range(n_sub)
    )
    scored = cand.join(F.broadcast(qtab), "query_id").selectExpr(
        "query_id", "vec_id", f"({adc}) AS adc_nanos"
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.asc("adc_nanos"), F.asc("vec_id")
    )
    return scored.withColumn("rk", F.row_number().over(wq)).where(
        F.col("rk") <= k
    )


def rerank_crossencoder(
    embeddings: DataFrame,
    query_pred: Column,
    k_retrieve: int = 20,
    k: int = 5,
    n_centroids: int | None = None,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
    n_vectors: int | None = None,
) -> DataFrame:
    """Retrieve-then-rerank — the serving-side sibling of the ann_*
    index family: the IVF index retrieves ``k_retrieve`` candidates
    per query by cheap cosine, the candidate PAIRS are joined back to
    their raw vectors (the production shape: the rerank tier fetches
    payloads for the candidate set only, never the corpus), and an
    Arrow-batched pairwise scorer re-ranks them to the final ``k``.
    The scorer here is a deterministic joint-feature kernel — exact
    retrieval cosine blended with an L1-proximity term and a
    sign-agreement count, features only computable from BOTH vectors
    at once, which is precisely the cross-encoder contract (vs the
    bi-encoder retrieval stage, which scores against precomputed
    per-vector state). A real deployment swaps the kernel body for a
    batched model forward pass (ONNX/torch inference over the Arrow
    batch); every Spark-side piece — candidate generation, the
    pair-payload joins, the batch shape, the final top-k windows —
    is exactly what that deployment runs.

    Scale shape: candidates are O(q·k_retrieve) rows, so the rerank
    joins broadcast the candidate list against the vector store and
    the kernel sees only that stream — rerank cost is per-candidate,
    independent of corpus size. Bit-parity discipline as everywhere
    in this module: i-ascending accumulation for L1, exact integer
    sign agreement, HALF_UP nano rounding, ties to the lowest vec_id.

    Round 15 — examined for the construct cut (r14 verdict item 4)
    and KEPT in this exact shape on the measurements (SCALE.md
    §Round 15): (a) reusing the retrieve tier's checkpointed
    base/qvecs frames for the pair-payload fetch (scalar-column
    kernel input, one fewer scan subtree) measured SLOWER warm —
    1.779 vs 1.538 s adjacent interleaved min-of-4, every pair
    losing — and (b) a lazy localCheckpoint on ``retrieved`` (to
    truncate per-action replanning of the IVF subtree) was a tie
    (1.533 vs 1.509). The warm wall is AQE stage-job + broadcast
    build scheduling floor (~12 jobs, cold profile: construct 1.0 s
    in-job 1.0 s over jobs of 20–230 ms), not construct or payload,
    and this session's bench reads it UNDER its oracle (0.86×).

    Output: (query_id, vec_id, retrieval_cosine, rerank_score, rk),
    rk ≤ k per query by rerank_score DESC."""
    import numpy as np

    from pyspark.sql import Window

    retrieved = ivf_topk(
        embeddings,
        query_pred,
        k=k_retrieve,
        n_centroids=n_centroids,
        nprobe=nprobe,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
        n_vectors=n_vectors,
    ).select("query_id", "vec_id", F.col("cosine").alias("retrieval_cosine"))
    q = embeddings.where(query_pred).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    v = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv")
    )
    # Candidate list is tiny — broadcast the JOINED candidate side
    # into the store join (hinting only the first join would leave
    # the second unhinted: Spark shuffles the whole corpus frame v
    # before AQE can flip it to broadcast), so the vector store
    # streams and nothing shuffles wide.
    pairs = F.broadcast(retrieved.join(F.broadcast(q), "query_id")).join(
        v, "vec_id"
    )

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.stack(pdf["qv"].to_numpy()).astype(np.float64)
            V = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
            n = Q.shape[0]
            l1 = np.zeros(n)
            agree = np.zeros(n, dtype=np.int64)
            for i in range(dim):
                l1 += np.abs(Q[:, i] - V[:, i])
                agree += (Q[:, i] * V[:, i] > 0).astype(np.int64)
            cos9 = pdf["retrieval_cosine"].to_numpy(dtype=np.float64)
            score = (
                0.6 * cos9
                + 0.25 * (1.0 / (1.0 + l1 / 64.0))
                + 0.15 * (agree / 64.0)
            )
            score9 = _half_up_exact(score * 1e9) / 1e9
            yield pdf[["query_id", "vec_id", "retrieval_cosine"]].assign(
                rerank_score=score9
            )

    scored = pairs.mapInPandas(
        fn,
        schema=(
            "query_id bigint, vec_id bigint,"
            " retrieval_cosine double, rerank_score double"
        ),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("rerank_score"), F.asc("vec_id")
    )
    return scored.withColumn("rk", F.row_number().over(wq)).where(
        F.col("rk") <= k
    )
