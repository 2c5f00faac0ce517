"""Distributed suffix-array construction by prefix doubling.

This is the exact-substring upgrade path documented in SCALE.md
§"Exactness limits of the anchor-gram span family": Lee et al. 2022
(arXiv:2107.06499) compute EXACT maximal repeats with a suffix array
over the concatenated corpus; the anchor-gram family ships because it
is one exchange and SQL-oracle-checkable, with a k−1-word slack. This
module provides the suffix-ORDER half of the exact form as a
first-class operator: global lexicographic ranks of every token-level
suffix of the corpus, built with log(N) rounds of narrow integer
sorts — the textbook Spark-friendly prefix-doubling shape (each round
is a sort/dense-rank over (rank, next-rank) int tuples, never strings
after round 0).

Not yet a registered query: the LCP (longest-common-prefix between
rank-adjacent suffixes) stage that turns suffix order into maximal
repeated SPANS remains, and exact maximal repeats have no tractable
DuckDB oracle at meaningful size (the correctness gate here is a
Python reference equivalence test instead —
tests/test_suffix_ranks.py). Registering the exact-span query is
round-11 work; this operator is its hard half, landed and tested.

Scale shape per round: one shuffle of (gpos, rank, next_rank) int
triples (the self-join on gpos+h is an equi-join on a bigint), one
range-partitioned sort of the DISTINCT key pairs, and one bounded
driver collect of #partitions longs (the per-partition offsets that
turn within-partition row_numbers into a global dense rank without a
single-partition window). Rounds are bounded by log2(N) — per-doc
sentinel tokens make every suffix distinct, so the fixpoint is
guaranteed — and each round ends in an EAGER localCheckpoint so plan
size and lineage stay constant (the iterative-algorithm rule from
dedup_clusters)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# Walk checkpointing: few-level (capped) walks run LAZY — one ~12-join
# plan, no per-level jobs; past this level count the per-level eager
# checkpoint keeps plan size constant (uncapped deep walks).
WALK_EAGER_MIN_LEVELS = 8


def _ckpt(df: DataFrame, eager: bool = False) -> DataFrame:
    """Every suffix-module checkpoint goes through here, SERIALIZED
    (PySpark's MEMORY_AND_DISK = StorageLevel(useDisk, useMemory,
    deserialized=False)) rather than the localCheckpoint default of
    deserialized row objects. Why: the ~log2(cap) retained history
    levels plus pos_map overflow the storage region as deserialized
    objects at the 100x decade (6.7 GB of block-store disk spill,
    tools/suffix_decade.py), so the LCP walk re-reads evicted blocks
    from disk mid-job. Serialized blocks are several times smaller
    for these narrow bigint rows and cheap to deserialize, trading a
    little CPU to stay memory-resident."""
    return df.localCheckpoint(
        eager=eager, storageLevel=StorageLevel.MEMORY_AND_DISK
    )


def global_dense_rank(
    df: DataFrame, keys: list[str], n_parts: int = 32, out: str = "rank"
) -> DataFrame:
    """(keys..., out) with ``out`` = dense rank of the key tuple over
    the WHOLE frame, 0-based — without a single-partition window.

    Shape: distinct keys → repartitionByRange(keys) →
    sortWithinPartitions(keys) → within-partition row_number (no
    exchange: partitionBy(spark_partition_id) is satisfied by the
    existing partitioning) → add per-partition offsets (ONE bounded
    collect of ≤ n_parts longs). Ranks are globally consistent
    because range partitioning orders partitions by the same keys the
    local sort uses; dense-ness comes from ranking the DISTINCT key
    set with row_number."""
    keys_distinct = (
        df.select(*keys)
        .distinct()
        .repartitionByRange(n_parts, *[F.col(k) for k in keys])
        .sortWithinPartitions(*keys)
        .withColumn("_pid", F.spark_partition_id())
    )
    w = Window.partitionBy("_pid").orderBy(*keys)
    local = _ckpt(
        keys_distinct.withColumn(
            "_lrk", F.row_number().over(w).cast("bigint")
        )
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in local.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    off_df = local.sparkSession.createDataFrame(
        offsets or [(0, 0)], "_pid int, _off bigint"
    )
    return local.join(F.broadcast(off_df), "_pid").select(
        *keys, (F.col("_off") + F.col("_lrk") - 1).alias(out)
    )


# monotonically_increasing_id packs (partition << 33 | row): the
# per-partition row counter holds 2^33 rows. Size partitions to a
# quarter of that so range-partitioner imbalance and key-tie
# clustering (equal keys land in ONE partition) have 4x headroom
# before the counter could wrap.
_IDS_PER_PART_MAX = 1 << 31


def _sized_parts(n_parts: int, n_rows: int | None) -> int:
    """max(n_parts, ceil(n_rows / _IDS_PER_PART_MAX)) — the cheap
    guard the id-packing bound needs when a corpus count is known."""
    if n_rows is None:
        return n_parts
    return max(n_parts, -(-n_rows // _IDS_PER_PART_MAX))


def _order_ranks(
    df: DataFrame,
    keys: list[str],
    n_parts: int = 32,
    out: str = "rank",
    n_rows: int | None = None,
) -> DataFrame:
    """Tie-preserving, order-MONOTONE (not dense) ranks of the key
    tuple, attached to every input row — with ZERO driver actions.
    Shape: repartitionByRange(keys) (explicit count — AQE preserves
    REPARTITION_BY_NUM) → sortWithinPartitions(keys) →
    monotonically_increasing_id (globally monotone w.r.t. the key
    order because range-partition indices are ordered by the same
    boundaries the local sort refines) → rank = min(id) OVER
    (PARTITION BY keys), which equal keys share and distinct keys
    order correctly (group-head ids of contiguous sorted blocks).
    Prefix doubling only needs order-isomorphism and tie
    preservation from its intermediate ranks, so this replaces the
    per-round global_dense_rank and its offsets collect + join-back.
    Bound: ids pack (partition << 33 | row), so keep rows-per-
    partition < 2^33 — pass ``n_rows`` (the input row count, when the
    caller already knows it) and n_parts is sized to keep partitions
    under 2^31 rows (4x headroom for partitioner imbalance; equal
    keys range to ONE partition, so a single key with more rows than
    the id counter would still need a pre-split — no measured corpus
    is within two orders of magnitude of that).
    Retry-safe despite monotonically_increasing_id's nondeterminism
    flag: equal keys form a contiguous block after the sort, so
    min(id) is the block's FIRST index — fixed by the count of rows
    in strictly-earlier key groups — even if a task retry permutes
    the within-block order of ties."""
    n_parts = _sized_parts(n_parts, n_rows)
    ordered = (
        df.repartitionByRange(n_parts, *[F.col(k) for k in keys])
        .sortWithinPartitions(*keys)
        .withColumn("_mid", F.monotonically_increasing_id())
    )
    # min(_mid) over the key group = the group-head id: equal keys
    # share it, distinct keys order by it (heads of contiguous sorted
    # blocks). A partitionBy(spark_partition_id)+running-max variant
    # that avoids this second exchange was MEASURED WORSE: Spark
    # materializes spark_partition_id() as a projected column and
    # inserts a hash exchange per Window anyway (two of them).
    w = Window.partitionBy(*keys)
    return ordered.withColumn(out, F.min("_mid").over(w)).drop("_mid")


def suffix_ranks(
    tokens: DataFrame,
    id_col: str = "doc_id",
    pos_col: str = "pos",
    word_col: str = "w",
    max_rounds: int = 40,
    n_parts: int = 32,
    n_tokens: int | None = None,
) -> DataFrame:
    """See _suffix_ranks_full; public form returns only the real-token
    suffix order (doc_id, pos, srank). ``n_tokens``: corpus token
    count when the caller knows it — sizes rank partitions under the
    id-packing bound (_order_ranks) without adding a count job."""
    final, _hist, _pos, _n, _fp = _suffix_ranks_full(
        tokens, id_col, pos_col, word_col, max_rounds, n_parts,
        n_tokens=n_tokens,
    )
    return final


def _suffix_ranks_full(
    tokens: DataFrame,
    id_col: str = "doc_id",
    pos_col: str = "pos",
    word_col: str = "w",
    max_rounds: int = 40,
    n_parts: int = 32,
    cap: int | None = None,
    n_tokens: int | None = None,
):
    """Global lexicographic suffix order of the token corpus.

    ``cap``: stop doubling once the level width h reaches >= cap —
    the CAPPED order, exact through prefix width cap. Suffixes
    sharing their first h_f >= cap tokens stay TIED in rank and the
    final order breaks ties by global position; that refinement is
    harmless to every capped-LCP consumer because all within-tie
    pairwise capped LCPs equal cap exactly (h_f >= cap), so no
    range-min across the tie block can be distorted. This is THE
    scale lever: rep values above the dedup threshold are never
    needed (Lee et al. remove at a fixed span length), and capping
    turns log2(corpus-longest-repeat) doubling rounds into
    log2(cap) — at 100 TB the difference between ~40 and ~6 global
    sort rounds.

    Documents are concatenated in ``id_col`` order with one UNIQUE
    per-doc sentinel token appended ("\\x00<doc_id>", below every real
    word bytewise), so (a) no suffix compares across a document
    boundary as a prefix of another and (b) all suffixes are distinct
    — the doubling loop provably reaches the all-ranks-distinct
    fixpoint in ≤ ceil(log2(N)) + 1 rounds (verified each round;
    raises if ``max_rounds`` is hit first, never returns a wrong
    order).

    Returns (doc_id, pos, srank): srank is the 0-based position of
    suffix (doc_id, pos) in the sorted order of ALL real-token
    suffixes (sentinel positions are dropped from the output and the
    ranks re-densified over the survivors)."""
    toks = tokens.select(
        F.col(id_col).alias("doc_id"),
        F.col(pos_col).cast("bigint").alias("pos"),
        F.col(word_col).alias("w"),
    )
    # per-doc sentinel: one extra position after the last token
    lens = toks.groupBy("doc_id").agg((F.max("pos") + 1).alias("n_tok"))
    sentinels = lens.select(
        "doc_id",
        F.col("n_tok").alias("pos"),
        F.concat(F.lit("\x00"), F.col("doc_id").cast("string")).alias("w"),
    )
    allt = toks.unionByName(sentinels)
    # Global position: doc offset = exclusive prefix sum of (n_tok + 1)
    # in doc_id order — the RANGE-PARTITIONED prefix sum (round 11;
    # the previous single-partition cumsum window sorted one-row-per-
    # doc on ONE task, a flagged suspect at the 500k-doc decade).
    # Exclusive form: inclusive psum minus the row's own length.
    offs = global_prefix_sum(
        lens.select("doc_id", (F.col("n_tok") + 1).alias("_len")),
        "doc_id",
        "_len",
        out="_ipsum",
        n_parts=n_parts,
    ).select(
        "doc_id", (F.col("_ipsum") - F.col("_len")).alias("doc_off")
    )
    pos_map = (
        allt.join(F.broadcast(offs), "doc_id")
        .select(
            "doc_id",
            "pos",
            (F.col("doc_off") + F.col("pos")).alias("gpos"),
            "w",
        )
        .transform(_ckpt)
    )
    # the row count only feeds the uncapped fixpoint probe
    n_total = pos_map.count() if cap is None else None
    # id-bound sizing for _order_ranks (2^31 rows/partition, 4x
    # headroom): the uncapped mode's count is reused for free; the
    # capped mode takes the caller's n_tokens when known — sentinels
    # add only one row per doc, well inside the headroom. (The capped
    # build's only driver action is then the one BOUNDED offsets
    # collect inside global_prefix_sum above: <= n_parts per-partition
    # totals, independent of corpus size.)
    n_rows = n_total if n_total is not None else n_tokens
    # round 0: rank by the token STRING (the only string-keyed round)
    r = _order_ranks(
        pos_map.select("gpos", "w"), ["w"], n_parts, n_rows=n_rows
    ).select("gpos", "rank")
    # History of (h, rank-table) per doubling level — rank_h(a) ==
    # rank_h(b) iff the first h TOKENS of the two suffixes are equal
    # (sentinel uniqueness makes equal-window-containing-a-sentinel
    # impossible across distinct positions). adjacent_lcp walks this
    # history to exact LCPs. Each table is eager-checkpointed by the
    # loop, so keeping references costs storage (N rows × log N
    # levels), not recompute.
    histories: list[tuple[int, DataFrame]] = []
    h = 1
    fixpoint = False
    for _ in range(max_rounds):
        # LAZY checkpoints: downstream consumption materializes each
        # level exactly once (RDD persist); capped mode runs the whole
        # build with zero per-round driver actions, uncapped mode pays
        # only the fixpoint probe
        r = _ckpt(r)
        histories.append((h, r))
        if cap is not None:
            if h >= cap:
                break
        else:
            # _order_ranks ranks are NOT dense — probe distinctness
            # directly (the one per-round action of the uncapped mode)
            fixpoint = (
                r.agg(F.countDistinct("rank")).first()[0] == n_total
            )
            if fixpoint:
                break
        nxt = r.select(
            (F.col("gpos") - h).alias("gpos"), F.col("rank").alias("rank2")
        )
        paired = r.join(nxt, "gpos", "left").select(
            "gpos", "rank", F.coalesce("rank2", F.lit(-1)).alias("rank2")
        )
        # the monotone re-rank attaches in place — no offsets collect,
        # no join-back (see _order_ranks)
        r = _order_ranks(
            paired, ["rank", "rank2"], n_parts, out="nrank", n_rows=n_rows
        )
        r = r.select("gpos", F.col("nrank").alias("rank"))
        h *= 2
    else:
        raise RuntimeError(
            f"suffix_ranks: no fixpoint after {max_rounds} doubling rounds"
        )
    # drop sentinel positions, re-densify ranks over the survivors
    real = pos_map.where(~F.col("w").startswith("\x00")).select(
        "doc_id", "pos", "gpos"
    )
    kept = real.join(r, "gpos").select("doc_id", "pos", "gpos", "rank")
    # (rank, gpos) keys: under a cap, ranks can tie (suffixes sharing
    # the first h_f >= cap tokens) — gpos breaks ties to a total
    # order, which the capped-LCP consumers tolerate by construction
    # (docstring above). Uncapped, ranks are already distinct and the
    # extra key is a no-op on the result.
    final = kept.join(
        global_dense_rank(
            kept.select("rank", "gpos"), ["rank", "gpos"], n_parts,
            out="srank",
        ),
        ["rank", "gpos"],
    ).select("doc_id", "pos", "gpos", "srank")
    return final, histories, pos_map, n_total, fixpoint


def adjacent_lcp(
    tokens: DataFrame,
    id_col: str = "doc_id",
    pos_col: str = "pos",
    word_col: str = "w",
    max_rounds: int = 40,
    n_parts: int = 32,
    n_tokens: int | None = None,
) -> DataFrame:
    """Exact LCP between rank-adjacent suffixes — the second half of
    the Lee et al. exact-repeat pipeline. For every real-token suffix
    (in the global suffix order of :func:`suffix_ranks`) this returns
    its exact token-level longest common prefix with the NEXT suffix
    in that order:

        (doc_id, pos, srank, nxt_doc_id, nxt_pos, lcp)

    A position's longest repeated prefix is max(lcp with prev, lcp
    with next) — the classic suffix-array fact that SA-neighbors
    maximize LCP — so "every position inside an exact repeat ≥ L
    tokens" falls out of this frame plus the existing islands tail.

    Algorithm: walk the doubling history DOWNWARD (h = H/2, …, 1):
    whenever rank_h(a') == rank_h(b') the first h tokens match, so
    advance both cursors by h and add h to the lcp — the standard
    O(log N) LCP walk, distributed as two broadcast-free equi-joins
    per level over narrow (pair, cursor) rows, each level ending in an
    eager checkpoint (constant plan size). Total accumulable lcp is
    H−1, and max LCP < H by the fixpoint's distinctness, so the walk
    is exact. Sentinels bound every lcp at the document edge by
    construction (their ranks are unique)."""
    final, histories, _pos_map, _n, fixpoint = _suffix_ranks_full(
        tokens, id_col, pos_col, word_col, max_rounds, n_parts,
        n_tokens=n_tokens,
    )
    return _adjacent_lcp_from(final, histories, skip_last=fixpoint)


def _adjacent_lcp_from(
    final: DataFrame,
    histories: list[tuple[int, DataFrame]],
    skip_last: bool = True,
) -> DataFrame:
    """The LCP walk of :func:`adjacent_lcp`, factored so consumers
    that already hold the suffix order (cross_doc_repeat) reuse it
    without a second prefix-doubling build. ``skip_last``: when the
    doubling reached its all-ranks-distinct fixpoint the final level
    can never match (distinct ranks at distinct cursors — and the two
    cursors keep their nonzero ga-gb offset forever) and is skipped;
    a CAP-stopped build's final level holds ties and MUST be
    walked."""
    # rank-adjacent REAL pairs (sentinel suffixes carry lcp 0 with
    # everything — their first token is unique — so restricting to
    # real suffixes loses nothing)
    left = final.select(
        "doc_id", "pos", "srank", F.col("gpos").alias("ga")
    )
    right = final.select(
        (F.col("srank") - 1).alias("srank"),
        F.col("doc_id").alias("nxt_doc_id"),
        F.col("pos").alias("nxt_pos"),
        F.col("gpos").alias("gb"),
    )
    state = left.join(right, "srank").select(
        "doc_id",
        "pos",
        "srank",
        "nxt_doc_id",
        "nxt_pos",
        F.col("ga").alias("ca"),
        F.col("gb").alias("cb"),
        F.lit(0).cast("bigint").alias("lcp"),
    )
    # walk levels high → low (the fixpoint-distinct final level is
    # skipped per skip_last). Few levels (a capped build) walk LAZY —
    # ~12 joins in one plan is fine and saves a per-level job; long
    # (uncapped) walks keep the eager per-level checkpoint so plan
    # size stays constant.
    levels = histories[:-1] or histories
    if not skip_last:
        levels = histories
    eager_walk = len(levels) > WALK_EAGER_MIN_LEVELS
    for h, rh in reversed(levels):
        ra = rh.select(F.col("gpos").alias("ca"), F.col("rank").alias("_ra"))
        rb = rh.select(F.col("gpos").alias("cb"), F.col("rank").alias("_rb"))
        st = (
            state.join(ra, "ca", "left")
            .join(rb, "cb", "left")
        )
        eq = (
            F.col("_ra").isNotNull()
            & F.col("_rb").isNotNull()
            & (F.col("_ra") == F.col("_rb"))
        )
        state = st.select(
            "doc_id",
            "pos",
            "srank",
            "nxt_doc_id",
            "nxt_pos",
            F.when(eq, F.col("ca") + h).otherwise(F.col("ca")).alias("ca"),
            F.when(eq, F.col("cb") + h).otherwise(F.col("cb")).alias("cb"),
            F.when(eq, F.col("lcp") + h).otherwise(F.col("lcp")).alias("lcp"),
        )
        state = _ckpt(state, eager=eager_walk)
    return state.select(
        "doc_id", "pos", "srank", "nxt_doc_id", "nxt_pos", "lcp"
    )


def global_prefix_sum(
    df: DataFrame,
    order_col: str,
    val_col: str,
    out: str = "psum",
    n_parts: int = 32,
) -> DataFrame:
    """Inclusive prefix sum of ``val_col`` in ``order_col`` order,
    without a single-partition window — the additive sibling of
    :func:`global_dense_rank` (same shape: repartitionByRange →
    sortWithinPartitions → within-partition running sum → ONE bounded
    collect of ≤ n_parts per-partition totals turned into offsets).
    ``order_col`` must be unique per row (it is a rank/srank at every
    call site); ties within a partition are still summed
    deterministically by the local sort, but cross-partition tie
    placement would follow the range partitioner."""
    local = (
        df.repartitionByRange(n_parts, F.col(order_col))
        .sortWithinPartitions(order_col)
        .withColumn("_pid", F.spark_partition_id())
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = _ckpt(
        local.withColumn(
            "_lsum", F.sum(F.col(val_col)).over(w).cast("bigint")
        )
    )
    totals = {
        r["_pid"]: r["tot"]
        for r in local.groupBy("_pid")
        .agg(F.sum(val_col).cast("bigint").alias("tot"))
        .collect()
    }
    offsets, acc = [], 0
    for pid in sorted(totals):
        offsets.append((pid, acc))
        acc += totals[pid] or 0
    off_df = local.sparkSession.createDataFrame(
        offsets or [(0, 0)], "_pid int, _off bigint"
    )
    return (
        local.join(F.broadcast(off_df), "_pid")
        .withColumn(out, F.col("_off") + F.col("_lsum"))
        .drop("_pid", "_lsum", "_off")
    )


def cross_doc_repeat(
    tokens: DataFrame,
    id_col: str = "doc_id",
    pos_col: str = "pos",
    word_col: str = "w",
    max_rounds: int = 40,
    n_parts: int = 32,
    cap: int | None = None,
    group_expr=None,
    n_tokens: int | None = None,
) -> DataFrame:
    """EXACT longest cross-document repeat at every position: for each
    real token position (doc_id, pos), ``rep`` = the exact token
    length of the longest prefix of the suffix starting there that
    also occurs in a DIFFERENT document. Zero when nothing is shared.
    This is the suffix-array-exact form of the anchor-gram family's
    per-position mark (a position's {k}-gram is cross-doc shared iff
    rep >= k — pinned by the cross-validation property test), with no
    k−1 slack and no gram width to choose.

    Construction on top of the suffix order + adjacent LCPs:
    - RUNS: maximal blocks of consecutive same-document suffixes in
      suffix order. A new run starts exactly where the document
      changes, so the FIRST suffix of the next run is the nearest
      different-document neighbor above, and the LAST suffix of the
      previous run is the nearest below.
    - LCP(i, j) = min(lcp_i..lcp_{j-1}) (the range-min identity), and
      LCP to the NEAREST different-doc neighbor in each direction
      maximizes the cross-doc LCP in that direction (the min over a
      superset range can only shrink). So:
        rep(i) = max( suffix-min of lcp_next within i's run
                        (the run-end value bridges INTO the next run),
                      prefix-min of lcp_prev within i's run
                        (the run-start value bridges FROM the prev run) )
      with the global first/last sentinel-bounded to 0 (no different
      doc exists in that direction).

    Scale shape: everything after the (already log-round-bounded)
    suffix build is narrow int frames — three shift equi-joins on
    srank, ONE ranged prefix sum (bounded offsets collect) for run
    ids, and two same-partitioning windows keyed by run. Run length
    is bounded by repeat structure (a run is consecutive same-doc
    suffixes), so run-partitioned windows carry no pathological skew
    beyond a document's own suffix count.

    ``cap``: return min(rep, cap) EXACTLY, with the doubling stopped
    at level width >= cap (see _suffix_ranks_full) — ~log2(cap)
    global sort rounds instead of log2(longest-repeat). Every
    downstream consumer whose thresholds are <= cap (mark counts,
    flags, covered-word unions — proof in exact_repeat_doc_stats) is
    unaffected by the cap; only the raw "longest" saturates at it.

    ``n_tokens``: corpus token count when the caller already knows it
    (e.g. from parquet footers × average doc length) — sizes the rank
    partitions under _order_ranks' id-packing bound without adding a
    count job to the capped build (whose only remaining driver action
    is global_prefix_sum's bounded <= n_parts offsets collect)."""
    final, histories, _pos_map, _n, fixpoint = _suffix_ranks_full(
        tokens, id_col, pos_col, word_col, max_rounds, n_parts, cap=cap,
        n_tokens=n_tokens,
    )
    adj = _ckpt(
        _adjacent_lcp_from(final, histories, skip_last=fixpoint)
    )
    base = final.select("doc_id", "pos", "srank")
    lcp_next = adj.select("srank", F.col("lcp").alias("lcp_next"))
    lcp_prev = adj.select(
        (F.col("srank") + 1).alias("srank"), F.col("lcp").alias("lcp_prev")
    )
    # ``group_expr``: Column->Column mapping a doc_id to its GROUP —
    # rep then means "longest prefix shared with a suffix of a
    # DIFFERENT GROUP" (the exact-decontamination primitive: group =
    # holdout membership). Default: the doc itself (cross-document).
    # Zero joins either way: groups derive from doc_id by expression.
    # Every correctness argument (nearest different-X neighbor, run
    # range-mins, cap invariance) is group-agnostic by construction —
    # runs just split on group boundaries instead of doc boundaries.
    if group_expr is None:
        group_expr = lambda c: c  # noqa: E731 — identity: group = doc
    chg = adj.select(
        (F.col("srank") + 1).alias("srank"),
        (
            group_expr(F.col("doc_id")) != group_expr(F.col("nxt_doc_id"))
        ).cast("bigint").alias("m"),
    )
    frame = (
        base.join(lcp_next, "srank", "left")
        .join(lcp_prev, "srank", "left")
        .join(chg, "srank", "left")
        .select(
            "doc_id",
            "pos",
            "srank",
            # global last: no next different doc -> bound at 0; ditto
            # global first for the prev direction
            F.coalesce("lcp_next", F.lit(0)).cast("bigint").alias("lcp_next"),
            F.coalesce("lcp_prev", F.lit(0)).cast("bigint").alias("lcp_prev"),
            F.coalesce("m", F.lit(1)).alias("m"),
        )
    )
    runs = global_prefix_sum(frame, "srank", "m", out="run", n_parts=n_parts)
    w_next = (
        Window.partitionBy("run")
        .orderBy(F.col("srank").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_prev = (
        Window.partitionBy("run")
        .orderBy("srank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rep = F.greatest(
        F.min("lcp_next").over(w_next), F.min("lcp_prev").over(w_prev)
    )
    if cap is not None:
        # walk values above cap may be truncated at the history's
        # capacity (2*h_f - 1) — but every value >= cap saturates to
        # cap here, so the truncation is unobservable by construction
        rep = F.least(rep, F.lit(cap).cast("bigint"))
    # The cap travels WITH the frame as column metadata (-1 =
    # uncapped) so downstream consumers (exact_repeat_doc_stats /
    # exact_repeat_removal_frame) enforce the cap >= flag_words
    # precondition even when the caller drops the kwarg — the cap
    # cannot be silently lost between build and fold.
    return runs.select(
        "doc_id",
        "pos",
        rep.alias("rep", metadata={"suffix_cap": cap if cap is not None else -1}),
    )


def _resolve_cap(rep: DataFrame, cap: int | None) -> int | None:
    """Authoritative cap for a rep frame: cross_doc_repeat stamps the
    build-time cap into the rep column's metadata (-1 = uncapped), so
    a consumer called WITHOUT the cap kwarg still enforces the
    precondition — the kwarg cannot be silently dropped. An explicit
    kwarg that CONTRADICTS the metadata is a caller bug and raises;
    frames with no metadata (hand-built, e.g. oracle fixtures) fall
    back to the kwarg as before."""
    meta = None
    for f in rep.schema.fields:
        if f.name == "rep" and "suffix_cap" in (f.metadata or {}):
            meta = f.metadata["suffix_cap"]
            break
    if meta is None:
        return cap
    tagged = None if meta == -1 else int(meta)
    if cap is not None and cap != tagged:
        raise ValueError(
            f"cap={cap} contradicts the rep frame's build-time cap "
            f"{tagged if tagged is not None else 'None (uncapped)'} "
            "(column metadata 'suffix_cap' stamped by cross_doc_repeat)"
        )
    return tagged


def _check_cap(cap: int | None, flag_words: int, mark_k: int = 0) -> None:
    """Enforce the capped-input exactness precondition cap >=
    flag_words >= mark_k (the proofs in exact_repeat_doc_stats /
    exact_repeat_removal_frame assume it; violating it silently
    undercounts coverage and flags). ``cap=None`` asserts the caller
    fed an UNCAPPED rep frame, which is always exact."""
    if mark_k > flag_words:
        raise ValueError(
            f"mark_k={mark_k} > flag_words={flag_words}: the marked-start "
            "threshold must not exceed the flag threshold"
        )
    if cap is not None and cap < flag_words:
        raise ValueError(
            f"cap={cap} < flag_words={flag_words}: a rep frame capped "
            "below the flag threshold cannot support exact coverage — "
            "raise the cap (cap >= flag_words keeps every output exact)"
        )


def exact_repeat_doc_stats(
    rep: DataFrame,
    mark_k: int = 5,
    flag_words: int = 20,
    cap: int | None = None,
) -> DataFrame:
    """Per-document fold of :func:`cross_doc_repeat`'s position frame
    — the suffix-array-exact counterpart of repeated_span_stats:

        (doc_id, longest_repeat, n_repeat_starts, n_covered_words,
         flagged)

    - longest_repeat: EXACT longest substring shared with another doc
      (repeated_span_stats.max_span_words upper-bounds this by up to
      k−1 and can overshoot when distinct repeats abut; this is the
      true value).
    - n_repeat_starts: positions whose rep >= mark_k — identical by
      construction to the anchor-gram family's n_dup_grams.
    - n_covered_words: tokens covered by the union of [pos,
      pos+rep−1] intervals of positions with rep >= flag_words — the
      exact removal footprint of Lee et al.'s "drop repeated spans
      >= flag_words" policy. Interval union via the classic
      running-max-end sweep: an island starts where pos exceeds every
      earlier interval's end (per-doc windows over int rows).
    - flagged: longest_repeat >= flag_words (the exact form of the
      anchor-gram flag).

    CAPPED-INPUT EXACTNESS: fed a capped rep frame (cap >= flag_words
    >= mark_k), every output except the saturating longest_repeat is
    IDENTICAL to the uncapped one. For the covered union: take any
    truly-covered position p in [s, s+rep(s)-1] with rep(s) >=
    flag_words, and let s' = max(s, p-cap+1). Then (a) p-s'+1 <= cap,
    (b) rep(s') >= (distance from s' to the repeat's end) >= p-s'+1,
    so min(rep(s'), cap) reaches p, and (c) rep(s') >= flag_words —
    when s'=s directly, else rep(s') >= p-s'+1 = cap >= flag_words —
    so s' is itself a flagged start. Hence the capped union contains
    p; the reverse containment is immediate (capped intervals are
    subsets). Mark counts are threshold tests at mark_k <= cap,
    unaffected by saturation above the threshold.

    ``cap``: pass the cap the rep frame was built with (None for an
    uncapped frame) — the precondition cap >= flag_words >= mark_k is
    then ENFORCED (ValueError), not just documented. Frames built by
    cross_doc_repeat carry the cap in column metadata, so the kwarg
    may be omitted — it is resolved (and cross-checked) from the
    frame itself.
    """
    cap = _resolve_cap(rep, cap)
    _check_cap(cap, flag_words, mark_k)
    spans = covered_spans(rep, flag_words)
    covered = spans.groupBy("doc_id").agg(
        F.sum(F.col("e") - F.col("s") + 1).cast("bigint").alias(
            "n_covered_words"
        )
    )
    per_doc = rep.groupBy("doc_id").agg(
        F.max("rep").cast("bigint").alias("longest_repeat"),
        F.sum((F.col("rep") >= mark_k).cast("bigint"))
        .cast("bigint")
        .alias("n_repeat_starts"),
    )
    return (
        per_doc.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "longest_repeat",
            "n_repeat_starts",
            F.coalesce("n_covered_words", F.lit(0))
            .cast("bigint")
            .alias("n_covered_words"),
            (F.col("longest_repeat") >= flag_words).alias("flagged"),
        )
    )


def covered_spans(rep: DataFrame, flag_words: int) -> DataFrame:
    """Maximal disjoint covered intervals (doc_id, s, e): the union of
    [pos, pos+rep−1] over positions with rep >= flag_words, folded by
    the classic running-max-end sweep — an island starts where pos
    exceeds every earlier interval's end (per-doc windows over narrow
    int rows). Shared by the stats fold (covered word counts) and the
    removal (positional filter spans)."""
    ends = rep.where(F.col("rep") >= flag_words).select(
        "doc_id", "pos", (F.col("pos") + F.col("rep") - 1).alias("end")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    w_prior = w_doc.rowsBetween(Window.unboundedPreceding, -1)
    isl = ends.select(
        "doc_id",
        "pos",
        "end",
        F.when(
            F.col("pos") > F.coalesce(F.max("end").over(w_prior), F.lit(-1)),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_isl"),
    ).select(
        "doc_id",
        "pos",
        "end",
        F.sum("new_isl")
        .over(w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("isl"),
    )
    return isl.groupBy("doc_id", "isl").agg(
        F.min("pos").alias("s"), F.max("end").alias("e")
    )


def exact_repeat_removal_frame(
    docs: DataFrame,
    rep: DataFrame,
    flag_words: int = 20,
    cap: int | None = None,
) -> DataFrame:
    """Cleaned text with every position covered by a >= flag_words
    cross-document repeat REMOVED — symmetric (ALL occurrences cut),
    the strict-decontamination policy; contrast the anchor family's
    repeated_span_removal, which keeps the canonical first occurrence.
    Output: (doc_id, clean_text, n_kept_words, n_removed_words).

    Fed a capped rep frame with cap >= flag_words the output is
    EXACTLY the uncapped one (the covered union is cap-invariant —
    proof in exact_repeat_doc_stats). Re-assembly is the
    _span_removal_tail discipline: the few, short spans join back as
    a per-doc array and a positional higher-order filter drops
    covered words inside one codegen projection — the document's
    words never leave its row.

    ``cap``: the cap the rep frame was built with (None = uncapped);
    cap >= flag_words is ENFORCED (the cap-invariance proof needs
    it). cross_doc_repeat frames carry the cap in column metadata,
    so omitting the kwarg still enforces the precondition."""
    cap = _resolve_cap(rep, cap)
    _check_cap(cap, flag_words)
    spans = covered_spans(rep, flag_words)
    span_arr = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("s", "e")).alias("_spans")
    )
    ws = F.split(F.col("text"), " ")
    kept = F.filter(
        ws,
        lambda w, i: ~F.exists(
            F.col("_spans"), lambda sp: (i >= sp["s"]) & (i <= sp["e"])
        ),
    )
    return (
        docs.select("doc_id", "text")
        .join(span_arr, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_spans").isNull(), F.col("text"))
            .otherwise(F.array_join(kept, " "))
            .alias("clean_text"),
            F.when(F.col("_spans").isNull(), F.size(ws))
            .otherwise(F.size(kept))
            .cast("bigint")
            .alias("n_kept_words"),
            F.when(F.col("_spans").isNull(), F.lit(0))
            .otherwise(F.size(ws) - F.size(kept))
            .cast("bigint")
            .alias("n_removed_words"),
        )
    )


def exact_repeat_oracle_sql(
    k_max: int,
    mark_k: int = 5,
    flag_words: int = 20,
    where: str = "",
) -> str:
    """ANSI-SQL (DuckDB) oracle for exact_repeat_doc_stats over the
    ``documents`` table — the "no tractable SQL oracle" note in this
    module's header is hereby retired. The suffix array is replaced by
    K = ``k_max`` CHAINED (non-recursive) mark stages exploiting the
    monotonicity marks_k ⊆ marks_{k-1} (a shared k-gram's prefix is a
    shared (k-1)-gram): stage k re-slices the k-gram only for
    positions still marked at k-1, so total work is Σ|marks_k| — the
    sum of per-position repeat lengths, NOT corpus² — and rep(pos) =
    max marked k, exactly.

    EXACTNESS BOUND: against the UNCAPPED Spark pipeline, correct iff
    the corpus' true longest cross-doc repeat is < k_max. Against the
    CAPPED pipeline (cross_doc_repeat(cap=k_max)) it is exact for ANY
    corpus — the oracle's rep = max marked k <= k_max is precisely
    min(true rep, k_max) by mark monotonicity, so the pair is total:
    that is the registration shape."""
    stages, union_parts = _exact_repeat_stage_sql(k_max)
    union_sql = "\n    UNION ALL ".join(union_parts)
    stages_sql = ",\n".join(stages)
    return f"""
WITH words AS MATERIALIZED (
  SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents {where}
),
{stages_sql},
reps AS (
  SELECT doc_id, pos, MAX(k) AS rep FROM (
    {union_sql}
  ) GROUP BY doc_id, pos
),
cover AS (
  SELECT DISTINCT doc_id, upos FROM (
    SELECT doc_id, UNNEST(RANGE(pos, pos + rep)) AS upos
    FROM reps WHERE rep >= {flag_words}
  )
),
covered AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_covered_words
  FROM cover GROUP BY doc_id
),
per_doc AS (
  SELECT doc_id,
         CAST(MAX(rep) AS BIGINT) AS longest,
         CAST(SUM(CASE WHEN rep >= {mark_k} THEN 1 ELSE 0 END) AS BIGINT)
           AS nstarts
  FROM reps GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.longest, 0) AS BIGINT) AS longest_repeat,
       CAST(COALESCE(p.nstarts, 0) AS BIGINT) AS n_repeat_starts,
       CAST(COALESCE(c.n_covered_words, 0) AS BIGINT) AS n_covered_words,
       COALESCE(p.longest, 0) >= {flag_words} AS flagged
FROM (SELECT doc_id FROM documents {where}) d
LEFT JOIN per_doc p USING (doc_id)
LEFT JOIN covered c USING (doc_id)
"""


def _exact_repeat_stage_sql(k_max: int, group_sql: str = "doc_id"):
    """The shared chained mark stages (see exact_repeat_oracle_sql)
    plus the rep-union select list, for the stats / removal /
    contamination oracles. ``group_sql``: SQL expression over the
    gram rows defining the cross-ness group (default: the document
    itself); a gram is marked when its partition spans >= 2 distinct
    group values."""
    stages = []
    stages.append(
        f"""cand_1 AS (
  SELECT doc_id, i - 1 AS pos, ws[i] AS g, LEN(ws) AS n
  FROM words, UNNEST(RANGE(1, LEN(ws) + 1)) AS t(i)
)"""
    )
    union_parts = []
    for k in range(1, k_max + 1):
        if k > 1:
            stages.append(
                f"""cand_{k} AS (
  SELECT m.doc_id, m.pos,
         ARRAY_TO_STRING(w.ws[m.pos + 1 : m.pos + {k}], ' ') AS g, m.n
  FROM marks_{k - 1} m JOIN words w USING (doc_id)
  WHERE m.pos + {k} <= m.n
)"""
            )
        stages.append(
            f"""marks_{k} AS MATERIALIZED (
  SELECT doc_id, pos, n FROM (
    SELECT doc_id, pos, n,
           MIN({group_sql}) OVER (PARTITION BY g) AS mn,
           MAX({group_sql}) OVER (PARTITION BY g) AS mx
    FROM cand_{k}
  ) WHERE mn <> mx
)"""
        )
        union_parts.append(
            f"SELECT doc_id, pos, {k} AS k FROM marks_{k}"
        )
    return stages, union_parts


def exact_repeat_removal_oracle_sql(
    k_max: int, flag_words: int = 20, where: str = ""
) -> str:
    """Removal twin of exact_repeat_oracle_sql: cleaned text with every
    position covered by a >= flag_words cross-doc repeat interval
    REMOVED (symmetric — all occurrences cut; contrast
    repeated_span_removal's keep-canonical-first policy). Same total
    exactness as the stats oracle when paired with the capped Spark
    pipeline (cap = k_max >= flag_words): the covered union is
    cap-invariant (proof in exact_repeat_doc_stats)."""
    stages, union_parts = _exact_repeat_stage_sql(k_max)
    union_sql = "\n    UNION ALL ".join(union_parts)
    stages_sql = ",\n".join(stages)
    return f"""
WITH words AS MATERIALIZED (
  SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents {where}
),
toks AS (
  SELECT doc_id, i - 1 AS pos, ws[i] AS w
  FROM words, UNNEST(RANGE(1, LEN(ws) + 1)) AS t(i)
),
{stages_sql},
reps AS (
  SELECT doc_id, pos, MAX(k) AS rep FROM (
    {union_sql}
  ) GROUP BY doc_id, pos
),
cover AS (
  SELECT DISTINCT doc_id, upos FROM (
    SELECT doc_id, UNNEST(RANGE(pos, pos + rep)) AS upos
    FROM reps WHERE rep >= {flag_words}
  )
),
kept AS (
  SELECT t.doc_id, t.pos, t.w FROM toks t
  ANTI JOIN cover c ON c.doc_id = t.doc_id AND c.upos = t.pos
),
agg AS (
  SELECT doc_id,
         STRING_AGG(w, ' ' ORDER BY pos) AS clean_text,
         CAST(COUNT(*) AS BIGINT) AS n_kept_words
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(a.clean_text, '') AS clean_text,
       CAST(COALESCE(a.n_kept_words, 0) AS BIGINT) AS n_kept_words,
       CAST(LEN(STRING_SPLIT(d.text, ' '))
            - COALESCE(a.n_kept_words, 0) AS BIGINT) AS n_removed_words
FROM (SELECT * FROM documents {where}) d
LEFT JOIN agg a USING (doc_id)
"""


def exact_contamination_oracle_sql(
    k_max: int,
    flag_words: int,
    holdout_sql: str,
    where: str = "",
) -> str:
    """Contamination twin of exact_repeat_oracle_sql: per TRAINING doc
    (NOT matching ``holdout_sql``), the exact (capped at k_max)
    longest token span shared with the HOLDOUT group, the count of
    positions starting such a shared span of >= flag_words tokens,
    and the contaminated flag. Pairs totally with
    cross_doc_repeat(cap=k_max, group_expr=holdout membership) — and
    ``contaminated`` with flag_words = n reproduces the n-gram
    decontamination flag exactly (rep >= n ⟺ shares an n-gram with
    the holdout). ``holdout_sql``: boolean SQL over the bare
    ``doc_id`` column — the outer scan wraps it in a subquery whose
    scope exposes exactly that column, so no alias rewriting is ever
    applied to the predicate text (a naive string replace would
    corrupt identifiers containing "doc_id" as a substring)."""
    grp = f"CASE WHEN {holdout_sql} THEN 1 ELSE 0 END"
    stages, union_parts = _exact_repeat_stage_sql(k_max, group_sql=grp)
    union_sql = "\n    UNION ALL ".join(union_parts)
    stages_sql = ",\n".join(stages)
    return f"""
WITH words AS MATERIALIZED (
  SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents {where}
),
{stages_sql},
reps AS (
  SELECT doc_id, pos, MAX(k) AS rep FROM (
    {union_sql}
  ) GROUP BY doc_id, pos
),
per_doc AS (
  SELECT doc_id,
         CAST(MAX(rep) AS BIGINT) AS longest,
         CAST(SUM(CASE WHEN rep >= {flag_words} THEN 1 ELSE 0 END) AS BIGINT)
           AS nstarts
  FROM reps GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.longest, 0) AS BIGINT) AS longest_shared_span,
       CAST(COALESCE(p.nstarts, 0) AS BIGINT) AS n_contaminated_positions,
       COALESCE(p.longest, 0) >= {flag_words} AS contaminated
FROM (
  SELECT doc_id FROM (SELECT * FROM documents {where})
  WHERE NOT ({holdout_sql})
) d
LEFT JOIN per_doc p USING (doc_id)
"""
