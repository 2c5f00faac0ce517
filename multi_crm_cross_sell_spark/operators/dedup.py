"""Document deduplication operators for LLM-training-data pipelines.

Beyond-reference surface (BASELINE.json north star): exact dedup,
MinHash+LSH near-dup, and SimHash fingerprints, all as declarative
DataFrame transforms over a (doc_id, text) table.

Scale design:
- Exact dedup hashes the full text → groupBy(hash). One shuffle on a
  short key, never on the text body.
- MinHash signatures are computed per-row (no shuffle); the LSH
  band-bucket join turns the O(n²) pair space into an equi-join on
  (band_idx, band_key) — the same blocking idea as SURVEY §2.3 J2, at
  web scale. Verification (true shingle Jaccard) runs only on
  band-collision candidates.
- Hashes are md5-based column expressions (no Python, no
  hashCode-nondeterminism across JVMs) so results are reproducible
  cluster-to-cluster AND match a SQL oracle exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# MinHash family: mh_k(s) = (A[k] * h(s) + B[k]) mod P over the md5-based
# base hash h(s). Fixed literals so Spark and any oracle agree.
P = 2_147_483_647
N_HASHES = 16
BAND_ROWS = 4
A = [1_000_003 + 7_919 * k for k in range(N_HASHES)]
B = [12_345 + 104_729 * k for k in range(N_HASHES)]
SHINGLE = 3
# Positional combiner for word-hash n-grams (Horner, mod P each step:
# operands stay < 2^51, no bigint overflow).
GRAM_K = 1_000_003


# Spark-SQL text builders for the md5 hashes. They are assembled as
# strings because one selectExpr is one py4j round trip, where the same
# expressions built operator by operator as Columns cost about 0.8 s of
# driver time per MinHash query construction (16 minhash lambdas and 8
# band keys).


def base_hash_sql(x: str) -> str:
    """md5 → first 15 hex chars → bigint (60 bits) → mod P: the one
    base-hash rule every word, gram and token hash uses."""
    return f"(CAST(conv(substring(md5({x}), 1, 15), 16, 10) AS BIGINT) % {P})"


def word_hashes_sql(text: str) -> str:
    """Per-position word hash array: one md5 per word of the document,
    ``transform(split(text, ' '), x -> base_hash_sql(x))``."""
    return f"transform(split({text}, ' '), x -> {base_hash_sql('x')})"


def gram_hashes_sql(wh: str, n: int = SHINGLE) -> str:
    """Distinct word n-gram hashes derived arithmetically from a bound
    word-hash array: gram_i is the Horner combine of n consecutive word
    hashes mod P. The n-gram strings are never built and md5 runs once
    per word instead of once per (longer) gram; the gram set equals
    string shingling up to ~60-bit hash collisions, which near-dup
    Jaccard tolerates. Docs shorter than n words give an empty array.

    ``wh`` must name a bound column (its own projection), not an
    inline transform: the lambda references it n times per element and
    higher-order functions get no cross-expression CSE."""
    acc = f"element_at({wh}, i)"
    for j in range(1, n):
        acc = f"({acc} * {GRAM_K} + element_at({wh}, i + {j})) % {P}"
    return (
        f"CASE WHEN size({wh}) >= {n} THEN array_distinct("
        f"transform(sequence(1, size({wh}) - {n - 1}), i -> {acc}))"
        f" ELSE CAST(array() AS array<bigint>) END"
    )


def minhash_sig_sql(h: str) -> list[str]:
    """``array_min(transform(h, x -> (A_k*x + B_k) % P)) AS mh_k`` for
    each of the N_HASHES permutations, over a bound hash array ``h``
    (pure bigint math; the md5 work is not repeated per permutation)."""
    return [
        f"array_min(transform({h}, x -> ({A[k]} * x + {B[k]}) % {P})) AS mh{k}"
        for k in range(N_HASHES)
    ]


def band_keys_sql(prefix: str = "mh") -> list[str]:
    """Signature rows concatenated into BAND_ROWS-sized band keys."""
    n_bands = N_HASHES // BAND_ROWS
    return [
        "concat_ws('_', "
        + ", ".join(f"{prefix}{b * BAND_ROWS + r}" for r in range(BAND_ROWS))
        + f") AS band{b}"
        for b in range(n_bands)
    ]


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: md5(text) → group → representative = min(id).
    Output one row per distinct text with its copy count."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    n_docs: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs with verified shingle Jaccard.

    signature (per-row) → band explode → equi-join on (band, key) →
    distinct candidate pairs → verify true Jaccard ≥ threshold.

    Scale shape (round 15 — measured at the 100× decade, where the
    pre-round-15 form's executed plan carried FOUR full scan→md5→gram
    pipelines with ZERO exchange reuse, and the planner satisfied both
    verify joins by broadcasting the FULL corpus gram table — ~800 MB
    collected and hash-built single-threaded on the driver per side,
    which is exactly the measured core-count-INDEPENDENT 100× wall in
    SCALE.md §Round 14, and an outright failure past the 8 GB / 512M-row
    broadcast cap at n ≳ 5×10⁶ docs):

    - ``n_docs`` ≥ CHECKPOINT_MIN_CORPUS (caller-supplied, e.g. the
      parquet footer): the NARROW per-doc band-key frame is
      materialized ONCE by a ``localCheckpoint(eager=False)`` (the
      incremental_near_dup discipline; under adaptive execution its
      shuffle stages run while the plan is built, and only its last
      stage waits for the first action) and both band-join sides
      explode from it — one signature pass, cheap-string explodes;
      the candidate pairs are checkpointed; and the verify sides
      recompute gram arrays ONLY for documents that appear in a
      candidate pair (a broadcast semi-join of the candidate-id set
      onto the scan BELOW the md5 pipeline — guide §8: decide with
      small rows, compute heavy payloads for survivors only). Heavy
      md5/gram work drops from 4 corpus passes to 1 + a
      candidate-sized fraction, and NO corpus-sized relation is ever
      broadcast. Bound, stated honestly: the candidate-id set itself
      broadcasts (≤ 2·|pairs| bigints, ~1% of a dedup-rate corpus);
      past ~10⁸ candidate ids, slice by source/shard or swap the
      semi-join for a Bloom filter (§3.2) — the band/verify split
      itself is unchanged by that substitution.
    - small corpora (< CHECKPOINT_MIN_CORPUS, or ``n_docs`` omitted):
      the pre-round-15 flowing shape, byte-identical plan — at bench
      scale the checkpoint/semi-join jobs cost more scheduling floor
      than the recomputation they save (the CHECKPOINT_MIN_CORPUS
      rationale). Outputs are bit-identical across branches
      (asserted at the 100× decade, pinned by unit test).

    The band self-join sees ONLY (doc_id, band_idx, key) rows — the
    shuffle payload is a few dozen bytes/row regardless of document
    size. Candidates are a tiny fraction of n²; that invariant is the
    part that must survive 100 TB.
    """
    # Shingling + md5-minhash is CPU-bound per row; a small parquet
    # lands in one partition and would serialize it on one core. Hash-
    # repartition by id first (uses spark.sql.shuffle.partitions, AQE
    # coalesces the tail) so the signature projection scales with the
    # cluster, not the file count.
    # Explicit partition count: AQE's coalescer sizes partitions by
    # shuffle bytes and would re-serialize this CPU-bound projection
    # onto one core for small inputs; REPARTITION_BY_NUM is exempt.
    n_parts = docs.sparkSession.sparkContext.defaultParallelism * 2
    # Two exchanges, deliberately: the first spreads the (often
    # single-partition) scan so hashing runs on every core; the second
    # sits ABOVE the computed gram-hash arrays, so the one exchange all
    # three consumers share (signature pipeline + both verify sides)
    # carries grams computed exactly once — computing above the reused
    # exchange would re-run per consumer, below the first would
    # single-thread it. Word hashes are bound in their OWN projection
    # before the gram combiner references them n times per element
    # (interpreted HOFs have no cross-expression CSE), and the n-gram
    # STRINGS never exist: one short md5 per word, then integer
    # combines. The 16 signature passes run over the bound bigint
    # array directly.
    # Pre-filter on the CHEAP equivalent (≥ SHINGLE words ⟺ non-empty
    # gram array) BEFORE the hash pipeline: a size(sh) filter after it
    # would be pushed below the exchanges and inline the whole
    # md5+gram expression into the Filter node — re-evaluating the
    # word-hash transform inside every element_at, O(words²) md5 per
    # document (measured 20×).
    gate = docs.where(F.size(F.split(F.col(text_col), " ")) >= SHINGLE)
    base = (
        gate.repartition(n_parts, F.col(id_col))
        .selectExpr(
            f"{id_col} AS doc_id", f"{word_hashes_sql(text_col)} AS wh"
        )
        .selectExpr("doc_id", f"{gram_hashes_sql('wh')} AS sh")
        .repartition(n_parts, F.col("doc_id"))
    )
    large = n_docs is not None and n_docs >= CHECKPOINT_MIN_CORPUS
    sig = base.selectExpr("doc_id", *minhash_sig_sql("sh"))
    banded = sig.selectExpr("doc_id", *band_keys_sql())
    if large:
        # One signature pass: the narrow band-key frame materializes
        # once; both band-join sides (and cand's every consumer)
        # explode cheap strings from the checkpoint.
        banded = banded.localCheckpoint(eager=False)
    n_bands = N_HASHES // BAND_ROWS
    band_arr = ", ".join(f"band{i}" for i in range(n_bands))
    bands = banded.selectExpr(
        "doc_id", f"posexplode(array({band_arr})) AS (band_idx, key)"
    )

    # shuffle_hash hint: a broadcast self-join would RECOMPUTE the
    # signature pipeline for the broadcast side; a shuffled join makes
    # both sides the identical exchange. (Round-15 measured caveat: the
    # hoped-for ReusedExchange does NOT materialize at the 100× decade
    # — the executed plan carried both sides' full pipelines — which is
    # why the large branch checkpoints the band frame instead of
    # trusting reuse.)
    a, b = bands.alias("a").hint("shuffle_hash"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
        )
        .dropDuplicates(["doc1", "doc2"])
    )
    if large:
        # Verify ONLY candidate documents: the candidate-id set
        # semi-joins the scan BELOW the md5/gram pipeline, so the
        # verify-side heavy work is candidate-sized, not corpus-sized
        # — and no corpus gram table is ever built or broadcast. The
        # candidates materialize eagerly, in their own job: behind an
        # eager=False checkpoint, a plan without adaptive execution runs the
        # whole signature and band-join pipeline inside the broadcast
        # build of ``ids``, which spark.sql.broadcastTimeout caps.
        cand = cand.localCheckpoint(eager=True)
        ids = (
            cand.selectExpr("doc1 AS cid")
            .union(cand.selectExpr("doc2 AS cid"))
            .distinct()
        )
        sv = (
            gate.join(
                F.broadcast(ids), F.col(id_col) == F.col("cid"), "left_semi"
            )
            .repartition(n_parts, F.col(id_col))
            .selectExpr(
                f"{id_col} AS doc_id", f"{word_hashes_sql(text_col)} AS wh"
            )
            .selectExpr("doc_id", f"{gram_hashes_sql('wh')} AS sh")
            .localCheckpoint(eager=False)
        )
        s1 = sv.select(F.col("doc_id").alias("doc1"), F.col("sh").alias("sh1"))
        s2 = sv.select(F.col("doc_id").alias("doc2"), F.col("sh").alias("sh2"))
    else:
        s1 = base.select(
            F.col("doc_id").alias("doc1"), F.col("sh").alias("sh1")
        )
        s2 = base.select(
            F.col("doc_id").alias("doc2"), F.col("sh").alias("sh2")
        )
    # One array pass per pair: distinct arrays, so the union size is
    # |A|+|B|−|A∩B| — integer arithmetic instead of a second traversal.
    # Filter on the UNROUNDED value (the oracle does too); round only
    # the emitted column.
    inter_bound = (
        cand.join(s1, "doc1")
        .join(s2, "doc2")
        .select(
            "doc1",
            "doc2",
            F.size("sh1").alias("n1"),
            F.size("sh2").alias("n2"),
            F.size(F.array_intersect("sh1", "sh2")).alias("ni"),
        )
    )
    jac = F.col("ni") / (F.col("n1") + F.col("n2") - F.col("ni")).cast("double")
    return (
        inter_bound.select("doc1", "doc2", jac.alias("jac_raw"))
        .where(F.col("jac_raw") >= threshold)
        .select("doc1", "doc2", F.round("jac_raw", 9).alias("jaccard"))
    )



# Below this corpus size the checkpoint job that materializes the
# narrow band-key frame costs more than simply running the signature
# pipeline once per band side (the per-job scheduling floor dominates
# sub-second pipelines); above it, recomputing the minhash transforms
# per side dominates and the single materialization wins (57.6→11.5s
# at the 100× decade). Same adaptive-impl discipline as
# similarity_search.semantic_dedup_frame's 50k pair-stage gate —
# bit-identical either way, wall-clock only.
CHECKPOINT_MIN_CORPUS = 50_000


def incremental_near_dup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    batch_mod: int = 10,
    n_docs: int | None = None,
) -> DataFrame:
    """Incremental near-dup ingestion: probe an INCOMING batch against
    the already-ingested corpus through the same MinHash band index as
    :func:`near_dup_pairs`, asymmetrically — batch bands join corpus
    bands, never corpus-vs-corpus. The batch is played by
    ``id % batch_mod == 0`` (in production the batch is yesterday's
    crawl and the corpus bands are a precomputed silver table).

    Scale shape — this is the operator that makes dedup O(batch), not
    O(corpus), per ingestion cycle: the join probes only (band_idx,
    key) buckets that the batch actually touches, so corpus rows
    outside those buckets are filter-pruned at the join. The batch/
    corpus predicates are single-sided, so Catalyst pushes them below
    any join — differently-filtered copies of the signature pipeline
    would then be canonically different subplans and ReusedExchange
    could never fire (the column-pruning lesson in its filter form);
    instead the NARROW band-key frame (doc_id + 8 short strings) is
    materialized ONCE by a ``localCheckpoint(eager=False)`` (under
    adaptive execution its shuffle stages run while the plan is built;
    only its last stage waits for the first action) and both join
    sides explode from it, while the two verify sides keep the
    flowing gram pipeline (shared via ReusedExchange when they plan
    as shuffle joins; broadcast per side at small inputs). That is
    also the production shape: the corpus band/signature tables are
    precomputed silver tables that an ingestion cycle only PROBES,
    never rebuilds. Verification Jaccard
    runs only on bucket collisions, and the final left join keys on
    the small batch side.

    Output: one row per incoming doc (including <SHINGLE-word docs,
    which carry no signature and are trivially novel):
    (doc_id, matched_doc, jaccard, is_novel) where matched_doc is the
    best corpus match (highest verified Jaccard ≥ threshold, ties to
    the lowest corpus id) or NULL.

    ``n_docs``: corpus size known to the caller (e.g. from the
    parquet footer — sources.bronze.table_num_rows). Selects WHERE
    the one pipeline materialization sits (see the branch comment
    below); omitted ⇒ the large-corpus shape, NOT a count() job —
    output is bit-identical either way, but small-corpus callers
    that omit it forgo a measured ~0.4s of scheduling floor.
    """
    n_parts = docs.sparkSession.sparkContext.defaultParallelism * 2
    # No implicit count: a caller that does not know the corpus size
    # gets the LARGE-corpus shape (the proven production default) —
    # a count() job here would cost the very scheduling floor the
    # small-corpus branch exists to save. The registered wrapper
    # threads the parquet-footer count (zero jobs).
    if n_docs is None:
        n_docs = CHECKPOINT_MIN_CORPUS
    small = n_docs < CHECKPOINT_MIN_CORPUS
    if small:
        # Right-size the partition count to the corpus (the wide_base
        # discipline): 64 fixed partitions at a few thousand docs make
        # every downstream exchange a 64-task stage of pure launch
        # overhead.
        n_parts = min(n_parts, max(8, -(-n_docs // 2000)))
    # Same exchange discipline as near_dup_pairs: spread the scan,
    # bind word hashes in their own projection, materialize gram
    # arrays once for every consumer.
    base = (
        docs.where(F.size(F.split(F.col(text_col), " ")) >= SHINGLE)
        .repartition(n_parts, F.col(id_col))
        .selectExpr(
            f"{id_col} AS doc_id", f"{word_hashes_sql(text_col)} AS wh"
        )
        .selectExpr("doc_id", f"{gram_hashes_sql('wh')} AS sh")
    )
    # WHERE the one materialization sits is scale-adaptive, because
    # the four consumers (two band-join sides, two verify sides) carry
    # canonically DIFFERENT pushed filters, so without a barrier each
    # re-plans the scan+hash pipeline from the parquet file:
    # - LARGE corpus: checkpoint the NARROW per-doc band-key frame
    #   (doc_id + 8 short strings), never the gram arrays —
    #   serializing and re-reading the wide arrays through RDD storage
    #   was the dominant 100× cost (base-checkpoint variant 57.6s vs
    #   9.5s at the 100× decade: materializing 37M-element arrays cost
    #   more than recomputing them, and every band side re-ran the 16
    #   interpreted array_min transforms over the stored arrays on
    #   top). The signature pipeline runs ONCE, inside the checkpoint
    #   job (plan-pinned: no minhash expression in the main plan); the
    #   band sides explode cheap strings; the verify sides keep the
    #   flowing gram pipeline, bounded by the SCALE.md decade walls.
    # - SMALL corpus (< CHECKPOINT_MIN_CORPUS): the gram arrays are a
    #   few MB total, so checkpoint the gram-array frame itself — one
    #   scan+hash job serves ALL FOUR consumers (the 16 signature
    #   transforms run per band side over its pushed-filter subset,
    #   which sums to one corpus pass), and the scheduling floor of a
    #   second materialization job is saved (measured 2.1s → 1.7s at
    #   sf0.1). Bit-identical either way — wall-clock only.
    if small:
        base = base.localCheckpoint(eager=False)
        sig = base.selectExpr("doc_id", *minhash_sig_sql("sh"))
        banded = sig.selectExpr("doc_id", *band_keys_sql())
    else:
        base = base.repartition(n_parts, F.col("doc_id"))
        sig = base.selectExpr("doc_id", *minhash_sig_sql("sh"))
        banded = sig.selectExpr("doc_id", *band_keys_sql()).localCheckpoint(
            eager=False
        )
    n_bands = N_HASHES // BAND_ROWS
    band_arr = ", ".join(f"band{i}" for i in range(n_bands))
    bands = banded.selectExpr(
        "doc_id", f"posexplode(array({band_arr})) AS (band_idx, key)"
    )
    s1 = base.select(F.col("doc_id").alias("doc1"), F.col("sh").alias("sh1"))
    s2 = base.select(F.col("doc_id").alias("doc2"), F.col("sh").alias("sh2"))
    if small:
        # SMALL corpus: the batch side is O(corpus/batch_mod) rows by
        # construction, so BROADCAST it into the corpus band probe —
        # the probe then fuses onto the checkpoint read (no band
        # exchanges, no shuffle_hash pair), and the dropDuplicates
        # exchange is skipped entirely: duplicate (doc1, doc2)
        # collisions produce identical verified Jaccards, and the
        # row_number winner below is invariant to duplicates — the
        # dedup pass only exists to save verify WORK, which at this
        # scale is cheaper than its exchange. The batch-gram join is
        # a broadcast for the same reason, so probe → verify →
        # window is one short chain of fused stages (measured: 11
        # jobs with four 64-task exchange stages → ~7 jobs of
        # right-sized stages at sf0.1).
        # NEGATIVE RESULT (round 11, kept so it isn't re-tried): the
        # "one corpus pass" fusion — corpus band rows CARRY their gram
        # array through the band explode so band match + verify
        # Jaccard + threshold all evaluate in one stage (two broadcast
        # joins, no cand re-broadcast, no second corpus pass) —
        # measured WORSE same-session at sf0.1: min-of-6 1.878s vs
        # 1.275s for this shape. The ×n_bands in-stage duplication of
        # ~1.6 KB gram arrays (UnsafeRow copies through Generate and
        # both join projections) costs more than the separate verify
        # pass it saves. The checkpoint/probe separation stands as the
        # measured floor, not an oversight.
        ab = F.broadcast(bands.where(F.col("doc_id") % batch_mod == 0)).alias("a")
        bb = bands.where(F.col("doc_id") % batch_mod != 0).alias("b")
        cand = ab.join(
            bb,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.key") == F.col("b.key")),
        ).select(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
        )
        inter = F.broadcast(cand.join(F.broadcast(s1), "doc1")).join(
            s2, "doc2"
        )
    else:
        a, b = bands.alias("a").hint("shuffle_hash"), bands.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.doc_id") % batch_mod == 0)
                & (F.col("b.doc_id") % batch_mod != 0),
            )
            .select(
                F.col("a.doc_id").alias("doc1"),
                F.col("b.doc_id").alias("doc2"),
            )
            .dropDuplicates(["doc1", "doc2"])
        )
        inter = cand.join(s1, "doc1").join(s2, "doc2")
    inter = inter.select(
        "doc1",
        "doc2",
        F.size("sh1").alias("n1"),
        F.size("sh2").alias("n2"),
        F.size(F.array_intersect("sh1", "sh2")).alias("ni"),
    )
    jac = F.col("ni") / (F.col("n1") + F.col("n2") - F.col("ni")).cast("double")
    hits = inter.select("doc1", "doc2", jac.alias("jac_raw")).where(
        F.col("jac_raw") >= threshold
    )
    if small:
        # Verified hits are O(batch) rows; one partition satisfies the
        # best-match window's ClusteredDistribution without an
        # exchange (the ann_lsh_topk SinglePartition trick) — the
        # whole verify → window chain fuses onto the probe stage.
        hits = hits.coalesce(1)
    w = Window.partitionBy("doc1").orderBy(F.col("jac_raw").desc(), F.col("doc2"))
    best = (
        hits.select("doc1", "doc2", "jac_raw", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .select(
            F.col("doc1").alias("doc_id"),
            F.col("doc2").alias("matched_doc"),
            F.round("jac_raw", 9).alias("jaccard"),
        )
    )
    incoming = docs.where(F.col(id_col) % batch_mod == 0).select(
        F.col(id_col).alias("doc_id")
    )
    return incoming.join(best, "doc_id", "left").select(
        "doc_id",
        "matched_doc",
        "jaccard",
        F.col("matched_doc").isNull().alias("is_novel"),
    )


def dedup_clusters(
    pairs: DataFrame,
    id1_col: str = "doc1",
    id2_col: str = "doc2",
    max_iters: int = 20,
    method: str = "propagate",
) -> DataFrame:
    """Connected components over near-duplicate pairs → dedup clusters.

    Pairwise dedup output is not actionable until pairs are folded into
    groups with one representative to keep; transitive duplicates
    (A≈B, B≈C but A‹≉›C) only connect at the cluster level. Hash-min
    label propagation: every node starts labeled with its own id; each
    iteration every node takes the min label among itself and its
    neighbors; fixpoint = min id of the component.

    Scale shape: one iteration = one equi-join on src + one groupBy
    min — both shuffle narrow (id, label) pairs, never document
    payloads. Iterations bound by the component DIAMETER (near-dup
    clusters are shallow — a handful of iterations), each one
    localCheckpoint'ed so lineage and plan size stay constant. The
    convergence check is a count action per iteration; that is the
    idiomatic Spark shape for iterative graph algorithms (GraphX /
    GraphFrames do the same under the hood).

    ``method="jump"`` adds POINTER DOUBLING (path compression) after
    each propagation step: every node additionally adopts its label's
    label (one extra equi-join on the narrow label table per
    iteration), so label paths halve each round and convergence drops
    from O(diameter) to O(log diameter) rounds. Same fixpoint, same
    output — equivalence is unit-tested on deep chains. Use it when
    components may be DEEP (long duplicate chains, transitive
    citation/URL graphs at 100 TB) where diameter-many barriers would
    dominate; plain propagation stays the default because shallow
    near-dup clusters converge in a handful of rounds anyway and skip
    the extra join.

    Convergence is VERIFIED, not assumed: if labels are still changing
    when the iteration cap is hit, the returned clusters would be
    silently split (wrong connected components) — so the loop raises
    instead of returning them. Near-dup components are shallow in
    practice; a legitimate deep-chain workload should raise
    ``max_iters`` (cost is one join + one groupBy per extra
    iteration).

    Output: (doc_id, cluster_id, cluster_size, is_representative) for
    every doc that appears in at least one pair; cluster_id = min
    doc_id of the component, which is also the row to KEEP."""
    fwd = pairs.select(F.col(id1_col).alias("src"), F.col(id2_col).alias("dst"))
    rev = pairs.select(F.col(id2_col).alias("src"), F.col(id1_col).alias("dst"))
    edges = fwd.unionByName(rev).distinct().localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    if method not in ("propagate", "jump"):
        raise ValueError(f"unknown dedup_clusters method: {method!r}")
    for _ in range(max_iters):
        # The node's OLD label rides the union as a tagged column
        # (every node appears exactly once on the labels side, so the
        # conditional max recovers it through the min-aggregate) —
        # round 11: this deletes the per-iteration new-vs-old join,
        # and the convergence count materializes the eager=False
        # checkpoint (eager ckpt + join + count was three actions;
        # dedup_keep_best 33 -> ~20 jobs at sf0.1). eager=False defers
        # only the checkpoint's last stage: under adaptive execution
        # the join and the aggregate's map side run as jobs when
        # localCheckpoint builds the RDD, before the count.
        prop = edges.join(
            labels, edges["src"] == labels["node"]
        ).select(
            F.col("dst").alias("node"),
            F.col("label"),
            F.lit(None).cast("bigint").alias("_own"),
        )
        new_labels = (
            labels.select("node", "label", F.col("label").alias("_own"))
            .unionByName(prop)
            .groupBy("node")
            .agg(
                F.min("label").alias("label"),
                F.max("_own").alias("_old"),
            )
        )
        if method == "jump":
            # pointer doubling: node -> label(label(node)). The label
            # table is its own lookup side — one narrow self-join;
            # labels are min-ids so label(label) <= label always, and
            # the left join covers labels whose node never appears as
            # a key (component minima map to themselves).
            lk = new_labels.select(
                F.col("node").alias("lk_node"), F.col("label").alias("lk_label")
            )
            new_labels = (
                new_labels.join(
                    lk, new_labels["label"] == lk["lk_node"], "left"
                )
                .select(
                    "node",
                    F.coalesce(F.col("lk_label"), F.col("label")).alias("label"),
                    "_old",
                )
            )
        new_labels = new_labels.localCheckpoint(eager=False)
        changed = new_labels.where(
            F.col("label") != F.col("_old")
        ).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"dedup_clusters did not converge in max_iters={max_iters} "
            f"iterations ({changed} labels still propagating): some "
            "component's diameter exceeds the cap and its clusters "
            "would be split. Raise max_iters."
        )
    sizes = labels.groupBy("label").count()
    return (
        labels.join(sizes, "label")
        .select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            F.col("count").alias("cluster_size"),
            (F.col("node") == F.col("label")).alias("is_representative"),
        )
    )


# Banded SimHash blocking (the 100 TB replacement for a single
# fixed-width fingerprint): B independent simhash sketches per doc,
# each over a distinct affine permutation of the gram hashes, each
# masked to an occupancy-adaptive width w. Fixing ONE 16-bit key has
# two measured defects (SCALE.md round 5): the bucket space is capped
# at 2^16 — candidates grow ∝ n²/2^16 — and unweighted votes over a
# stopword-heavy vocabulary lock most bits, collapsing effective
# entropy (437 of 5000 sf0.1 docs shared one 16-bit key). Banding over
# the VERIFY feature space (bigram hashes, not word hashes) with B
# OR-amplified tables measured 0.26 → 0.94 recall against exact
# ground truth while cutting candidates 244k → 1.9k at sf0.1.
SIMHASH_BANDS = 8
SIMHASH_MAXBITS = 30  # affine perms live in [0, P), P ≈ 2^31
SIMHASH_MINBITS = 16
SIMHASH_W_MARGIN = 2  # w = clamp(ceil(log2 n) + margin, 16, 30)
SIMHASH_A = [2_000_003 + 7_919 * j for j in range(SIMHASH_BANDS)]
SIMHASH_B = [54_321 + 104_729 * j for j in range(SIMHASH_BANDS)]


def adaptive_band_bits_py(n_docs: int) -> int:
    """Python twin of :func:`adaptive_band_bits` — same integer-exact
    formula (int.bit_length(n-1) == len(bin(n-1))), for callers that
    know the corpus size driver-side and want the band pipeline to
    compute ONLY the w live bits (57% less vote work at the w=16
    floor, and no count-subplan/crossJoin/mask in the plan)."""
    if n_docs <= 1:
        return SIMHASH_MINBITS
    return min(
        SIMHASH_MAXBITS,
        max(SIMHASH_MINBITS, (n_docs - 1).bit_length() + SIMHASH_W_MARGIN),
    )


def adaptive_band_bits(n_col: Column) -> Column:
    """Band width w from the corpus size, INTEGER-exact so Spark and a
    SQL oracle can never disagree at a power-of-two boundary:
    ceil(log2 n) = len(bin(n-1)) for n ≥ 2 — no floating log2 whose
    17.0000000000004 would ceil differently across engines. Keeping
    2^w ∝ n holds expected random-collision candidates ∝ n (B·n²/2^w);
    a fixed w is the measured 38.7×-blowup defect class (SCALE.md).
    Floor at 16 bits (small-corpus behavior, recall measured there),
    cap at 30 (perm range); beyond n ≈ 2^28 docs, widen by
    concatenating a second affine perm per band — same construction,
    2 ·30 usable bits."""
    return F.least(
        F.lit(SIMHASH_MAXBITS),
        F.greatest(
            F.lit(SIMHASH_MINBITS),
            F.length(F.bin(n_col - 1)) + F.lit(SIMHASH_W_MARGIN),
        ),
    )


def banded_simhash_doc_frame(
    gram_rows: DataFrame,
    n_docs: DataFrame | int,
    id_col: str = "doc_id",
    gram_col: str = "g",
    n_bands: int = SIMHASH_BANDS,
    weight_col: str | None = None,
    extra_aggs: tuple = (),
) -> DataFrame:
    """(id, nb, k0..k{B-1} [, extras]) ONE row per doc: B masked
    simhash sketches over EXPLODED distinct gram rows (one
    (id, gram_hash) row per distinct gram — not arrays).

    ``extra_aggs`` lets the caller fold FURTHER per-doc aggregates
    (e.g. ``collect_list(g)`` for an exact-verify gram array) into
    the SAME hash aggregate, so banding and verify share one
    aggregation pass over the gram rows instead of each re-reading
    the gram exchange (the round-7 stage-collapse for
    ngram_jaccard_dedup).

    Row-shaped input is deliberate: every step stays inside
    whole-stage codegen with ZERO higher-order functions — Spark's
    Generate re-evaluates its child expression per OUTPUT element, so
    exploding an array column produced by an interpreted HOF pipeline
    re-runs that pipeline ~|array| times per row (measured 65s vs
    0.15s on 5k docs), and Catalyst legally re-hoists the projection
    above any repartition placed to materialize it. With gram rows:
    one narrow projection computes the B affine perms per gram, then
    ONE hash aggregate per doc counts ones per (band, bit) — reusing
    the caller's hash-partitioning on the id, so banding adds NO
    shuffle. Votes are integer majorities (bit set iff 2·ones >
    n_grams: exact, engine-neutral).

    ``n_docs`` sizes the adaptive band width w. Pass a plain int
    (corpus size known driver-side — one cheap pruned-scan count) and
    the pipeline computes ONLY the w live bits per band: at the w=16
    floor that is 57% less vote work than the 30-bit-and-mask form,
    and the plan carries no count subplan, crossJoin or mask at all.
    Pass a one-row (n_docs bigint) DataFrame to keep width adaptation
    fully inside the lazy plan instead — all 30 bits are computed and
    masked to a runtime w (pass a CHEAP subplan, e.g. a pruned scan
    count: a count over the gram pipeline itself would re-run the
    expensive hashing just to size the mask). Both paths emit
    identical keys for the same corpus size. The wide aggregate needs
    spark.sql.codegen.maxFields above its column count (session.tune
    sets 512) or the whole stage silently drops to the interpreted
    row path (~40×)."""
    static_w = adaptive_band_bits_py(n_docs) if isinstance(n_docs, int) else None
    n_bits = SIMHASH_MAXBITS if static_w is None else static_w
    # PERF NOTE (round 7): every multi-term expression below is built
    # as ONE SQL string handed to F.expr/selectExpr, not as a tree of
    # Python Column operations. The Column form costs one py4j round
    # trip PER OPERATOR; with 48 SWAR counters × 3 terms plus 8 keys ×
    # w CASE-terms that is thousands of driver round trips, measured
    # at ~2.7s per query CONSTRUCTION (vs 0.3-0.5s execution!) at
    # sf0.1 — the entire residual "stage floor" of round 6 was
    # actually the driver building the plan. One parsed string per
    # expression is a single round trip; the parsed tree, the
    # generated code, and the oracle semantics are identical.
    ex = gram_rows.selectExpr(
        id_col,
        *([gram_col] if extra_aggs else []),
        *([weight_col] if weight_col else []),
        *[
            f"({gram_col} * {SIMHASH_A[j]}L + {SIMHASH_B[j]}L) % {P}L AS p{j}"
            for j in range(n_bands)
        ],
    )
    # SWAR-packed vote counters: 3 bit-positions share one bigint
    # accumulator in 21-bit slots (counts up to 2^21−1 ≈ 2M distinct
    # grams per doc — far beyond any real document; a doc above that
    # would need >2M distinct bigrams). Packing cuts the aggregate
    # to a third of the columns, which roughly third-sizes the
    # generated hash-agg code (first-run Janino compile ~25s → ~8s)
    # without touching semantics: the oracle only has to agree with
    # the UNPACKED per-(band, bit) ones counts.
    #
    # ``weight_col`` switches to WEIGHTED votes (bit set iff
    # 2·Σ w over set-bit grams > Σ w over all grams): each slot then
    # accumulates weight, so the per-doc bound tightens to
    # 2^21 / max_weight distinct grams — with IDF weights capped by
    # bit_length(n_docs) ≤ 31, that is ≥ 67k distinct grams per doc,
    # still far beyond real documents. nb stays the UNWEIGHTED set
    # size: weights shape only the BLOCKING keys, never the exact
    # Jaccard verify or its length filter.
    n_slots = (n_bits + 2) // 3
    wt = f" * {weight_col}" if weight_col else ""
    counters = [F.expr("count(*) AS nb")]
    if weight_col:
        counters.append(F.expr(f"sum({weight_col}) AS tw"))
    total = "tw" if weight_col else "nb"
    for j in range(n_bands):
        for s in range(n_slots):
            terms = []
            for lvl in range(3):
                i = s + lvl * n_slots
                if i >= n_bits:
                    break
                terms.append(
                    f"shiftleft((shiftright(p{j}, {i}) & 1){wt}, {lvl * 21})"
                )
            counters.append(
                F.expr(f"sum({' + '.join(terms)}) AS acc_{j}_{s}")
            )
    votes = ex.groupBy(id_col).agg(*counters, *extra_aggs)

    def ones(j: int, i: int) -> str:
        s, lvl = i % n_slots, i // n_slots
        return f"(shiftright(acc_{j}_{s}, {lvl * 21}) & {(1 << 21) - 1})"

    def key_expr(j: int) -> str:
        cases = " + ".join(
            f"(CASE WHEN 2 * {ones(j, i)} > {total}"
            f" THEN CAST({1 << i} AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END)"
            for i in range(n_bits)
        )
        return f"({cases}) AS k{j}"

    keys = [key_expr(j) for j in range(n_bands)]
    known = {id_col, "nb", "tw"} | {
        f"acc_{j}_{s}" for j in range(n_bands) for s in range(n_slots)
    }
    extras = [c for c in votes.columns if c not in known]
    if static_w is not None:
        # keys already exactly w bits wide — no mask, no count branch
        return votes.selectExpr(id_col, "nb", *extras, *keys)
    return (
        votes.selectExpr(id_col, "nb", *extras, *keys)
        .crossJoin(F.broadcast(n_docs))
        .withColumn("w", adaptive_band_bits(F.col("n_docs")))
        .selectExpr(
            id_col,
            "nb",
            *extras,
            *[
                f"k{j} & (shiftleft(CAST(1 AS BIGINT), w) - 1) AS k{j}"
                for j in range(n_bands)
            ],
        )
    )


def banded_simhash_bands(
    gram_rows: DataFrame,
    n_docs: DataFrame | int,
    id_col: str = "doc_id",
    gram_col: str = "g",
    n_bands: int = SIMHASH_BANDS,
    weight_col: str | None = None,
) -> DataFrame:
    """(id, nb, band, key) EXPLODED band rows — thin wrapper over
    :func:`banded_simhash_doc_frame`. posexplode's per-element
    re-eval is harmless here: the child is integer arithmetic over
    already-aggregated columns."""
    frame = banded_simhash_doc_frame(
        gram_rows, n_docs, id_col, gram_col, n_bands, weight_col
    )
    karr = ", ".join(f"k{j}" for j in range(n_bands))
    return frame.selectExpr(
        id_col,
        "nb",
        f"posexplode(array({karr})) AS (band, key)",
    )


def simhash16_from_hashes(h: Column) -> Column:
    """16-bit SimHash over a pre-computed token-hash array column."""

    def bit_vote(j: int):
        return lambda x: (
            F.when(F.shiftright(x, j).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(
                F.lit(-1)
            )
        )

    bits = []
    for j in range(16):
        vote = F.aggregate(F.transform(h, bit_vote(j)), F.lit(0), lambda acc, v: acc + v)
        bits.append(F.when(vote > 0, F.lit(1 << j)).otherwise(F.lit(0)))
    out = bits[0]
    for bcol in bits[1:]:
        out = out + bcol
    return out
