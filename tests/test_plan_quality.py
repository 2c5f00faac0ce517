"""Physical-plan regression tests: the properties that make these
queries scale — filter/column pushdown into the parquet scan, dim-side
broadcast joins, exchange reuse on self-joins — asserted against the
executed plan so a refactor can't silently regress them (SURVEY §4,
§7.2 step 11)."""

from __future__ import annotations

import re

import pytest

from multi_crm_cross_sell_spark.plans import all_queries

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = all_queries()[name].fn(spark, SF)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def test_filter_projection_pushdown(spark):
    plan = _plan(spark, "filter_projection")
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and pushed.group(1).strip(), "filters must reach the scan"
    schemas = re.findall(r"ReadSchema: struct<([^>]*)", plan)
    assert schemas, "expected a parquet ReadSchema"
    # column pruning: the lineitem scan must not read all 16 columns
    assert all(s.count(":") <= 8 for s in schemas), schemas


def test_dim_join_broadcasts(spark):
    plan = _plan(spark, "join_revenue_by_nation")
    assert "BroadcastHashJoin" in plan, "nation dim should broadcast"
    assert "SortMergeJoin" not in plan


def test_minhash_band_join_reuses_exchange(spark):
    # exchange reuse is resolved by AQE at runtime: execute, then read
    # the final adaptive plan
    df = all_queries()["minhash_near_dup"].fn(spark, SF)
    df.write.mode("overwrite").format("noop").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the shuffle_hash hint must hold: a broadcast band self-join would
    # recompute the signature pipeline on the broadcast side. (With
    # identical sides the shuffled join also enables ReusedExchange —
    # observed at sf>=0.01; at sf0.001 AQE may still legally plan the
    # two tiny exchanges separately, so assert the join strategy.)
    assert "ShuffledHashJoin" in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "blocked_similarity_join",
        "er_match_cascade",
        "jaro_winkler_pairs",
        "er_threshold_sweep",
    ],
)
def test_blocked_part_pair_join_never_broadcasts_corpus(spark, name):
    # The blocked part self-join must stay the shuffle_hash form on the
    # key-repartitioned input: its build side is the whole part
    # projection, which grows with the corpus (~1 GB at the 100x
    # decade), so a broadcast here is a scale ceiling regardless of
    # sf0.001's size.
    df = all_queries()[name].fn(spark, SF)
    df.write.mode("overwrite").format("noop").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_jaro_pairs_udf_evaluated_once(spark):
    # round-14 (guide §4.4): the jw >= 0.9 filter references the UDF's
    # output column, and a deterministic UDF gets DUPLICATED by filter
    # pushdown — two ArrowEvalPython nodes, every candidate pair paying
    # the kernel twice. The floor UDF instance is marked
    # non-deterministic as an optimizer fence; exactly ONE Python
    # evaluation node may remain.
    df = all_queries()["jaro_winkler_pairs"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_eval = plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")
    assert n_eval == 1, plan


def test_flagship_pair_join_is_capped_cross_join(spark):
    plan = _plan(spark, "cross_sell_recommendations")
    # the pair space is top-k capped BEFORE the cross join: both rank
    # windows must appear below the cartesian/nested-loop join
    assert re.search(r"CartesianProduct|BroadcastNestedLoopJoin", plan)
    assert plan.count("Window") >= 2


def test_score_explanations_plans_a_top_k(spark):
    # LIMIT over ONE projection over the flagship's sort plans as
    # TakeOrderedAndProject (a per-partition partial top-100). A second
    # stacked projection turns it into a CollectLimit over a global
    # sort with a range-partitioned exchange: two more jobs and a
    # shuffle. Read the final adaptive plan after an action.
    df = all_queries()["score_explanations"].fn(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "CollectLimit" not in plan, plan


def test_ranking_eval_metrics_aggregates_orders_once(spark):
    # spend, recency and the label come from ONE GROUP BY o_custkey:
    # one shuffle of orders, not one per label.
    df = all_queries()["ranking_eval_metrics"].fn(spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    aggs = re.findall(r"Aggregate \[o_custkey#\d+L?\]", plan)
    assert len(aggs) == 1, plan


def test_topk_per_group_has_partial_windows(spark):
    plan = _plan(spark, "topk_per_group")
    # rank filter must stay a Window + Filter, not a global sort+limit
    assert "Window" in plan
    assert "GlobalLimit" not in plan.split("Window")[0]


def test_no_hof_expressions_inside_filters(spark):
    """Pushdown and join-constraint inference INLINE derived columns
    into Filter nodes; if the column nests a higher-order function,
    the whole pipeline re-runs per row (or per element) at the scan —
    two 8-20x regressions came from exactly this. Guard the dedup
    family's optimized plans against it."""
    for name in (
        "minhash_near_dup",
        "ngram_jaccard_dedup",
        "near_dup_clusters",
        "embedding_near_dup",
        "ann_lsh_topk",
        "simhash_fingerprints",
    ):
        df = all_queries()[name].fn(spark, SF)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        for line in plan.splitlines():
            ls = line.strip()
            if "Filter" in ls:
                assert "transform(" not in ls and "aggregate(" not in ls, (
                    f"{name}: HOF inlined into a Filter node:\n{ls[:300]}"
                )


def test_bloom_probe_hash_inlining_is_bounded(spark):
    """Round-12 ADVICE verification: the _p{i} projection in
    bloom_prune_row does NOT survive optimization — Catalyst collapses
    the deterministic aliases back into the probe predicate, so the
    optimized plan carries pmod(xxhash64) twice per probe (word index
    + bit shift) on the probe side plus k on the build side: exactly
    3k total. Pin that count so (a) the docstring's claim stays
    honest and (b) a regression that starts inlining the hash MORE
    than 2x per probe (e.g. a lost collect/alias boundary) fails
    loudly. Runtime dedup of the 2k probe evaluations rests on
    codegen subexpression elimination, asserted enabled here."""
    from multi_crm_cross_sell_spark.operators.bloom import (
        BLOOM_K,
        bloom_prune_row,
        bloom_row,
    )

    base = spark.range(64).selectExpr("CAST(id AS STRING) AS g")
    bl = bloom_row(spark.range(32).selectExpr("CAST(id AS STRING) AS g"), "g")
    out = bloom_prune_row(base, "g", bl)
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("xxhash64") == 3 * BLOOM_K, opt
    assert (
        spark.conf.get("spark.sql.subexpressionElimination.enabled", "true")
        == "true"
    )


def test_ngram_gram_pipeline_runs_once(spark):
    """Round-6/7 regression pin: the gram pipeline (scan → explode →
    md5 → window → dedup → composite doc aggregate) must execute
    ONCE. Round 7 moved the materialization point to a lazy
    localCheckpoint of the per-doc frame, because a repartition
    exchange cannot be shared here: column pruning specializes each
    consumer's copy of the composite aggregate (the verify broadcasts
    keep only collect_list), the canonical subplans diverge and
    ReusedExchange never fires — the gram pipeline then re-runs per
    consumer. The final plan must therefore contain NO parquet scan
    and NO window at all (they live inside the checkpointed RDD,
    computed once and served from the RDD cache), only ExistingRDD
    scans of the checkpoint."""
    df = all_queries()["ngram_jaccard_dedup"].fn(spark, SF)
    # collect, not a noop write: df._jdf.queryExecution() is only the
    # execution that ran for actions on the SAME DataFrame — a write
    # spawns its own QueryExecution, leaving this one un-finalized
    # (isFinalPlan=false, inline duplicate subplans, no reuse info).
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    final = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"FileScan parquet", final)) == 0, final
    assert len(re.findall(r"Window", final)) == 0, final
    assert len(re.findall(r"ExistingRDD", final)) >= 1, final


def test_range_join_is_equi_not_nested_loop(spark):
    # The whole point of the bin-bucketed rewrite: the inequality join
    # must plan as a hash equi-join on (user_id, bin), never as a
    # nested-loop / cartesian over the per-user groups.
    plan = _plan(spark, "range_join_incidents")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan, plan


def test_embedding_plans_scalar_layout_and_bounded_planning(spark):
    """Round-7 regression pins for the embedding family:

    1. Planning must COMPLETE (and fast). The constraint-propagation
       closure (an aliased wide expression — the old norm column —
       plus 64 column renames) OOM'd the driver inside
       getAllValidConstraints before any task ran; a hang/OOM here is
       that bug returning.
    2. All pair-stage dot products must run on the SCALAR-COLUMN
       layout (v_0..v_63), never on two array columns: a 64-dim
       two-array dot exceeds HotSpot's 8000-byte DontCompileHugeMethods
       limit once fused, and the whole stage silently runs in the
       bytecode interpreter (~130x, SCALE.md). The array form may
       appear ONLY in the unpack projections feeding wide_base.
    """
    import time

    for name in (
        "ann_lsh_topk",
        "ann_ivf_topk",
        "embedding_near_dup",
        "cosine_topk_bruteforce",
    ):
        t0 = time.time()
        df = all_queries()[name].fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert time.time() - t0 < 120, f"{name}: planning took too long"
        # every reference to the raw array column must be an unpack
        # subscript (embedding[i]) inside a projection — a bare
        # `embedding#` operand in a *multiply* means an array-form dot
        # survived somewhere.
        for line in plan.splitlines():
            if "* embedding#" in line or "embedding#" in line and "] *" in line:
                raise AssertionError(
                    f"{name}: array-form dot product in plan:\n{line[:300]}"
                )


def test_wide_base_has_no_wide_alias(spark):
    """wide_base must expose only vec_id + v_0..v_63 — no norm column
    (the constraint bomb) and no array column (the JIT cliff)."""
    from multi_crm_cross_sell_spark.operators.similarity_search import (
        DIM,
        wide_base,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    cols = wide_base(e).columns
    assert cols == ["vec_id"] + [f"v_{i}" for i in range(DIM)]


def _oracle_assignment():
    """(vec_id, cell, proto_sim) from DuckDB: the ann_ivf_topk oracle's
    own CTEs up to its per-centroid ``sims`` (lowest-id codebook,
    ROUND(cos, 9)), then the ``assigned`` winner rule — argmax of the
    rounded similarity, ties to the lowest cent_id — with the winning
    similarity kept. An engine-independent spec for the assignment
    kernel: a single differing row means its accumulation order, its
    HALF_UP nano rounding or its packed tie-break broke."""
    from check import duck_connect

    from multi_crm_cross_sell_spark.plans.datapipe import _ivf_oracle

    sql = _ivf_oracle()
    head = sql[: sql.index("ranked AS (")].rstrip().rstrip(",")
    con = duck_connect(SF)
    try:
        return con.execute(
            head
            + """
SELECT vec_id, cent_id AS cell, cent_sim AS proto_sim FROM (
  SELECT vec_id, cent_id, cent_sim,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cent_sim DESC, cent_id) AS rn
  FROM sims
) WHERE rn = 1 ORDER BY vec_id
"""
        ).fetchdf()
    finally:
        con.close()


def _by_cent_id(assigned, cents):
    """The kernel's (vec_id, cell = cent_ix, proto_sim) with each cell
    mapped to its centroid's vec_id, as the oracle names cells."""
    from pyspark.sql import functions as F

    lut = cents.select("cent_ix", F.col("cent_id").alias("cell_id"))
    return (
        assigned.join(F.broadcast(lut), assigned.cell == lut.cent_ix)
        .select("vec_id", F.col("cell_id").alias("cell"), "proto_sim")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )


def test_ivf_assign_matches_oracle_assignment(spark):
    """The Arrow assignment kernel's winner and winning similarity
    equal the DuckDB spec exactly, row for row."""
    from multi_crm_cross_sell_spark.operators.similarity_search import (
        ivf_assign,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    _, cents, a = ivf_assign(e, None, with_vectors=False, with_sim=True)
    got = _by_cent_id(a, cents)
    want = _oracle_assignment()
    assert len(got) == len(want) > 0
    assert (got["vec_id"].values == want["vec_id"].values).all()
    assert (got["cell"].values == want["cell"].values).all()
    assert (got["proto_sim"].values == want["proto_sim"].values).all()


def test_ivf_assign_arrow_chunking_is_winner_invariant(spark):
    """Centroid chunking takes a running max over the packed keys —
    associative, so the winner must not depend on where blocks are
    cut. A tiny block size forces multiple blocks at test scale
    (c is far below the production default of 1024)."""
    from multi_crm_cross_sell_spark.operators.similarity_search import (
        _assign_cells_arrow,
        ivf_assign,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    base, cents, _ = ivf_assign(e, None)
    chunked = _assign_cells_arrow(base, cents, 64, cblock=7)
    whole = _assign_cells_arrow(base, cents, 64)
    mism = (
        chunked.join(
            whole.select("vec_id", whole.cell.alias("cell_w")), "vec_id"
        )
        .where("cell != cell_w")
        .count()
    )
    assert mism == 0


def test_ivf_assign_with_sim_parity(spark):
    """with_sim carries the winner cosine OUT of the packed argmax key
    (nanos/1e9) instead of recomputing the dot. Two invariants:
    (1) with_sim changes no cell assignment vs the default path;
    (2) the unpacked sim equals the recomputed ROUND(dot/(|v||c|), 9)
        against the assigned centroid — the claim that nanos/1e9 IS
        the correctly-rounded ROUND(sim, 9)."""
    from multi_crm_cross_sell_spark.operators.similarity_search import (
        DIM,
        dot_cols,
        ivf_assign,
        norm_cols,
    )
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    _, _, a = ivf_assign(e, None, with_vectors=False, with_sim=True)
    pa = a.toPandas().sort_values("vec_id").reset_index(drop=True)
    assert list(pa.columns) == ["vec_id", "cell", "proto_sim"]
    _, _, plain = ivf_assign(e, None, with_vectors=False)
    pc = plain.toPandas().sort_values("vec_id").reset_index(drop=True)
    assert (pa["vec_id"].values == pc["vec_id"].values).all()
    assert (pa["cell"].values == pc["cell"].values).all()
    # (2): recompute the dot against the assigned centroid, the way the
    # pre-round-10 consumers did, and demand exact equality.
    _, cents, wide = ivf_assign(e, None, with_sim=True)
    sim = F.expr(
        f"ROUND({dot_cols('v', 'c', DIM)}"
        f" / ({norm_cols('v', DIM)} * {norm_cols('c', DIM)}), 9)"
    )
    mism = (
        wide.join(F.broadcast(cents), wide.cell == cents.cent_ix)
        .select("vec_id", "proto_sim", sim.alias("recomputed"))
        .where("proto_sim != recomputed")
        .count()
    )
    assert mism == 0


def test_ann_ivf_codebook_is_a_local_relation(spark):
    """ivf_assign hands the probe side its codebook as a LocalRelation
    built from the rows the assignment kernel already collected, so
    the executed plan reads it with a LocalTableScan and never
    re-derives it from the corpus with a TakeOrderedAndProject."""
    df = all_queries()["ann_ivf_topk"].fn(spark, SF)
    df.write.mode("overwrite").format("noop").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "TakeOrderedAndProject" not in plan, plan


def test_adaptive_coarse_formula():
    from multi_crm_cross_sell_spark.operators.similarity_search import (
        adaptive_coarse,
    )

    assert adaptive_coarse(16) == 4
    assert adaptive_coarse(15) == 4  # floor at MIN_COARSE
    assert adaptive_coarse(70) == 8
    assert adaptive_coarse(447) == 21
    assert adaptive_coarse(100_000) == 316


def test_ivf2_fine_labels_cover_every_coarse_cell(spark):
    """Every coarse centroid is also a fine centroid (both are
    lowest-id prefixes), so it must label to ITSELF — the SELF bit in
    the label argmax — or a coarse cell can end up with zero fine
    centroids while vectors still coarse-assign to it, and the
    stage-2 inner join silently drops them from the index (round-10
    review finding). Adversarial corpus: the first two vectors are
    IDENTICAL (their mutual cosine ties at exactly 1.0), so without
    the self bit fine centroid 1 would label to coarse cell 0 and
    coarse cell 1 would be empty. Full-probe search must still reach
    every vector."""
    import numpy as np
    from multi_crm_cross_sell_spark.operators.similarity_search import (
        ivf2_topk,
    )
    from pyspark.sql import functions as F

    rng = np.random.RandomState(7)
    n = 40
    # Coarse centroids are vecs 0..3. Make c1 = c0 + 1e-4·e1: their
    # mutual cosine rounds to exactly 1.0 at 9 dp (angle ~2e-5 rad),
    # so WITHOUT the self bit fine centroid 1 labels to coarse cell 0
    # and cell 1 has no fine centroids. Vec 20 leans toward e1, so its
    # cosine to c1 beats c0 by ~1e-5 (10_000 nanos — far above the
    # rounding quantum): it coarse-assigns to cell 1 and would be
    # DROPPED by the stage-2 inner join without the fix.
    v0 = [4.0 if d == 0 else 0.1 for d in range(64)]
    v1 = list(v0)
    v1[1] += 1e-4
    vk = list(v0)
    vk[1] += 0.5
    rows = []
    for i in range(n):
        if i == 0:
            v = v0
        elif i == 1:
            v = v1
        elif i == 20:
            v = vk
        else:
            v = [float(round(x, 3)) for x in rng.uniform(-1, 1, 64)]
            # fillers lean AWAY from e1 so no fine centroid among them
            # can prefer c1 over c0 — cell 1 stays fine-centroid-free
            # without the self bit, making vec 20 the provable drop
            v[1] = -abs(v[1])
        rows.append((i, [float(x) for x in v]))
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    # c = max(16, isqrt(40)) = 16, c1 = 4; full probes p1=4, p2=16 and
    # k=n: every non-query vector must appear as a candidate — a
    # dropped stage-2 vector shows up as a missing row here.
    out = ivf2_topk(
        e, F.col("vec_id") % 10 == 0, k=n, p1=4, p2=16, n_vectors=n
    ).toPandas()
    for qid, grp in out.groupby("query_id"):
        assert len(grp) == n - 1, (
            f"query {qid}: {len(grp)} candidates, expected {n - 1} — "
            "a vector was dropped at stage 2"
        )
        assert sorted(grp["rk"]) == list(range(1, len(grp) + 1))
    # real-corpus smoke (exercises the non-degenerate impl path at
    # parquet scale): ranks per query are contiguous 1..len
    ep = spark.read.parquet(f"{SF}/embeddings.parquet")
    out2 = ivf2_topk(
        ep, F.col("vec_id") % 100 == 0, k=3, n_vectors=ep.count()
    ).toPandas()
    assert (out2["rk"] <= 3).all()
    for _qid, grp in out2.groupby("query_id"):
        assert sorted(grp["rk"]) == list(range(1, len(grp) + 1))


def test_ivf2_fused_assignment_matches_jvm(spark):
    """The round-14 fused two-level assignment kernel
    (_ivf2_labels_np + _ivf2_assign_arrow) must be bit-identical to
    the JVM dataflow it replaced: lab_packed label argmax, stage-1
    _assign_cells_arrow vs the coarse codebook, stage-2 broadcast
    join + packed argmax restricted to the vector's coarse cell.
    Corpus: the sf0.001 embeddings PLUS a duplicated row pair (vec 0
    re-appended under a new id) so 1.0-cosine label/assignment ties
    exercise the packed tie-break toward the lowest cent_ix."""
    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from multi_crm_cross_sell_spark.operators.similarity_search import (
        _assign_cells_arrow,
        _ivf2_assign_arrow,
        _ivf2_labels_np,
        adaptive_coarse,
        adaptive_codebook,
        dot_cols,
        norm_cols,
        rename_exprs,
        wide_base,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dup = e.where(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    e = e.unionByName(dup)
    n = e.count()
    dim = 64
    c, _ = adaptive_codebook(n)
    c1 = adaptive_coarse(c)
    base = wide_base(e, "vec_id", "embedding", dim, n_rows=n).localCheckpoint(
        eager=False
    )
    cw = Window.orderBy("cent_id")
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
    co = coarse.selectExpr(
        "cent_id AS co_id",
        "cent_ix AS co_ix",
        *[f"c_{i} AS o_{i}" for i in range(dim)],
    )
    # numpy side
    rows = sorted(
        base.orderBy("vec_id").limit(c).collect(), key=lambda r: r["vec_id"]
    )
    Cf = np.array([[r[f"v_{i}"] for i in range(dim)] for r in rows])
    f_ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    Cc, c_ids = Cf[:c1], f_ids[:c1]
    f_cix = np.arange(c, dtype=np.int64)
    c_cix = np.arange(c1, dtype=np.int64)
    flab = _ivf2_labels_np(Cf, f_ids, Cc, c_ids, c_cix, True)
    # JVM labels (the lab_packed form ivf2_topk still uses for probes)
    lab_raw = (
        f"{dot_cols('c', 'o', dim)}"
        f" / ({norm_cols('c', dim)} * {norm_cols('o', dim)})"
    )
    lab_packed = F.expr(
        f"((CAST(ROUND(({lab_raw}) * 1000000000) AS BIGINT) + 1000000000L) * 2"
        f" + (CASE WHEN cent_id = co_id THEN 1L ELSE 0L END))"
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
    jvm_lab = {r["cent_ix"]: r["co_ix"] for r in labels.collect()}
    assert jvm_lab == {int(i): int(flab[i]) for i in range(c)}
    # JVM stage-2 (the replaced dataflow), restricted to the coarse cell
    fine_lab = fine.join(F.broadcast(labels), "cent_ix")
    vco = _assign_cells_arrow(base, coarse, dim)
    s2_raw = (
        f"{dot_cols('v', 'c', dim)}"
        f" / ({norm_cols('v', dim)} * {norm_cols('c', dim)})"
    )
    s2_packed = F.expr(
        f"(CAST(ROUND(({s2_raw}) * 1000000000) AS BIGINT) + 1000000000L)"
        f" * 2097152L + (1048576L - cent_ix)"
    )
    cells2 = (
        base.join(vco.selectExpr("vec_id", "cell AS vco"), "vec_id")
        .join(F.broadcast(fine_lab), F.col("co_ix") == F.col("vco"))
        .select("vec_id", s2_packed.alias("pk"))
        .groupBy("vec_id")
        .agg(F.max("pk").alias("pk"))
        .select(
            "vec_id",
            (
                F.lit(1048576).cast("bigint")
                - F.pmod(F.col("pk"), F.lit(2097152))
            ).alias("cell"),
        )
    )
    jvm_cells = {r["vec_id"]: r["cell"] for r in cells2.collect()}
    fused = _ivf2_assign_arrow(base, Cf, f_cix, flab, Cc, c_cix, dim)
    fused_cells = {r["vec_id"]: r["cell"] for r in fused.select("vec_id", "cell").collect()}
    assert fused_cells == jvm_cells


def test_ivf2_kmeans_mode_covers_every_vector(spark):
    """Trained-codebook mode: coarse/fine KMeans codebooks are
    disjoint point sets (no self bit possible), so validity comes from
    DROPPING empty coarse cells before assignment/probing. Full-probe
    search over the real sf0.001 corpus must reach every vector —
    a dropped stage-2 vector shows up as a missing candidate row."""
    from multi_crm_cross_sell_spark.operators.similarity_search import (
        adaptive_codebook,
        adaptive_coarse,
        ivf2_topk,
    )
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    n = e.count()
    c, _ = adaptive_codebook(n)
    c1 = adaptive_coarse(c)
    out = ivf2_topk(
        e,
        F.col("vec_id") % 50 == 0,
        k=n,
        p1=c1,
        p2=c,
        n_vectors=n,
        centroids="kmeans",
    ).toPandas()
    for qid, grp in out.groupby("query_id"):
        assert len(grp) == n - 1, (
            f"query {qid}: {len(grp)} candidates, expected {n - 1}"
        )
        assert sorted(grp["rk"]) == list(range(1, len(grp) + 1))


def test_semantic_dedup_arrow_matches_join(spark):
    """The per-cell Arrow SemDeDup pass must be bit-identical to the
    within-cell equi-join form: same ordered accumulation for dots and
    norms, same exact-HALF_UP ROUND(·, 9), same lower-id triangular
    pairing. impl='auto' switches between them on corpus size, so
    equality is what makes the switch invisible."""
    from multi_crm_cross_sell_spark.operators.similarity_search import (
        semantic_dedup_frame,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = (
        semantic_dedup_frame(e, threshold=0.7, n_centroids=None, impl="arrow")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    b = (
        semantic_dedup_frame(e, threshold=0.7, n_centroids=None, impl="join")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    assert list(a.columns) == list(b.columns)
    assert a.equals(b)


def test_span_stats_single_gram_exchange_no_checkpoint(spark):
    """Late-round-8 regression pin for repeated_span_stats: the
    cross-doc test is min/max-doc_id WINDOW functions over the gram
    partition, so the gram stream must cross the wire ONCE — the plan
    carries exactly one parquet scan of documents (no checkpointed
    second pipeline, no agg + join-back re-exchange of gram strings)
    and no join before the final per-doc left join."""
    plan = _plan(spark, "repeated_span_stats")
    # numbered detail sections re-print each node: count tree nodes
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 2, plan
    assert "ExistingRDD" not in plan, plan  # no checkpoint in this query


def test_span_removal_tail_has_no_token_rejoin(spark):
    """Late-round-8 regression pin for the _span_removal_tail rewrite:
    cleaned text reassembles from the document's own words array via a
    positional higher-order filter — the plan must contain NO
    left-anti join (the retired token anti-join), NO Generate for a
    covered-position explode, and NO collect_list re-aggregation of
    (pos, w) structs. One Generate remains: the token posexplode that
    feeds gram construction."""
    for name in ("repeated_span_removal", "decontamination_span_removal"):
        plan = _plan(spark, name)
        assert "LeftAnti" not in plan, (name, plan)
        assert len(re.findall(r"Generate ", plan)) <= 2, (name, plan)
        assert "collect_list(struct(pos" not in plan, (name, plan)


def test_table_num_rows_matches_spark_count(spark, sf_dir):
    """The footer-based row count (zero Spark jobs) must agree with a
    real count for both layouts: the single-file testdata parquet and
    a Spark-written DIRECTORY dataset (the tools/scale_bench corpora
    broke the single-file assumption in round 9)."""
    import os
    import tempfile

    from multi_crm_cross_sell_spark.sources.bronze import table_num_rows

    want = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert table_num_rows(sf_dir, "documents") == want

    with tempfile.TemporaryDirectory() as tmp:
        spark.range(0, 1234, 1, 7).write.mode("overwrite").parquet(
            os.path.join(tmp, "things.parquet")
        )
        assert table_num_rows(tmp, "things") == 1234


def test_pinned_schema_cache_invalidates_on_rewrite(spark):
    """_read_pinned caches the inferred StructType per file signature;
    a rewritten file (single-file OR a part file inside a directory
    dataset whose directory stat does not change — the round-10
    review finding) must re-infer, never read with the stale schema."""
    import os
    import tempfile
    import time as _time

    from multi_crm_cross_sell_spark.sources.bronze import _read_pinned

    with tempfile.TemporaryDirectory() as tmp:
        p = os.path.join(tmp, "t.parquet")
        spark.range(5).repartition(1).selectExpr("id AS a").write.mode(
            "overwrite"
        ).parquet(p)
        assert _read_pinned(spark, p).columns == ["a"]
        # Rewrite the single part file's BYTES in place (same
        # filename), drop the now-stale checksum sidecars, and restore
        # the directory's own (atime, mtime): the pre-fix cache key
        # (dir stat) is then IDENTICAL and the stale schema would be
        # served — only the per-file fingerprint catches the rewrite.
        st0 = os.stat(p)
        tmp2 = os.path.join(tmp, "t2")
        spark.range(5).repartition(1).selectExpr(
            "id AS b", "id * 2 AS c"
        ).write.mode("overwrite").parquet(tmp2)
        _time.sleep(0.01)
        (old_part,) = [f for f in os.listdir(p) if f.endswith(".parquet")]
        (new_part,) = [f for f in os.listdir(tmp2) if f.endswith(".parquet")]
        with open(os.path.join(tmp2, new_part), "rb") as src:
            data = src.read()
        with open(os.path.join(p, old_part), "wb") as dst:
            dst.write(data)
        for f in os.listdir(p):
            if f.endswith(".crc"):
                os.remove(os.path.join(p, f))
        os.utime(p, (st0.st_atime, st0.st_mtime))
        assert sorted(_read_pinned(spark, p).columns) == ["b", "c"]


def test_wide_base_partitions_track_corpus_size(spark, sf_dir):
    """wide_base(n_rows=...) sizes the frame's partition count as
    ceil(n/2000) within [8, 2x cores] — the round-9 fix for every
    index-pipeline job paying 64 tasks regardless of corpus size —
    and leaves the legacy 2x-cores spread when the caller knows
    nothing."""
    from multi_crm_cross_sell_spark.operators.similarity_search import (
        wide_base,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cap = spark.sparkContext.defaultParallelism * 2
    # the floor itself is capped at 2x cores, so the expectation must
    # be too (a 2-core box has cap=4 < the 8-partition floor)
    assert wide_base(e, n_rows=500).rdd.getNumPartitions() == min(cap, 8)
    assert wide_base(e, n_rows=40_000).rdd.getNumPartitions() == min(
        cap, 20
    )
    assert wide_base(e, n_rows=10**9).rdd.getNumPartitions() == cap
    assert wide_base(e).rdd.getNumPartitions() == cap
