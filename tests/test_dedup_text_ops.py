"""Unit tests for the dedup / text-analysis / summarization operators
added beyond the reference surface (BASELINE.json north star)."""

from __future__ import annotations

import hashlib


from pyspark.sql import functions as F

from multi_crm_cross_sell_spark.operators.dedup import P
from multi_crm_cross_sell_spark.operators.similarity_search import (
    embedding_near_dup_pairs,
)
from multi_crm_cross_sell_spark.operators.summarize import (
    extractive_summary,
    summarize,
)

_ROLL_R = 1_000_003


def _py_base_hash(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % P


class TestRollingHash:
    def test_matches_python_reference(self, spark, sf_dir):
        from multi_crm_cross_sell_spark.plans import all_queries

        q = all_queries()["rolling_hash_fingerprints"]
        got = {r.doc_id: r.rolling_fp for r in q.fn(spark, sf_dir).collect()}
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(5).collect()
        for d in docs:
            acc = 0
            for tok in d.text.split(" "):
                acc = (acc * _ROLL_R + _py_base_hash(tok)) % P
            assert got[d.doc_id] == acc


class TestEmbeddingNearDup:
    def test_self_pairs_excluded_and_ordered(self, spark, sf_dir):
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        out = embedding_near_dup_pairs(e, threshold=-1.0).limit(50).collect()
        assert all(r.id1 < r.id2 for r in out)

    def test_identical_vectors_cosine_one(self, spark):
        rows = [(1, [1.0] * 8), (2, [1.0] * 8), (3, [-1.0] * 8)]
        e = spark.createDataFrame(rows, ["vec_id", "embedding"])
        out = {
            (r.id1, r.id2): r.cosine
            for r in embedding_near_dup_pairs(
                e, threshold=0.99, dim=8
            ).collect()
        }
        assert out == {(1, 2): 1.0}


class TestDedupClusters:
    def test_transitive_chain_folds_into_one_cluster(self, spark):
        from multi_crm_cross_sell_spark.operators.dedup import dedup_clusters

        # 1-2-3 chain (1 and 3 never paired directly), 10-11 pair,
        # plus an isolated pair 20-21
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21)], ["doc1", "doc2"]
        )
        got = {
            r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_representative"])
            for r in dedup_clusters(pairs).collect()
        }
        assert got[1] == (1, 3, True)
        assert got[2] == (1, 3, False)
        assert got[3] == (1, 3, False)  # transitive member joins via 2
        assert got[10] == (10, 2, True) and got[11] == (10, 2, False)
        assert got[20] == (20, 2, True) and got[21] == (20, 2, False)

    def test_long_path_converges(self, spark):
        from multi_crm_cross_sell_spark.operators.dedup import dedup_clusters

        # path graph 0-1-2-...-9: worst-case diameter for propagation
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(9)], ["doc1", "doc2"]
        )
        rows = dedup_clusters(pairs).collect()
        assert {r["cluster_id"] for r in rows} == {0}
        assert all(r["cluster_size"] == 10 for r in rows)

    def test_iteration_cap_detected_not_silent(self, spark):
        # A diameter-9 path cannot converge in 2 iterations; the loop
        # must raise, never return silently split clusters (ADVICE r3).
        import pytest

        from multi_crm_cross_sell_spark.operators.dedup import dedup_clusters

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(9)], ["doc1", "doc2"]
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup_clusters(pairs, max_iters=2)


class TestSummarize:
    def test_extractive_rule(self):
        text = "short one. this sentence has the most tokens of all. tiny"
        summary, n = extractive_summary(text)
        assert summary == "this sentence has the most tokens of all"
        assert n == 3

    def test_tie_prefers_first_sentence(self):
        summary, n = extractive_summary("one two three. four five six")
        assert summary == "one two three"
        assert n == 2

    def test_mapinpandas_schema_and_values(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta. g"), (2, "x. y z w")], ["doc_id", "text"]
        )
        out = summarize(df).orderBy("doc_id").collect()
        assert [r.summary for r in out] == ["alpha beta", "y z w"]
        assert [r.n_sentences for r in out] == [2, 2]
        assert all(r.method == "extractive" for r in out)
        assert [f.name for f in summarize(df).schema.fields] == [
            "doc_id",
            "summary",
            "n_sentences",
            "method",
        ]


class TestIvf:
    def test_cells_partition_all_vectors(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from multi_crm_cross_sell_spark.operators.similarity_search import ivf_topk

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        out = ivf_topk(e, F.col("vec_id") % 50 == 0, k=3).collect()
        assert len(out) > 0
        by_q = {}
        for r in out:
            by_q.setdefault(r.query_id, []).append(r)
        for q, rows in by_q.items():
            assert len(rows) <= 3
            ranks = sorted(r.rk for r in rows)
            assert ranks == list(range(1, len(rows) + 1))
            cos = [r.cosine for r in sorted(rows, key=lambda r: r.rk)]
            assert cos == sorted(cos, reverse=True)
            assert all(r.vec_id != q for r in rows)

    def test_nprobe_widens_search_monotonically(self, spark, sf_dir):
        """nprobe=2 candidates are a superset of nprobe=1's, so each
        query's top-k cosine at any rank can only improve — the IVF
        recall knob must be monotone."""
        from pyspark.sql import functions as F

        from multi_crm_cross_sell_spark.operators.similarity_search import ivf_topk

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        pred = F.col("vec_id") % 50 == 0
        one = {
            (r.query_id, r.rk): r.cosine
            for r in ivf_topk(e, pred, k=3, nprobe=1).collect()
        }
        two = {
            (r.query_id, r.rk): r.cosine
            for r in ivf_topk(e, pred, k=3, nprobe=2).collect()
        }
        assert set(one) <= set(two)  # never fewer results
        for key, cos1 in one.items():
            assert two[key] >= cos1


class TestIvfFiltered:
    def test_results_respect_the_label_predicate(self, spark, sf_dir):
        """The filtered variant's whole contract: every returned
        candidate shares the query's label (pre-filter, not a lossy
        post-rank drop), ranks are dense per query, and the candidate
        set is exactly the label-restricted subset of what the same
        probes would return unfiltered — checked against the plain
        ivf_topk at identical nprobe/codebook."""
        from pyspark.sql import functions as F

        from multi_crm_cross_sell_spark.operators.similarity_search import (
            ivf_filtered_topk,
        )

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        labels = {r.vec_id: r.label for r in e.select("vec_id", "label").collect()}
        pred = F.col("vec_id") % 50 == 0
        out = ivf_filtered_topk(e, pred, k=5, n_centroids=16, nprobe=4).collect()
        assert len(out) > 0
        by_q = {}
        for r in out:
            assert labels[r.vec_id] == labels[r.query_id], (
                f"candidate {r.vec_id} label {labels[r.vec_id]} != "
                f"query {r.query_id} label {labels[r.query_id]}"
            )
            assert r.vec_id != r.query_id
            by_q.setdefault(r.query_id, []).append(r)
        for q, rows in by_q.items():
            ranks = sorted(r.rk for r in rows)
            assert ranks == list(range(1, len(rows) + 1))

    def test_extra_cols_ride_ivf_assign(self, spark, sf_dir):
        """extra_cols contract: the metadata column survives into
        base/assigned untouched, and the centroid slice drops it."""
        from multi_crm_cross_sell_spark.operators.similarity_search import (
            ivf_assign,
        )

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        base, cents, assigned = ivf_assign(
            e, n_centroids=16, extra_cols=("label",)
        )
        assert "label" in base.columns and "label" in assigned.columns
        assert "label" not in cents.columns
        orig = dict(
            (r.vec_id, r.label) for r in e.select("vec_id", "label").collect()
        )
        got = dict(
            (r.vec_id, r.label)
            for r in assigned.select("vec_id", "label").collect()
        )
        assert got == orig


class TestAdaptivePlanes:
    def test_more_planes_give_pair_subset(self, spark, sf_dir):
        """Plane k is seed-determined, so a K+1-bit bucket refines the
        K-bit bucket: the pair set must shrink monotonically (the
        log2(n) scaling knob is precision-only, never a new pair)."""
        from multi_crm_cross_sell_spark.operators.similarity_search import (
            embedding_near_dup_pairs,
        )

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        p8 = {
            (r.id1, r.id2)
            for r in embedding_near_dup_pairs(e, threshold=0.2, n_planes=8).collect()
        }
        p10 = {
            (r.id1, r.id2)
            for r in embedding_near_dup_pairs(e, threshold=0.2, n_planes=10).collect()
        }
        assert p10 <= p8

    def test_adaptive_count_grows_with_corpus(self):
        from multi_crm_cross_sell_spark.operators.similarity_search import (
            N_PLANES,
            adaptive_n_planes,
        )

        assert adaptive_n_planes(2_000) == N_PLANES  # sf0.1 keeps default
        assert adaptive_n_planes(20_000) == 12  # 10x corpus: +4 bits
        assert adaptive_n_planes(100) == N_PLANES  # floor at the default
        # monotone non-decreasing in n
        counts = [adaptive_n_planes(n) for n in (10, 10**3, 10**5, 10**7, 10**9)]
        assert counts == sorted(counts)


class TestBandedSimhash:
    """Banded simhash blocking (operators/dedup.banded_simhash_bands):
    the 100 TB replacement for a single fixed-width fingerprint."""

    def _bands(self, spark, rows):
        from multi_crm_cross_sell_spark.operators.dedup import (
            banded_simhash_bands,
        )

        grams = spark.createDataFrame(rows, "doc_id bigint, g bigint")
        n_docs = grams.select(F.count_distinct("doc_id").alias("n_docs"))
        return banded_simhash_bands(grams, n_docs)

    def test_b_rows_per_doc_and_width_mask(self, spark):
        from multi_crm_cross_sell_spark.operators.dedup import (
            SIMHASH_BANDS,
            SIMHASH_MINBITS,
        )

        rows = [(d, (d * 37 + k * 101) % P) for d in range(6) for k in range(9)]
        out = self._bands(spark, rows).toPandas()
        assert len(out) == 6 * SIMHASH_BANDS
        per_doc = out.groupby("doc_id")["band"].apply(sorted).to_dict()
        assert all(v == list(range(SIMHASH_BANDS)) for v in per_doc.values())
        # small corpus -> floor width; every key must fit in w bits
        assert (out["key"] >= 0).all()
        assert (out["key"] < (1 << SIMHASH_MINBITS)).all()
        assert (out["nb"] == 9).all()

    def test_identical_gram_sets_identical_keys(self, spark):
        shared = [((7 * k + 3) * 10007) % P for k in range(12)]
        rows = [(0, g) for g in shared] + [(1, g) for g in shared]
        out = self._bands(spark, rows).toPandas()
        k0 = out[out.doc_id == 0].sort_values("band")["key"].tolist()
        k1 = out[out.doc_id == 1].sort_values("band")["key"].tolist()
        assert k0 == k1

    def test_adaptive_width_integer_exact(self, spark):
        from multi_crm_cross_sell_spark.operators.dedup import (
            adaptive_band_bits,
        )

        df = spark.createDataFrame(
            [(500,), (5_000,), (50_000,), (1 << 16,), ((1 << 16) + 1,), (1 << 29,)],
            "n bigint",
        )
        got = (
            df.select(F.col("n"), adaptive_band_bits(F.col("n")).alias("w"))
            .toPandas()
            .set_index("n")["w"]
            .to_dict()
        )
        # w = clamp(ceil(log2 n) + 2, 16, 30), bin-length form
        assert got[500] == 16
        assert got[5_000] == 16
        assert got[50_000] == 18
        assert got[1 << 16] == 18  # exact power of two: ceil(log2)=16
        assert got[(1 << 16) + 1] == 19
        assert got[1 << 29] == 30  # capped at the perm bit budget

    def test_recall_against_exact_ground_truth(self, spark):
        """The blocking must catch >= 90% of the true near-dup pairs on
        the sf0.001 corpus (exact all-pairs bigram Jaccard as truth).
        The round-4 single 16-bit fingerprint measured 0.26 here."""
        from multi_crm_cross_sell_spark.plans import all_queries

        sf = "/root/testdata/sf0.001"
        out = all_queries()["ngram_jaccard_dedup"].fn(spark, sf).toPandas()
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        from multi_crm_cross_sell_spark.operators.dedup import (
            gram_hashes_sql,
            word_hashes_sql,
        )

        hashed = (
            docs.where(F.size(F.split(F.col("text"), " ")) >= 2)
            .selectExpr("doc_id", f"{word_hashes_sql('text')} AS wh")
            .selectExpr("doc_id", f"{gram_hashes_sql('wh', 2)} AS bg")
            .localCheckpoint()
        )
        a = hashed.select(F.col("doc_id").alias("doc1"), F.col("bg").alias("b1"))
        b = hashed.select(F.col("doc_id").alias("doc2"), F.col("bg").alias("b2"))
        ni = F.size(F.array_intersect("b1", "b2"))
        jac = ni / (F.size("b1") + F.size("b2") - ni).cast("double")
        truth = (
            a.crossJoin(b)
            .where(F.col("doc1") < F.col("doc2"))
            .where(jac >= 0.5)
            .select("doc1", "doc2")
            .toPandas()
        )
        assert len(truth) > 0
        found = set(zip(out.doc1, out.doc2))
        hits = sum((r.doc1, r.doc2) in found for r in truth.itertuples())
        # every emitted pair must BE a true pair (verify step is exact)
        assert len(found) == hits
        assert hits / len(truth) >= 0.9, (hits, len(truth))


class TestOrAmplification:
    """Multi-table LSH (OR-amplification): the recall lever that pairs
    with the occupancy-adaptive plane count (SCALE.md §ANN recall)."""

    SF01 = "/root/testdata/sf0.01"

    def _truth(self, spark, e, k=10):
        from pyspark.sql import Window

        dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
        dot = F.aggregate(
            F.zip_with(F.col("qv"), F.col("v"), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        base = e.select("vec_id", dbl.alias("v")).withColumn(
            "norm",
            F.sqrt(
                F.aggregate(
                    F.transform(F.col("v"), lambda x: x * x),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
        )
        q = base.where(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("norm").alias("qnorm"),
        )
        scored = (
            F.broadcast(q)
            .join(base, F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                "vec_id",
                (dot / (F.col("qnorm") * F.col("norm"))).alias("cosine"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("vec_id")
        )
        return {
            (r.query_id, r.vec_id)
            for r in scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
            .collect()
        }

    def test_near_dup_tables_add_candidates_only(self, spark):
        """Table 0 is shared, so L=3's candidate set contains L=1's;
        exact verification makes the OUTPUT therefore a superset too."""
        e = spark.read.parquet(f"{self.SF01}/embeddings.parquet")
        p1 = {
            (r.id1, r.id2)
            for r in embedding_near_dup_pairs(e, threshold=0.2).collect()
        }
        p3 = {
            (r.id1, r.id2)
            for r in embedding_near_dup_pairs(
                e, threshold=0.2, n_tables=3
            ).collect()
        }
        assert p1 <= p3

    def test_topk_recall_monotone_in_tables(self, spark):
        """More tables -> candidate superset -> recall@k vs exact
        brute force can only grow (a newcomer that displaces a truth
        member must itself rank above it in the truth)."""
        from multi_crm_cross_sell_spark.operators.similarity_search import (
            ann_topk,
        )

        e = spark.read.parquet(f"{self.SF01}/embeddings.parquet")
        truth = self._truth(spark, e)
        pred = F.col("vec_id") % 100 == 0
        hits = []
        for L in (1, 2, 4):
            got = {
                (r.query_id, r.vec_id)
                for r in ann_topk(e, pred, k=10, n_planes=8, n_tables=L).collect()
            }
            hits.append(len(got & truth))
        assert hits == sorted(hits), hits

    def test_kmeans_codebook_beats_firstrows_centroids(self, spark):
        """ML-trained IVF codebook (SCALE.md's promised production
        path): recall@10 at fixed nprobe must be at least the
        deterministic lowest-id centroids' (both seeds fixed, so this
        pin is stable)."""
        from multi_crm_cross_sell_spark.operators.similarity_search import (
            ivf_topk,
        )

        e = spark.read.parquet(f"{self.SF01}/embeddings.parquet")
        truth = self._truth(spark, e)
        pred = F.col("vec_id") % 100 == 0
        rec = {}
        for mode in ("first", "kmeans"):
            got = {
                (r.query_id, r.vec_id)
                for r in ivf_topk(
                    e, pred, k=10, n_centroids=8, nprobe=2, centroids=mode
                ).collect()
            }
            rec[mode] = len(got & truth) / len(truth)
        assert rec["kmeans"] >= rec["first"], rec

    def test_static_and_lazy_width_paths_agree(self, spark):
        """banded_simhash_bands(n_docs=<int>) computes only w bits;
        banded_simhash_bands(n_docs=<1-row frame>) computes 30 and
        masks at runtime — both must emit identical band keys."""
        from multi_crm_cross_sell_spark.operators.dedup import (
            banded_simhash_bands,
        )

        rows = [(d, ((d * 131 + k * 977) * 10007) % P) for d in range(40) for k in range(d % 7 + 3)]
        grams = spark.createDataFrame(rows, "doc_id bigint, g bigint")
        n = grams.select("doc_id").distinct().count()
        lazy = banded_simhash_bands(
            grams, grams.select(F.count_distinct("doc_id").alias("n_docs"))
        )
        static = banded_simhash_bands(grams, n)
        key = lambda df: sorted(
            (r.doc_id, r.band, r.key, r.nb) for r in df.collect()
        )
        assert key(static) == key(lazy)


class TestPointerDoubling:
    """dedup_clusters(method="jump"): pointer doubling must reach the
    same fixpoint as plain propagation, in O(log d) rounds."""

    def _pairs(self, spark, edges):
        return spark.createDataFrame(edges, "doc1 bigint, doc2 bigint")

    def test_same_clusters_on_mixed_graph(self, spark):
        from multi_crm_cross_sell_spark.operators.dedup import dedup_clusters

        edges = (
            [(i, i + 1) for i in range(0, 12)]          # chain 0..12
            + [(100, 101), (101, 102), (100, 102)]      # triangle
            + [(200, 201)]                              # single pair
            + [(300 + i, 300 + ((i * 7) % 11)) for i in range(11)]
        )
        pairs = self._pairs(spark, edges)
        a = {
            (r.doc_id, r.cluster_id, r.cluster_size, r.is_representative)
            for r in dedup_clusters(pairs, method="propagate").collect()
        }
        b = {
            (r.doc_id, r.cluster_id, r.cluster_size, r.is_representative)
            for r in dedup_clusters(pairs, method="jump").collect()
        }
        assert a == b

    def test_deep_chain_converges_in_log_rounds(self, spark):
        """A 60-node chain needs ~60 propagation rounds (propagate
        raises at max_iters=10) but pointer doubling compresses label
        paths each round and finishes well inside 10."""
        import pytest as _pytest

        from multi_crm_cross_sell_spark.operators.dedup import dedup_clusters

        chain = self._pairs(spark, [(i, i + 1) for i in range(60)])
        with _pytest.raises(RuntimeError):
            dedup_clusters(chain, max_iters=10, method="propagate").collect()
        out = dedup_clusters(chain, max_iters=10, method="jump").collect()
        assert {r.cluster_id for r in out} == {0}
        assert len(out) == 61


class TestMultiTableBucketKernel:
    """Round-14 optimization: the multitable deep path computes every
    table's bucket in ONE Arrow pass (buckets_multi_arrow) instead of
    wide_base + bucket_frame's explode/re-aggregate build. The
    contract is BIT-IDENTICAL buckets — bucket_frame stays in the
    module as the JVM semantic spec, and this pin holds the kernel to
    it (same accumulation order, same >= 0.0 sign test, same
    COALESCE(x, 0.0) null-element semantics)."""

    def test_kernel_matches_bucket_frame_spec(self, spark):
        from multi_crm_cross_sell_spark.operators.similarity_search import (
            DIM,
            bucket_frame,
            buckets_multi_arrow,
            wide_base,
        )

        e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        spec = {
            (r.vec_id, r.t): r.bucket
            for r in bucket_frame(
                wide_base(e), n_planes=10, n_tables=3, dim=DIM
            ).collect()
        }
        got = {}
        for r in buckets_multi_arrow(e, n_planes=10, n_tables=3).collect():
            for t in range(3):
                got[(r.vec_id, t)] = r[f"b_{t}"]
        assert got == spec

    def test_kernel_malformed_rows_match_coalesce(self, spark):
        """A fully-null vector takes the per-ROW fallback and must
        bucket exactly as unpack_exprs' COALESCE(x, 0.0) row does
        (all-zero vector -> every sign bit set) — without disturbing
        its batch neighbors. A null ELEMENT inside a full-length
        vector must ALSO match the COALESCE(x, 0.0) spec (round-15
        ADVICE: it arrives as NaN at the Arrow boundary — null/NaN
        collapse for float lists — and the dense path now maps it to
        0.0, restoring the pre-round-14 deep path's semantics).
        A SHORT (ragged) vector is zero-padded to ``dim``; the JVM
        form's embedding[i] throws under ANSI for short arrays, so its
        spec is the explicitly padded row."""
        from multi_crm_cross_sell_spark.operators.similarity_search import (
            DIM,
            bucket_frame,
            buckets_multi_arrow,
            wide_base,
        )

        rows, spec_rows = [], []
        for vid in range(7):
            vec = [((vid * 31 + i * 7) % 13 - 6) / 7.0 for i in range(DIM)]
            if vid == 3:
                vec = None  # whole-vector null -> all-zero row
            if vid == 4:
                vec[5] = None  # null ELEMENT -> COALESCE 0.0 (ADVICE)
            if vid == 6:
                rows.append((vid, vec[: DIM // 2]))  # short -> zero-padded
                spec_rows.append((vid, vec[: DIM // 2] + [0.0] * (DIM // 2)))
                continue
            rows.append((vid, vec))
            spec_rows.append((vid, vec))
        schema = "vec_id bigint, embedding array<double>"
        e = spark.createDataFrame(rows, schema)
        spec = {
            (r.vec_id, r.t): r.bucket
            for r in bucket_frame(
                wide_base(spark.createDataFrame(spec_rows, schema)),
                n_planes=8,
                n_tables=2,
                dim=DIM,
            ).collect()
        }
        got = {}
        for r in buckets_multi_arrow(e, n_planes=8, n_tables=2).collect():
            for t in range(2):
                got[(r.vec_id, t)] = r[f"b_{t}"]
        assert got == spec
        # the batch's clean rows are unaffected by their edge neighbors
        assert all(spec[(v, t)] == got[(v, t)] for v in (0, 1, 2, 5) for t in (0, 1))


class TestMultiProbe:
    """Multi-probe LSH (hamming_probes=1): probing the K one-bit-flip
    buckets is a pure candidate-superset of the exact-bucket probe, so
    recall@k vs exact truth can only grow — at zero index cost."""

    def test_probe_recall_monotone(self, spark):
        from multi_crm_cross_sell_spark.operators.similarity_search import (
            ann_topk,
        )

        e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        pred = F.col("vec_id") % 100 == 0
        truth = TestOrAmplification()._truth(spark, e)
        base_hits = probe_hits = None
        for hp in (0, 1):
            got = {
                (r.query_id, r.vec_id)
                for r in ann_topk(
                    e, pred, k=10, n_planes=8, n_tables=1, hamming_probes=hp
                ).collect()
            }
            if hp == 0:
                base_hits = len(got & truth)
            else:
                probe_hits = len(got & truth)
        assert probe_hits >= base_hits, (base_hits, probe_hits)


class TestWeightedBanding:
    def test_constant_weight_equals_unweighted(self, spark):
        """weight_col with all-1 weights must reproduce the unweighted
        band keys bit for bit (2·Σ1[bit] > Σ1 == 2·ones > nb) — pins
        that the weighted accumulation path changes nothing except the
        vote weights themselves."""
        from multi_crm_cross_sell_spark.operators.dedup import (
            banded_simhash_bands,
        )

        grams = (
            spark.range(0, 2000)
            .select(
                (F.col("id") % 40).alias("doc_id"),
                ((F.col("id") * 7919 + 13) % P).alias("g"),
            )
            .dropDuplicates(["doc_id", "g"])
        )
        plain = banded_simhash_bands(grams, 40).orderBy("doc_id", "band")
        weighted = (
            banded_simhash_bands(
                grams.withColumn("wt", F.lit(1).cast("bigint")),
                40,
                weight_col="wt",
            )
            .orderBy("doc_id", "band")
        )
        assert [r.asDict() for r in plain.collect()] == [
            r.asDict() for r in weighted.collect()
        ]

    def test_idf_variant_oracle_shape(self, spark):
        """The IDF variant returns the same schema/threshold contract
        as the unweighted query (candidates differ, verify does not)."""
        from multi_crm_cross_sell_spark.plans import all_queries

        out = (
            all_queries()["ngram_jaccard_dedup_idf"]
            .fn(spark, "/root/testdata/sf0.001")
            .toPandas()
        )
        assert list(out.columns) == ["doc1", "doc2", "jaccard"]
        assert (out["jaccard"] >= 0.5).all()
        assert (out["doc1"] < out["doc2"]).all()


class TestCodebookCarrier:
    """Round 15 (verdict item 7): the ANN assignment kernels ship
    their codebook matrices in the task closure only up to
    CODEBOOK_CLOSURE_MAX_BYTES; past the bound the carrier
    auto-switches to an explicit Spark broadcast. The switch must
    engage exactly at the documented bound and must not change any
    result bit."""

    def test_below_bound_rides_closure(self, spark):
        import numpy as np

        from multi_crm_cross_sell_spark.operators import (
            similarity_search as ss,
        )

        arr = np.zeros((16, 64), dtype=np.float64)
        c = ss._CodebookCarrier(spark.sparkContext, (arr,))
        assert c.broadcast is None
        assert c()[0] is arr

    def test_switch_engages_at_the_byte_bound(self, spark):
        import numpy as np

        from multi_crm_cross_sell_spark.operators import (
            similarity_search as ss,
        )

        over = np.zeros(
            (ss.CODEBOOK_CLOSURE_MAX_BYTES // (64 * 8) + 1, 64),
            dtype=np.float64,
        )
        assert over.nbytes > ss.CODEBOOK_CLOSURE_MAX_BYTES
        c = ss._CodebookCarrier(spark.sparkContext, (over,))
        try:
            assert c.broadcast is not None
            got = c()[0]
            assert got.shape == over.shape and got.dtype == over.dtype
        finally:
            if c.broadcast is not None:
                c.broadcast.unpersist()

    def test_broadcast_path_results_identical(self, spark, monkeypatch):
        """Force the switch (bound = 0) across the flat, two-level and
        PQ kernels and assert bit-identical query outputs vs the
        closure path."""
        from pyspark.sql import functions as F

        from multi_crm_cross_sell_spark.operators import (
            similarity_search as ss,
        )

        e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        n = e.count()
        pred = F.col("vec_id") % 100 == 0

        def snap():
            return (
                sorted(map(tuple, ss.ivf_topk(e, pred, n_vectors=n, n_centroids=None).collect())),
                sorted(map(tuple, ss.ivf2_topk(e, pred, n_vectors=n).collect())),
                sorted(map(tuple, ss.pq_topk(e, pred, n_vectors=n).collect())),
            )

        closure_rows = snap()

        engaged = []
        orig = ss._CodebookCarrier

        class Spy(orig):
            def __init__(self, sc, arrays):
                super().__init__(sc, arrays)
                engaged.append(self.broadcast is not None)

        monkeypatch.setattr(ss, "CODEBOOK_CLOSURE_MAX_BYTES", 0)
        monkeypatch.setattr(ss, "_CodebookCarrier", Spy)
        bc_rows = snap()
        assert engaged and all(engaged)
        assert bc_rows == closure_rows


class TestPq:
    def _base_vecs(self, spark, sf_dir):
        rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
        return {r.vec_id: [float(x) for x in r.embedding] for r in rows}

    def test_encode_matches_python_reference(self, spark, sf_dir):
        """PQ codes replicated in pure Python: same deterministic
        codebook (subvectors of the 16 lowest-id vectors), same
        integer-nano distances, ties to the lowest centroid."""
        from multi_crm_cross_sell_spark.operators.similarity_search import (
            PQ_KS,
            PQ_M,
            pq_codebook,
            pq_encode,
            wide_base,
        )

        vecs = self._base_vecs(spark, sf_dir)
        ids = sorted(vecs)
        ds = 64 // PQ_M
        cb = {
            (m, c): vecs[ids[c]][m * ds : (m + 1) * ds]
            for m in range(PQ_M)
            for c in range(PQ_KS)
        }

        def dn(s, pc):
            d = 0.0
            for a, b in zip(s, pc):
                d = d + (a - b) * (a - b)
            return round(d * 1e9)

        want = {}
        for i in ids:
            code = 0
            for m in range(PQ_M):
                s = vecs[i][m * ds : (m + 1) * ds]
                best = min(
                    range(PQ_KS), key=lambda c: (dn(s, cb[(m, c)]), c)
                )
                code += best << (5 * m)
            want[i] = code

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        base = wide_base(e, "vec_id", "embedding", 64)
        got = {
            r.vec_id: r.pq_code
            for r in pq_encode(base, pq_codebook(base)).collect()
        }
        assert got == want

    def test_fused_assign_encode_matches_separate_paths(self, spark, sf_dir):
        """The round-14 fused kernel (_pq_assign_encode_arrow) must be
        bit-identical to the two passes it replaced: the IVF cell from
        _assign_cells_arrow and the packed code from pq_encode, on the
        same codebooks."""
        import numpy as np
        from pyspark.sql import Window
        from pyspark.sql import functions as F
        from multi_crm_cross_sell_spark.operators.similarity_search import (
            PQ_KS,
            PQ_M,
            _assign_cells_arrow,
            _pq_assign_encode_arrow,
            adaptive_codebook,
            pq_encode,
            pq_literals_from_base,
            rename_exprs,
            wide_base,
        )

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        n = e.count()
        c, _ = adaptive_codebook(n)
        base = wide_base(e, "vec_id", "embedding", 64, n_rows=n).localCheckpoint(
            eager=False
        )
        cw = Window.orderBy("cent_id")
        cents = (
            base.orderBy("vec_id")
            .limit(c)
            .selectExpr("vec_id AS cent_id", *rename_exprs("v", "c", 64))
            .withColumn("cent_ix", F.row_number().over(cw) - 1)
        )
        cells = {
            r["vec_id"]: r["cell"]
            for r in _assign_cells_arrow(base, cents, 64).collect()
        }
        pcs = pq_literals_from_base(base, 64, PQ_M, PQ_KS)
        ks = min(PQ_KS, 1 + max(cc for (_, cc) in pcs))
        codes = {
            r["vec_id"]: r["pq_code"]
            for r in pq_encode(base, pcs, 64, PQ_M, ks).collect()
        }
        rows = sorted(
            base.orderBy("vec_id").limit(max(c, PQ_KS)).collect(),
            key=lambda r: r["vec_id"],
        )
        ds = 64 // PQ_M
        C = np.array(
            [[r[f"v_{i}"] for i in range(64)] for r in rows[:c]]
        )
        Cpq = np.array(
            [
                [[rows[cc][f"v_{m * ds + j}"] for j in range(ds)] for cc in range(ks)]
                for m in range(PQ_M)
            ]
        )
        fused = {
            r["vec_id"]: (r["cell"], r["pq_code"])
            for r in _pq_assign_encode_arrow(
                base, C, np.arange(c, dtype=np.int64), Cpq, 64, PQ_M, ks
            ).collect()
        }
        assert fused == {i: (cells[i], codes[i]) for i in cells}

    def test_pq_literals_paths_agree(self, spark, sf_dir):
        """The TakeOrdered fast path (pq_literals_from_base, the one
        pq_topk uses) yields the exact floats of the codebook-frame
        path — any drift would silently de-sync the encode from the
        oracle's firstks CTE."""
        from multi_crm_cross_sell_spark.operators.similarity_search import (
            pq_codebook,
            pq_literals,
            pq_literals_from_base,
            wide_base,
        )

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        base = wide_base(e, "vec_id", "embedding", 64)
        assert pq_literals_from_base(base) == pq_literals(
            pq_codebook(base)
        )

    def test_topk_ranked_by_adc_and_excludes_self(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from multi_crm_cross_sell_spark.operators.similarity_search import pq_topk

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        out = pq_topk(e, F.col("vec_id") % 50 == 0, k=3).collect()
        assert len(out) > 0
        by_q = {}
        for r in out:
            by_q.setdefault(r.query_id, []).append(r)
        for q, rows in by_q.items():
            assert len(rows) <= 3
            ranks = sorted(r.rk for r in rows)
            assert ranks == list(range(1, len(rows) + 1))
            d = [r.adc_nanos for r in sorted(rows, key=lambda r: r.rk)]
            assert d == sorted(d)  # approximate distance ascending
            assert all(r.vec_id != q for r in rows)

    def test_codebook_vectors_encode_to_themselves(self, spark, sf_dir):
        """A vector that IS a codebook source has distance exactly 0 to
        its own subvector in every subspace, so its code must be its
        own index — the reconstruction fixpoint of quantization."""
        from multi_crm_cross_sell_spark.operators.similarity_search import (
            PQ_KS,
            PQ_M,
            pq_codebook,
            pq_encode,
            wide_base,
        )

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        base = wide_base(e, "vec_id", "embedding", 64)
        ids = sorted(self._base_vecs(spark, sf_dir))[:PQ_KS]
        codes = {
            r.vec_id: r.pq_code
            for r in pq_encode(base, pq_codebook(base)).collect()
        }
        for c, vid in enumerate(ids):
            want = sum(c << (5 * m) for m in range(PQ_M))
            assert codes[vid] == want, vid


class TestRerankCrossencoder:
    """rerank_crossencoder: IVF retrieve → Arrow joint-feature rerank."""

    def _out(self, spark, sf_dir):
        from multi_crm_cross_sell_spark.operators.similarity_search import (
            rerank_crossencoder,
        )

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return rerank_crossencoder(
            e, F.col("vec_id") % 50 == 0, k_retrieve=10, k=3, nprobe=2
        ).collect()

    def test_topk_shape_and_order(self, spark, sf_dir):
        rows = self._out(spark, sf_dir)
        by_q: dict[int, list] = {}
        for r in rows:
            assert r.query_id % 50 == 0
            assert r.vec_id != r.query_id
            by_q.setdefault(r.query_id, []).append(r)
        for q, rs in by_q.items():
            assert len(rs) <= 3
            rs.sort(key=lambda r: r.rk)
            assert [r.rk for r in rs] == list(range(1, len(rs) + 1))
            # rk follows rerank_score DESC, vec_id ASC
            keys = [(-r.rerank_score, r.vec_id) for r in rs]
            assert keys == sorted(keys)

    def test_rerank_subset_of_retrieval(self, spark, sf_dir):
        """Every reranked pair must come from the IVF retrieval tier
        with the same parameters — the reranker reorders candidates,
        it never invents them."""
        from multi_crm_cross_sell_spark.operators.similarity_search import (
            ivf_topk,
        )

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        retrieved = {
            (r.query_id, r.vec_id)
            for r in ivf_topk(
                e, F.col("vec_id") % 50 == 0, k=10, n_centroids=None, nprobe=2
            ).collect()
        }
        got = {(r.query_id, r.vec_id) for r in self._out(spark, sf_dir)}
        assert got <= retrieved

    def test_joint_features_match_python(self, spark, sf_dir):
        """The kernel's rerank_score replicated in pure Python from
        the raw vectors (same i-ascending L1 accumulation, exact sign
        agreement, HALF_UP nano rounding)."""
        rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
        vecs = {r.vec_id: [float(x) for x in r.embedding] for r in rows}

        def score(qid, vid, cos9):
            q, v = vecs[qid], vecs[vid]
            l1 = 0.0
            agree = 0
            for i in range(64):
                l1 += abs(q[i] - v[i])
                agree += 1 if q[i] * v[i] > 0 else 0
            s = 0.6 * cos9 + 0.25 * (1.0 / (1.0 + l1 / 64.0)) + 0.15 * (
                agree / 64.0
            )
            x = s * 1e9
            import math

            # HALF AWAY FROM ZERO on both signs (the kernel's
            # _half_up_exact / DuckDB ROUND semantics) — a floor-based
            # reference would round negative .5 ties the wrong way,
            # and rerank_score CAN be negative (cosine dominates for
            # anti-correlated vectors).
            if x >= 0.0:
                fl = math.floor(x)
                return (fl + (1 if x - fl >= 0.5 else 0)) / 1e9
            ce = math.ceil(x)
            return (ce - (1 if ce - x >= 0.5 else 0)) / 1e9

        for r in self._out(spark, sf_dir):
            assert r.rerank_score == score(
                r.query_id, r.vec_id, r.retrieval_cosine
            ), (r.query_id, r.vec_id)


class TestNearDupPairsLargeBranch:
    """near_dup_pairs' large-corpus shape (round 15): checkpointed
    band-key frame + candidate-pruned verify sides must be
    BIT-IDENTICAL to the small-corpus flowing shape."""

    def test_large_branch_matches_small(self, spark, sf_dir):
        from multi_crm_cross_sell_spark.operators.dedup import near_dup_pairs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        small = sorted(
            (r.doc1, r.doc2, r.jaccard)
            for r in near_dup_pairs(docs, threshold=0.6).collect()
        )
        # n_docs far above CHECKPOINT_MIN_CORPUS forces the large
        # branch on the fixture corpus.
        large = sorted(
            (r.doc1, r.doc2, r.jaccard)
            for r in near_dup_pairs(
                docs, threshold=0.6, n_docs=10**9
            ).collect()
        )
        assert small, "fixture corpus must contain near-dup pairs"
        assert large == small

    def test_large_branch_runs_candidates_before_broadcast(self, spark, sf_dir):
        """The candidate pairs are materialized by a job of their own
        while the plan is built, so the broadcast of the candidate-id
        set reads stored rows. Without adaptive execution the shuffles
        below a broadcast run inside its build job, capped by
        spark.sql.broadcastTimeout; with a lazy candidate checkpoint
        that one build job ran the whole signature and band-join
        pipeline."""
        from multi_crm_cross_sell_spark.operators.dedup import near_dup_pairs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        sc = spark.sparkContext
        group = "near_dup_pairs_large_construct"
        aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        sc.setJobGroup(group, "construct near_dup_pairs' large branch")
        try:
            near_dup_pairs(docs, threshold=0.6, n_docs=10**9)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
        tracker = sc.statusTracker()
        jobs = [tracker.getJobInfo(j) for j in sorted(tracker.getJobIdsForGroup(group))]
        # the candidate job, then the build of the candidate-id broadcast
        assert len(jobs) >= 2, jobs
        assert all(j.status == "SUCCEEDED" for j in jobs), jobs


class TestIncrementalNearDup:
    """incremental_near_dup: asymmetric batch→corpus MinHash probe."""

    def _out(self, spark, sf_dir):
        from multi_crm_cross_sell_spark.operators.dedup import (
            incremental_near_dup,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return incremental_near_dup(docs, threshold=0.6, batch_mod=10).collect()

    def test_one_row_per_incoming_doc(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        n_batch = docs.where(F.col("doc_id") % 10 == 0).count()
        rows = self._out(spark, sf_dir)
        assert len(rows) == n_batch
        assert all(r.doc_id % 10 == 0 for r in rows)

    def test_matches_point_into_corpus_only(self, spark, sf_dir):
        for r in self._out(spark, sf_dir):
            if r.matched_doc is not None:
                assert r.matched_doc % 10 != 0
                assert r.jaccard >= 0.6
                assert not r.is_novel
            else:
                assert r.jaccard is None
                assert r.is_novel

    def test_agrees_with_symmetric_pairs(self, spark, sf_dir):
        """For batch docs, the best match equals the max-Jaccard
        cross-partition pair from the symmetric near_dup_pairs output
        (same bands, same verify — the asymmetric join only restricts
        which collisions are considered)."""
        from multi_crm_cross_sell_spark.operators.dedup import near_dup_pairs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        best: dict[int, float] = {}
        for p in near_dup_pairs(docs, threshold=0.6).collect():
            for new, old in ((p.doc1, p.doc2), (p.doc2, p.doc1)):
                if new % 10 == 0 and old % 10 != 0:
                    if p.jaccard > best.get(new, -1.0):
                        best[new] = p.jaccard
        got = {
            r.doc_id: r.jaccard
            for r in self._out(spark, sf_dir)
            if r.matched_doc is not None
        }
        assert got == best

    def test_signature_pipeline_materialized_once(self, spark, sf_dir):
        """The single-sided batch/corpus predicates get pushed below
        any join, so the four consumers (two band sides, two verify
        sides) would each recompute the scan+hash pipeline; the
        operator materializes it ONCE behind a lazy localCheckpoint,
        at a scale-adaptive spot. Pin both shapes. (At test scale AQE
        broadcasts the verify joins, so a ReusedExchange node need
        not exist; the decade walls in SCALE.md carry the verify-side
        cost claim.)"""
        from multi_crm_cross_sell_spark.operators.dedup import (
            incremental_near_dup,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        # LARGE-corpus shape (forced via n_docs): the NARROW band-key
        # frame is checkpointed (the gram-array checkpoint variant was
        # 6× slower at the 100× decade — RDD-storage round-trips of
        # wide arrays cost more than recomputing them); the minhash
        # permutation mins live ONLY inside the checkpoint job.
        df = incremental_near_dup(
            docs, threshold=0.6, batch_mod=10, n_docs=10**6
        )
        # collect() (NOT a noop write — that would execute a separate
        # query) so THIS df's adaptive plan is finalized and carries
        # the runtime ReusedExchange nodes.
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan ExistingRDD") >= 2  # both band sides
        assert "array_min" not in plan
        # SMALL-corpus shape (explicit n_docs — without it the
        # operator takes the large shape rather than paying a count
        # job): the gram-array frame itself is checkpointed — the md5
        # word-hash pipeline never appears in the main plan (all four
        # consumers ride the ExistingRDD); the cheap signature mins
        # run above it per band side, summing to one corpus pass.
        df2 = incremental_near_dup(
            docs, threshold=0.6, batch_mod=10, n_docs=docs.count()
        )
        df2.collect()
        plan2 = df2._jdf.queryExecution().executedPlan().toString()
        assert plan2.count("Scan ExistingRDD") >= 2
        assert "md5" not in plan2


class TestLeakageSafeSplits:
    def _rows(self, spark, sf_dir):
        from multi_crm_cross_sell_spark.plans import all_queries

        q = all_queries()["leakage_safe_splits"]
        return q.fn(spark, sf_dir).collect()

    def test_total_and_split_values(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        rows = self._rows(spark, sf_dir)
        assert len(rows) == docs.count()
        assert {r.split for r in rows} <= {"train", "validation", "test"}

    def test_near_dups_never_straddle_splits(self, spark, sf_dir):
        """THE property of the operator: every verified near-dup pair
        lands in one split (shared group_id ⇒ shared bucket)."""
        from multi_crm_cross_sell_spark.operators.dedup import near_dup_pairs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        by_id = {r.doc_id: r for r in self._rows(spark, sf_dir)}
        pairs = near_dup_pairs(docs, threshold=0.6).collect()
        assert pairs, "fixture corpus must contain near-dup pairs"
        for p in pairs:
            assert by_id[p.doc1].group_id == by_id[p.doc2].group_id
            assert by_id[p.doc1].split == by_id[p.doc2].split

    def test_unclustered_docs_group_on_themselves(self, spark, sf_dir):
        for r in self._rows(spark, sf_dir):
            if not r.in_cluster:
                assert r.group_id == r.doc_id
            else:
                assert r.group_id <= r.doc_id  # min-id representative


class TestClusterBalancedSample:
    def _rows(self, spark, sf_dir):
        from multi_crm_cross_sell_spark.plans import all_queries

        q = all_queries()["cluster_balanced_sample"]
        return q.fn(spark, sf_dir).collect()

    def test_covers_all_vectors_with_capped_cells(self, spark, sf_dir):
        import math

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        n = emb.count()
        c = max(16, math.isqrt(n))
        cap = max(1, -(-n // (4 * c)))
        rows = self._rows(spark, sf_dir)
        assert len(rows) == n
        kept_per_cell: dict[int, int] = {}
        size_per_cell: dict[int, int] = {}
        for r in rows:
            size_per_cell[r.cell] = size_per_cell.get(r.cell, 0) + 1
            if r.kept:
                kept_per_cell[r.cell] = kept_per_cell.get(r.cell, 0) + 1
        for cell, k in kept_per_cell.items():
            assert k <= cap
            assert k == min(cap, size_per_cell[cell])
        # every non-empty cell keeps at least one member — the
        # diversity guarantee that distinguishes this from global
        # top-fraction sampling
        assert set(kept_per_cell) == set(size_per_cell)

    def test_kept_are_lowest_ids_per_cell(self, spark, sf_dir):
        rows = self._rows(spark, sf_dir)
        by_cell: dict[int, list] = {}
        for r in rows:
            by_cell.setdefault(r.cell, []).append(r)
        for members in by_cell.values():
            members.sort(key=lambda r: r.vec_id)
            n_kept = sum(1 for m in members if m.kept)
            assert all(m.kept for m in members[:n_kept])
            assert not any(m.kept for m in members[n_kept:])


class TestSourceOverlapMatrix:
    def test_matches_python_recomputation(self, spark, sf_dir):
        """The matrix must equal a driver-side recomputation from the
        pair table + doc sources — including the integer-nanos sum
        (the float-free aggregation contract)."""
        import math

        from multi_crm_cross_sell_spark.operators.dedup import near_dup_pairs
        from multi_crm_cross_sell_spark.plans import all_queries

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        src = {r.doc_id: r.source for r in docs.select("doc_id", "source").collect()}
        want: dict[tuple, list] = {}
        for p in near_dup_pairs(docs, threshold=0.6).collect():
            key = tuple(sorted((src[p.doc1], src[p.doc2])))
            agg = want.setdefault(key, [0, 0, -1.0])
            agg[0] += 1
            agg[1] += math.floor(p.jaccard * 1_000_000_000 + 0.5)
            agg[2] = max(agg[2], p.jaccard)
        q = all_queries()["source_overlap_matrix"]
        got = {
            (r.src_a, r.src_b): [r.n_pairs, r.sum_jaccard_nanos, r.max_jaccard]
            for r in q.fn(spark, sf_dir).collect()
        }
        assert got == want
        assert want, "fixture corpus must produce overlap rows"

    def test_diagonal_rows_exist(self, spark, sf_dir):
        """Within-source duplication (the diagonal) must be reported
        alongside cross-source overlap."""
        from multi_crm_cross_sell_spark.plans import all_queries

        q = all_queries()["source_overlap_matrix"]
        rows = q.fn(spark, sf_dir).collect()
        assert all(r.src_a <= r.src_b for r in rows)

    def test_pair_pipeline_computed_once(self, spark, sf_dir):
        """The tiny pair table is the SMALL side of both source
        joins; a broadcast side recomputes its subplan per join, so
        without the lazy localCheckpoint the executed plan carried
        THREE copies of the signature/verify pipeline. Pin the
        materialized shape: no minhash/verify expression in the main
        plan."""
        from multi_crm_cross_sell_spark.plans import all_queries

        q = all_queries()["source_overlap_matrix"]
        df = q.fn(spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "array_min" not in plan
        assert "array_intersect" not in plan


class TestPrototypicalityPruning:
    def _rows(self, spark, sf_dir):
        from multi_crm_cross_sell_spark.plans import all_queries

        return all_queries()["prototypicality_pruning"].fn(
            spark, sf_dir
        ).collect()

    def test_prunes_exact_quartile_per_cell(self, spark, sf_dir):
        from collections import defaultdict

        by_cell = defaultdict(list)
        for r in self._rows(spark, sf_dir):
            by_cell[r.cell].append(r)
        assert by_cell
        for cell, rs in by_cell.items():
            pruned = [r for r in rs if not r.kept]
            assert len(pruned) == len(rs) // 4, cell
            # ranks are a contiguous 1..n permutation and the pruned
            # set is exactly the top-ranked (most prototypical) slice
            ranks = sorted(r.cell_rank for r in rs)
            assert ranks == list(range(1, len(rs) + 1)), cell
            assert sorted(r.cell_rank for r in pruned) == list(
                range(1, len(pruned) + 1)
            ), cell
            # rank order follows (proto_sim DESC, vec_id ASC)
            rs.sort(key=lambda r: r.cell_rank)
            keys = [(-r.proto_sim, r.vec_id) for r in rs]
            assert keys == sorted(keys), cell

    def test_cells_match_cluster_balanced_sample(self, spark, sf_dir):
        """Both operators ride the SAME ivf_assign codebook, so their
        per-vector cell assignments must be identical — a drift here
        would mean the shared adaptive gate forked."""
        from multi_crm_cross_sell_spark.plans import all_queries

        cbs = {
            r.vec_id: r.cell
            for r in all_queries()["cluster_balanced_sample"]
            .fn(spark, sf_dir)
            .collect()
        }
        got = {r.vec_id: r.cell for r in self._rows(spark, sf_dir)}
        assert got == cbs


class TestD4Selection:
    def _rows(self, spark, sf_dir):
        from multi_crm_cross_sell_spark.plans import all_queries

        return all_queries()["d4_selection"].fn(spark, sf_dir).collect()

    def test_composes_its_two_parents(self, spark, sf_dir):
        """Stage 1 must equal semantic_dedup's verdicts exactly, and
        within survivors the per-cell prune count must be
        floor(survivors/4) — the D4 contract of composing SemDeDup
        with prototype pruning over one assignment."""
        from collections import defaultdict

        from multi_crm_cross_sell_spark.plans import all_queries

        sem = {
            r.vec_id: r.kept
            for r in all_queries()["semantic_dedup"].fn(spark, sf_dir).collect()
        }
        rows = self._rows(spark, sf_dir)
        by_cell = defaultdict(list)
        for r in rows:
            assert (r.decision == "semdedup_duplicate") == (not sem[r.vec_id])
            if r.decision != "semdedup_duplicate":
                by_cell[r.cell].append(r)
        for cell, rs in by_cell.items():
            pruned = [r for r in rs if r.decision == "prototype_pruned"]
            kept = [r for r in rs if r.decision == "kept"]
            assert len(pruned) == len(rs) // 4, cell
            assert all(r.kept for r in kept) and not any(
                r.kept for r in pruned
            )
            # pruned are the MOST prototypical survivors of the cell
            if pruned and kept:
                worst_pruned = min((r.proto_sim, -r.vec_id) for r in pruned)
                best_kept = max((r.proto_sim, -r.vec_id) for r in kept)
                assert worst_pruned >= best_kept, cell

    def test_decisions_partition_the_corpus(self, spark, sf_dir):
        rows = self._rows(spark, sf_dir)
        n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
        assert len(rows) == n
        assert {r.decision for r in rows} <= {
            "semdedup_duplicate",
            "prototype_pruned",
            "kept",
        }
