"""Property-based tests (hypothesis) for the scalar-function library —
beyond the reference's test strategy (SURVEY §5 notes it has none).

Pure-Python functions get per-example hypothesis tests; Spark column
expressions get batch properties (one job over a seeded corpus) since
a Spark action per hypothesis example would be pathologically slow.
"""

from __future__ import annotations

import random
import string

from hypothesis import given, settings
from hypothesis import strategies as st


from pyspark.sql import functions as F

from multi_crm_cross_sell_spark.functions.similarity import _jaro, _jaro_winkler
from multi_crm_cross_sell_spark.functions.text import normalize_company_name
from multi_crm_cross_sell_spark.operators.summarize import extractive_summary

texts = st.text(alphabet=string.ascii_lowercase + " &.,-", max_size=40)


class TestJaroWinklerProperties:
    @given(texts, texts)
    @settings(max_examples=300, deadline=None)
    def test_symmetric(self, a, b):
        assert abs(_jaro_winkler(a, b) - _jaro_winkler(b, a)) < 1e-12

    @given(texts, texts)
    @settings(max_examples=300, deadline=None)
    def test_bounded(self, a, b):
        assert 0.0 <= _jaro_winkler(a, b) <= 1.0 + 1e-12

    @given(texts)
    @settings(max_examples=200, deadline=None)
    def test_identity(self, a):
        assert _jaro_winkler(a, a) == (1.0 if a else 0.0)

    @given(texts, texts)
    @settings(max_examples=300, deadline=None)
    def test_winkler_never_below_jaro(self, a, b):
        # boost = prefix * 0.1 * (1 - jaro) >= 0
        assert _jaro_winkler(a, b) >= _jaro(a, b) - 1e-12


class TestSummaryProperties:
    @given(st.text(alphabet=string.ascii_lowercase + " .", min_size=1, max_size=120))
    @settings(max_examples=300, deadline=None)
    def test_summary_is_a_sentence_of_input(self, text):
        summary, n = extractive_summary(text)
        sentences = text.split(". ")
        assert summary in sentences
        assert n == len(sentences)
        # picks a sentence with the max token count
        lens = [len(s.split(" ")) for s in sentences]
        assert len(summary.split(" ")) == max(lens)


class TestNormalizeBatchProperties:
    def test_idempotent_and_clean(self, spark):
        rng = random.Random(42)
        words = ["Acme", "intl", "Tech", "Global", "&", "Mfg", "Svcs", "co"]
        suffixes = ["Inc.", "LLC", "Ltd", "GmbH", "Corp.", ""]
        corpus = [
            " ".join(rng.sample(words, rng.randint(1, 5)))
            + (", " + rng.choice(suffixes) if rng.random() < 0.7 else "")
            for _ in range(200)
        ]
        df = spark.createDataFrame([(s,) for s in corpus], ["name"])
        once = normalize_company_name(F.col("name"))
        out = df.select(
            once.alias("n1"), normalize_company_name(once).alias("n2")
        ).collect()
        for r in out:
            assert r.n1 == r.n2, (r.n1, r.n2)  # idempotent
            assert r.n1 == r.n1.lower()
            assert "  " not in r.n1  # collapsed whitespace
            assert not any(ch in r.n1 for ch in ".,")  # punctuation gone


class TestWordGramRowsProperties:
    def test_matches_python_ngrams_on_random_corpus(self, spark):
        from collections import Counter

        from multi_crm_cross_sell_spark.plans.datapipe import _word_gram_rows

        rng = random.Random(7)
        vocab = ["a", "bb", "ccc", "x", "yz", "qqq", "n7"]
        corpus = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40)))
            for _ in range(300)
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(corpus)], ["doc_id", "text"]
        )
        for n in (2, 3, 8):
            got: dict[int, Counter] = {}
            for r in _word_gram_rows(df, n).collect():
                got.setdefault(r.doc_id, Counter())[r.g] += 1
            for i, t in enumerate(corpus):
                ws = t.split(" ")
                want = Counter(
                    " ".join(ws[j : j + n]) for j in range(len(ws) - n + 1)
                )
                assert got.get(i, Counter()) == want, (n, i)


class TestPackedArgmaxProperties:
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=-1_000_000_000, max_value=1_000_000_000),
                st.integers(min_value=0, max_value=1_048_575),
            ),
            min_size=1,
            max_size=64,
        )
    )
    @settings(max_examples=300, deadline=None)
    def test_packed_max_equals_lexicographic_argmax(self, pairs):
        """The packed-long encoding used by every argmax in the IVF
        family — pk = (nanos + 1e9)·2^21 + (2^20 − ix) — must order
        EXACTLY like (nanos DESC, ix ASC): max(pk) decodes to the same
        (nanos, ix) the lexicographic rule picks. This is the single
        invariant the ivf_assign / ivf2 label / with_sim unpack logic
        all lean on; a bound overflow or field collision shows up here."""
        best = max(pairs, key=lambda t: (t[0], -t[1]))
        pks = [
            (nanos + 1_000_000_000) * 2_097_152 + (1_048_576 - ix)
            for nanos, ix in pairs
        ]
        pk = max(pks)
        nanos = pk // 2_097_152 - 1_000_000_000
        ix = 1_048_576 - (pk % 2_097_152)
        assert (nanos, ix) == best

    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=-1_000_000_000, max_value=1_000_000_000),
                st.booleans(),
                st.integers(min_value=0, max_value=1_048_575),
            ),
            min_size=1,
            max_size=64,
        )
    )
    @settings(max_examples=300, deadline=None)
    def test_self_bit_packing_orders_sim_then_self_then_ix(self, triples):
        """The ivf2 label variant — pk = ((nanos + 1e9)·2 + self)·2^21
        + (2^20 − ix) — must order (nanos DESC, self DESC, ix ASC) and
        stay within int64."""
        best = max(triples, key=lambda t: (t[0], t[1], -t[2]))
        pks = [
            ((nanos + 1_000_000_000) * 2 + int(s)) * 2_097_152
            + (1_048_576 - ix)
            for nanos, s, ix in triples
        ]
        pk = max(pks)
        assert pk < 2**63
        hi = pk // 2_097_152
        ix = 1_048_576 - (pk % 2_097_152)
        s = hi % 2
        nanos = hi // 2 - 1_000_000_000
        assert (nanos, bool(s), ix) == (best[0], best[1], best[2])


class TestHalfUpExactProperties:
    @given(
        st.floats(
            min_value=-2.1e9,
            max_value=2.1e9,
            allow_nan=False,
            allow_infinity=False,
        )
    )
    @settings(max_examples=500, deadline=None)
    def test_matches_decimal_half_up(self, x):
        """_half_up_exact must agree with ROUND_HALF_UP applied to the
        EXACT binary value of the double — the semantics Spark's
        BigDecimal ROUND and DuckDB's std::round share (see the
        ivf_assign docstring for why the shortest-repr detail cannot
        diverge)."""
        import decimal

        import numpy as np

        from multi_crm_cross_sell_spark.operators.similarity_search import (
            _half_up_exact,
        )

        got = float(_half_up_exact(np.array([x]))[0])
        want = float(
            decimal.Decimal(x).quantize(
                decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
            )
        )
        assert got == want, (x, got, want)

    def test_adversarial_near_half_boundary(self):
        """Values within one ulp of a .5 boundary — the exact window
        where floor(|x|+0.5) and numpy's banker's round both misround."""
        import decimal

        import numpy as np

        from multi_crm_cross_sell_spark.operators.similarity_search import (
            _half_up_exact,
        )

        cases = []
        for k in (2.0, 1e6, 1e9):
            half = k + 0.5
            cases += [
                np.nextafter(half, -np.inf),
                half,
                np.nextafter(half, np.inf),
                -np.nextafter(half, -np.inf),
                -half,
                -np.nextafter(half, np.inf),
            ]
        arr = np.array(cases, dtype=np.float64)
        got = _half_up_exact(arr)
        for x, g in zip(cases, got):
            want = float(
                decimal.Decimal(float(x)).quantize(
                    decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
                )
            )
            assert float(g) == want, (x, float(g), want)
        # and the naive form really does misround the case we guard:
        # 0.5 - 2^-54 + 0.5 rounds UP to exactly 1.0 in IEEE (the sum
        # 1 - 2^-54 is not representable at ulp(1) = 2^-52), so
        # floor(|x| + 0.5) says 1 where HALF_UP says 0.
        x = np.nextafter(0.5, -np.inf)
        assert np.floor(abs(x) + 0.5) == 1.0
        assert float(_half_up_exact(np.array([x]))[0]) == 0.0


class TestIncrementalIngestBatchProperty:
    def test_equals_filtered_symmetric_on_random_corpus(self, spark):
        """On a seeded random corpus with planted batch↔corpus
        near-duplicates, the asymmetric incremental probe must return
        exactly the batch→corpus restriction of the symmetric pair
        table (same bands, same verify — the join direction is the
        only difference), with the best match selected by
        (jaccard desc, corpus id asc)."""
        from multi_crm_cross_sell_spark.operators.dedup import (
            incremental_near_dup,
            near_dup_pairs,
        )

        rng = random.Random(20260815)
        vocab = ["".join(rng.choices(string.ascii_lowercase, k=5)) for _ in range(80)]
        rows = []
        for i in range(120):
            words = rng.choices(vocab, k=rng.randint(5, 25))
            rows.append((i, " ".join(words)))
        # plant near-dups straddling the batch boundary: copy a corpus
        # doc into a batch slot with a one-word edit
        for bi, ci in ((10, 7), (40, 33), (90, 81), (60, 13)):
            words = rows[ci][1].split(" ")
            words[0] = vocab[0]
            rows[bi] = (bi, " ".join(words))
        docs = spark.createDataFrame(rows, ["doc_id", "text"])

        best: dict[int, tuple] = {}
        for p in near_dup_pairs(docs, threshold=0.5).collect():
            for new, old in ((p.doc1, p.doc2), (p.doc2, p.doc1)):
                if new % 10 == 0 and old % 10 != 0:
                    cand = (-p.jaccard, old)
                    if new not in best or cand < best[new]:
                        best[new] = cand
        got = {
            r.doc_id: (-r.jaccard, r.matched_doc)
            for r in incremental_near_dup(
                docs, threshold=0.5, batch_mod=10
            ).collect()
            if r.matched_doc is not None
        }
        assert got == best
        assert best, "planted duplicates must survive banding"


class TestClusterBalancedSampleBatchProperty:
    def test_cap_and_coverage_on_random_vectors(self, spark):
        """On seeded random vectors, every cell keeps exactly
        min(cap, |cell|) members and the kept set is the cell's
        lowest vec_ids — regardless of the (random) cell geometry."""
        import math

        from multi_crm_cross_sell_spark.operators.similarity_search import (
            ivf_assign,
        )
        from pyspark.sql import Window

        rng = random.Random(42)
        n, dim = 300, 64
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)
        ]
        emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
        c = max(16, math.isqrt(n))
        cap = max(1, -(-n // (4 * c)))
        _, cents, assigned = ivf_assign(emb, n_centroids=c)
        lut = cents.select("cent_ix", F.col("cent_id").alias("cell"))
        cells = assigned.select(
            "vec_id", F.col("cell").alias("cent_ix")
        ).join(F.broadcast(lut), "cent_ix")
        w_rn = Window.partitionBy("cell").orderBy("vec_id")
        out = cells.select(
            "vec_id", "cell", (F.row_number().over(w_rn) <= cap).alias("kept")
        ).collect()
        assert len(out) == n
        by_cell: dict[int, list] = {}
        for r in out:
            by_cell.setdefault(r.cell, []).append(r)
        for members in by_cell.values():
            members.sort(key=lambda r: r.vec_id)
            kept = [m.vec_id for m in members if m.kept]
            assert len(kept) == min(cap, len(members))
            assert kept == [m.vec_id for m in members[: len(kept)]]


class TestPqDnBlockProperties:
    @given(
        st.lists(
            st.floats(
                min_value=-100.0,
                max_value=100.0,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=16,
            max_size=16,
        ),
        st.lists(
            st.floats(
                min_value=-100.0,
                max_value=100.0,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=24,
            max_size=24,
        ),
    )
    @settings(max_examples=200, deadline=None)
    def test_matches_scalar_python_reference(self, vflat, cflat):
        """The vectorized Arrow dn kernel (one (batch × ks) block per
        subspace, j-ascending accumulation, exact HALF_UP) must equal
        the scalar left-to-right Python evaluation — the same IEEE
        sequence the SQL oracle states positionally. Random float32
        inputs probe the .5-nano rounding boundaries the real corpus
        rarely hits."""
        import math

        import numpy as np

        from multi_crm_cross_sell_spark.operators.similarity_search import (
            _pq_dn_block,
        )

        ds = 8
        V = np.array(vflat, dtype=np.float64).reshape(2, ds)
        C = np.array(cflat, dtype=np.float64).reshape(3, ds)
        got = _pq_dn_block(V, C, ds)
        for r in range(2):
            for c in range(3):
                d = 0.0
                for j in range(ds):
                    t = (V[r, j] - C[c, j]) * (V[r, j] - C[c, j])
                    d = d + t
                x = d * 1e9
                fl = math.floor(x)
                want = int(fl + (1 if x - fl >= 0.5 else 0))
                assert got[r, c] == want, (r, c, d)
