"""Parity tests for the scalar-function library against the reference's
documented semantics (SURVEY §2.7; cites in each function docstring)."""

from __future__ import annotations


import pytest


from pyspark.sql import functions as F

from multi_crm_cross_sell_spark.functions.similarity import (
    _jaro_winkler,
    jaro_winkler,
    levenshtein_similarity,
)
from multi_crm_cross_sell_spark.functions.text import (
    domain_from_url,
    normalize_company_name,
    root_domain,
)


@pytest.mark.parametrize(
    "s1,s2,expected",
    [
        ("MARTHA", "MARHTA", 0.9611),
        ("DIXON", "DICKSONX", 0.8133),
        ("JELLYFISH", "SMELLYFISH", 0.8963),
        ("same", "same", 1.0),
        ("", "abc", 0.0),
    ],
)
def test_jaro_winkler_reference_values(s1, s2, expected):
    assert _jaro_winkler(s1, s2) == pytest.approx(expected, abs=1e-4)


def test_jaro_winkler_udf(spark):
    df = spark.createDataFrame(
        [("MARTHA", "MARHTA"), ("acme corp", "acme corp"), (None, "x")], ["a", "b"]
    )
    rows = df.select(jaro_winkler(F.col("a"), F.col("b")).alias("jw")).collect()
    assert rows[0]["jw"] == pytest.approx(0.9611, abs=1e-4)
    assert rows[1]["jw"] == 1.0
    assert rows[2]["jw"] is None


@pytest.mark.parametrize(
    "raw,expected",
    [
        # suffix stripping (entity_resolution.py:56-60, 75-98)
        ("Acme Corporation", "acme"),
        ("ACME Corp.", "acme"),
        ("Acme, Inc.", "acme"),
        # abbreviation expansion (entity_resolution.py:63-73)
        ("Global Tech Ltd", "technology"),  # 'global' is a suffix too
        ("Natl Mfg Co", "natl manufacturing"),  # natl is NOT in ABBREVS
        # intl expands to international, which is then dropped as a
        # suffix (entity_resolution.py:56-60) — the reference's net
        # effect is plain 'acme'
        ("Acme Intl", "acme"),
        ("Acme Worldwide LLP", "acme"),
        # punctuation keeps '&'; \w keeps unicode letters + underscore
        ("Smith & Sons LLC", "smith & sons"),
        ("Müller GmbH", "müller"),
        ("A_B Systems NV", "a_b systems"),
        # whitespace collapse
        ("  Double   Space   Holdings ", "double space"),
    ],
)
def test_normalize_company_name(spark, raw, expected):
    out = spark.createDataFrame([(raw,)], ["n"]).select(
        normalize_company_name(F.col("n")).alias("x")
    ).collect()[0]["x"]
    assert out == expected


@pytest.mark.parametrize(
    "raw,host,root",
    [
        ("https://www.acme.com/products", "acme.com", "acme.com"),
        ("http://portal.acme-intl.co.uk/a?b=1", "portal.acme-intl.co.uk", "co.uk"),
        ("info@mail.acme.com", "mail.acme.com", "acme.com"),
        ("acme.com", "acme.com", "acme.com"),
    ],
)
def test_domain_extraction(spark, raw, host, root):
    row = spark.createDataFrame([(raw,)], ["u"]).select(
        domain_from_url(F.col("u")).alias("h"),
        root_domain(domain_from_url(F.col("u"))).alias("r"),
    ).collect()[0]
    assert row["h"] == host
    assert row["r"] == root


def test_levenshtein_similarity(spark):
    # Reference guard (entity_resolution.py:188-190): either side empty
    # → 0.0, so suffix-only names that normalize to "" never match.
    row = spark.createDataFrame(
        [("kitten", "sitting"), ("", ""), ("", "acme")], ["a", "b"]
    ).select(
        levenshtein_similarity(F.col("a"), F.col("b")).alias("s")
    ).collect()
    assert row[0]["s"] == pytest.approx(1 - 3 / 7)
    assert row[1]["s"] == 0.0
    assert row[2]["s"] == 0.0


def test_levenshtein_similarity_null_is_zero(spark):
    # Reference treats None as empty (str falsiness) → 0.0; a raw
    # length(NULL) would make the when-condition NULL and leak NULL
    # into feature vectors (ADVICE r3).
    rows = spark.createDataFrame(
        [(None, "acme"), ("acme", None), (None, None)],
        "a string, b string",
    ).select(
        levenshtein_similarity(F.col("a"), F.col("b")).alias("s")
    ).collect()
    assert [r["s"] for r in rows] == [0.0, 0.0, 0.0]


class TestJaroWinklerConventions:
    """The reference halves the RAW transposition count as a float
    (entity_resolution.py:240-241); textbook/DuckDB floor it to pairs.
    Both conventions are deliberate and pinned here on an
    odd-transposition example where they must differ."""

    def test_reference_float_halving(self):
        assert _jaro_winkler("dabebe", "abdab") == 0.6972222222222223

    def test_textbook_floor_matches_duckdb(self):
        import duckdb

        ours = _jaro_winkler("dabebe", "abdab", floor_transpositions=True)
        assert ours == 0.7388888888888889
        got = duckdb.connect().execute(
            "SELECT jaro_winkler_similarity('dabebe', 'abdab')"
        ).fetchone()[0]
        # duckdb applies the 0.7 boost threshold; prefix here is 0 so
        # the winkler step is a no-op either way and the cores compare
        assert abs(ours - got) < 1e-12

    def test_empty_is_zero_before_equality(self):
        assert _jaro_winkler("", "") == 0.0
        assert _jaro_winkler("", "x") == 0.0


class TestJaroWinklerFloorBatchKernel:
    """Round-14 optimization: the floor-variant pandas UDF computes
    batches through `_jw_floor_batch` (DuckDB C jaro core for ASCII
    rows + scalar reference per non-ASCII row) instead of a per-row
    Python loop. The contract is BIT-IDENTICAL output (== on float64,
    not approx): the query filters on jw >= 0.9 and rounds to 9
    digits, so any ulp drift could flip a boundary row."""

    def _fuzz_cases(self):
        import random
        import string

        rng = random.Random(20260817)
        alpha = string.ascii_lowercase + " &.,-"
        uni = "αβγמしé漢ü"
        cases = [
            ("", ""),
            ("", "x"),
            ("same", "same"),
            ("MARTHA", "MARHTA"),
            ("dabebe", "abdab"),
            ("ab\x00c", "ab\x00c"),  # embedded NUL: byte-safe path
            ("müller gmbh", "muller gmbh"),  # non-ASCII -> scalar row
        ]
        for _ in range(2000):
            pool = alpha if rng.random() < 0.8 else alpha + uni
            cases.append(
                (
                    "".join(pool[rng.randrange(len(pool))] for _ in range(rng.randint(0, 40))),
                    "".join(pool[rng.randrange(len(pool))] for _ in range(rng.randint(0, 40))),
                )
            )
        # transposition-heavy permutations: the odd/even t boundary
        for _ in range(800):
            a = "".join("abcd"[rng.randrange(4)] for _ in range(rng.randint(1, 14)))
            cases.append((a, "".join(rng.sample(a, len(a)))))
        return cases

    def test_batch_kernel_bit_identical_to_scalar(self):
        import numpy as np

        from multi_crm_cross_sell_spark.functions.similarity import (
            _jw_floor_batch,
        )

        cases = self._fuzz_cases()
        s1 = np.array([c[0] for c in cases], dtype=object)
        s2 = np.array([c[1] for c in cases], dtype=object)
        got = _jw_floor_batch(s1, s2)
        for i, (a, b) in enumerate(cases):
            exp = _jaro_winkler(a, b, floor_transpositions=True)
            assert got[i] == exp, (a, b, got[i], exp)

    def test_batch_kernel_scatter_survives_result_reordering(self):
        """Round-15 ADVICE: the kernel realigns DuckDB results by an
        explicit rid column scattered back onto input rows — NOT by
        scan order. Disable preserve_insertion_order on the worker
        connection (the exact config change the ADVICE warned would
        silently misalign rows) and re-run the fuzz corpus: outputs
        must still land on the right rows."""
        import numpy as np

        from multi_crm_cross_sell_spark.functions import similarity as sim

        cases = self._fuzz_cases()
        s1 = np.array([c[0] for c in cases], dtype=object)
        s2 = np.array([c[1] for c in cases], dtype=object)
        con = sim._duck_con()
        assert con is not None
        con.execute("SET preserve_insertion_order = false")
        try:
            got = sim._jw_floor_batch(s1, s2)
        finally:
            con.execute("SET preserve_insertion_order = true")
        for i, (a, b) in enumerate(cases):
            exp = _jaro_winkler(a, b, floor_transpositions=True)
            assert got[i] == exp, (a, b, got[i], exp)

    def test_batch_kernel_falls_back_without_duckdb(self, monkeypatch):
        """Round-15 ADVICE: executors without duckdb must degrade to
        the per-row scalar reference (bit-identical), not raise
        ImportError at the first batch."""
        import sys

        import numpy as np

        from multi_crm_cross_sell_spark.functions import similarity as sim

        # Reset the per-process connection cache and make the import
        # fail the way a duckdb-less executor would.
        monkeypatch.setattr(sim, "_DUCK_CON", None)
        monkeypatch.setattr(sim, "_DUCK_PID", None)
        monkeypatch.setitem(sys.modules, "duckdb", None)
        assert sim._duck_con() is None
        cases = self._fuzz_cases()[:300]
        s1 = np.array([c[0] for c in cases], dtype=object)
        s2 = np.array([c[1] for c in cases], dtype=object)
        got = sim._jw_floor_batch(s1, s2)
        for i, (a, b) in enumerate(cases):
            exp = _jaro_winkler(a, b, floor_transpositions=True)
            assert got[i] == exp, (a, b, got[i], exp)
        # Un-poison the cache for later tests in this process.
        monkeypatch.setattr(sim, "_DUCK_CON", None)
        monkeypatch.setattr(sim, "_DUCK_PID", None)

    def test_floor_udf_null_and_nonascii_rows(self, spark):
        from multi_crm_cross_sell_spark.functions.similarity import (
            jaro_winkler_floor_udf,
        )

        df = spark.createDataFrame(
            [
                ("MARTHA", "MARHTA"),
                (None, "x"),
                ("müller", "muller"),  # non-ASCII row inside an ASCII batch
                ("acme corp", "acme corp"),
            ],
            ["a", "b"],
        )
        rows = df.select(
            jaro_winkler_floor_udf(F.col("a"), F.col("b")).alias("jw")
        ).collect()
        assert rows[0]["jw"] == _jaro_winkler(
            "MARTHA", "MARHTA", floor_transpositions=True
        )
        assert rows[1]["jw"] is None
        assert rows[2]["jw"] == _jaro_winkler(
            "müller", "muller", floor_transpositions=True
        )
        assert rows[3]["jw"] == 1.0


class TestPiiRedaction:
    """functions/redaction.py: crafted-string contracts for the PII
    scrub (patterns restricted to Java-regex ∩ RE2 syntax)."""

    CASES = [
        (
            "mail bob.smith+x@corp.example.org now",
            "mail [EMAIL] now",
            {"n_email": 1, "n_ssn": 0, "n_phone": 0, "n_ipv4": 0},
        ),
        (
            "ssn 123-45-6789 phone 555-123-4567 mixed",
            "ssn [SSN] phone [PHONE] mixed",
            {"n_email": 0, "n_ssn": 1, "n_phone": 1, "n_ipv4": 0},
        ),
        (
            "server 192.168.0.17 and 10.0.0.1",
            "server [IP] and [IP]",
            {"n_email": 0, "n_ssn": 0, "n_phone": 0, "n_ipv4": 2},
        ),
        (
            "dotted phone 555.123.4567 stays a phone",
            "dotted phone [PHONE] stays a phone",
            {"n_email": 0, "n_ssn": 0, "n_phone": 1, "n_ipv4": 0},
        ),
        (
            "clean text with no identifiers at all",
            "clean text with no identifiers at all",
            {"n_email": 0, "n_ssn": 0, "n_phone": 0, "n_ipv4": 0},
        ),
    ]

    def test_redaction_and_counts(self, spark):
        from pyspark.sql import functions as F

        from multi_crm_cross_sell_spark.functions.redaction import (
            pii_counts,
            redact_pii,
        )

        df = spark.createDataFrame(
            [(i, s) for i, (s, _, _) in enumerate(self.CASES)], "i int, s string"
        )
        rows = {
            r.i: r
            for r in df.select(
                "i", redact_pii(F.col("s")).alias("red"), *pii_counts(F.col("s"))
            ).collect()
        }
        for i, (_, expected_red, expected_counts) in enumerate(self.CASES):
            assert rows[i].red == expected_red, (i, rows[i].red)
            for k, v in expected_counts.items():
                assert getattr(rows[i], k) == v, (i, k, getattr(rows[i], k))

    def test_duckdb_twin_matches_spark(self, spark):
        import duckdb

        from pyspark.sql import functions as F

        from multi_crm_cross_sell_spark.functions.redaction import (
            redact_pii,
            sql_redact_pii,
        )

        df = spark.createDataFrame(
            [(i, s) for i, (s, _, _) in enumerate(self.CASES)], "i int, s string"
        )
        got_spark = {
            r.i: r.red
            for r in df.select("i", redact_pii(F.col("s")).alias("red")).collect()
        }
        con = duckdb.connect()
        for i, (s, _, _) in enumerate(self.CASES):
            (got_sql,) = con.execute(
                f"SELECT {sql_redact_pii('?')}", [s]
            ).fetchone()
            assert got_sql == got_spark[i], (i, got_sql, got_spark[i])
