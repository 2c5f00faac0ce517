"""Unit tests for bench.py's harness arithmetic — the pieces whose
failure modes the round-10 review found (ratio skew on missing
oracles, fake ratios when no oracle ran). No SparkSession needed."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _sec_totals(names, book, oracle_timings):
    """Mirror of bench.main's inner helper (kept in lockstep by this
    test — the helper is a closure, so the logic is restated here;
    a drift shows up as a failing expectation below on the same
    inputs)."""
    both = [n for n in names if n in book and n in oracle_timings]
    if not both:
        return None, None
    o = sum(oracle_timings[n] for n in both)
    s = sum(book[n] for n in both)
    return round(o, 3), round(s / o, 3)


def test_ratio_restricted_to_both_sides():
    names = ["a", "b", "c"]
    book = {"a": 2.0, "b": 4.0, "c": 100.0}  # c has NO oracle timing
    oracle = {"a": 1.0, "b": 1.0}
    o, r = _sec_totals(names, book, oracle)
    assert o == 2.0
    # the spark numerator must exclude c (100.0) — pre-fix it did not
    assert r == 3.0


def test_ratio_is_null_when_no_oracle_ran():
    o, r = _sec_totals(["a"], {"a": 2.0}, {})
    assert o is None and r is None


def test_bench_source_matches_mirror():
    """The mirrored helper above must stay in lockstep with bench.py's
    closure: assert the load-bearing lines exist verbatim in the
    source (a cheap drift tripwire — if bench.py's logic changes,
    update the mirror and these expectations together)."""
    src = open(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")
    ).read()
    assert "both = [n for n in names if n in book and n in oracle_timings]" in src
    assert "if not both:" in src
    assert "s = sum(book[n] for n in both)" in src


class _FakeCon:
    """DuckDB stand-in: raises on the 'BOOM' oracle, succeeds else."""

    def execute(self, sql):
        if sql == "BOOM":
            raise RuntimeError("bad oracle")

        class R:
            def fetchall(self):
                return []

        return R()


class _FakeWriter:
    def mode(self, _):
        return self

    def format(self, _):
        return self

    def save(self):
        return None


class _FakeDF:
    write = _FakeWriter()


class _FakeSpark:
    """Just enough surface for interleaved_measure's GC barrier."""

    class sparkContext:  # noqa: N801 - mimic pyspark attribute
        class _jvm:  # noqa: N801
            class System:  # noqa: N801
                @staticmethod
                def gc():
                    return None


def _q(oracle, fn=None):
    class Q:
        pass

    q = Q()
    q.oracle = oracle
    q.fn = fn or (lambda spark, sf_dir: _FakeDF())
    return q


def test_interleaved_measure_oracle_failure_keeps_spark_walls():
    """A failing oracle must not discard the spark timings — the
    ratio is simply absent (d_min None) — and the failure must be
    RECORDED in the error slot (round-12 ADVICE: a silently vanished
    wall is indistinguishable from an unbenched query)."""
    import bench

    s, d, err = bench.interleaved_measure(
        _FakeSpark(), _FakeCon(), _q("BOOM"), "/nonexistent", runs=1
    )
    assert s is not None
    assert d is None
    assert err is not None and err.startswith("duckdb(")
    assert "1/1 runs failed" in err


def test_interleaved_measure_records_both_sides():
    import bench

    s, d, err = bench.interleaved_measure(
        _FakeSpark(), _FakeCon(), _q("SELECT 1"), "/nonexistent", runs=2
    )
    assert s is not None and d is not None
    assert err is None


def test_interleaved_measure_spark_failure_keeps_oracle():
    """A failing spark run must not block the oracle timing of the
    same pair (and must not raise) — and must surface in the error
    slot so the bench JSON can carry it."""
    import bench

    def boom(spark, sf_dir):
        raise RuntimeError("bad plan")

    s, d, err = bench.interleaved_measure(
        _FakeSpark(), _FakeCon(), _q("SELECT 1", fn=boom), "/nonexistent", runs=1
    )
    assert s is None and d is not None
    assert err is not None and err.startswith("spark(")
    assert "1/1 runs failed" in err
    assert "bad plan" in err


def test_interleaved_measure_transient_failure_clears_on_success():
    """Round-13 ADVICE: a side that fails on run 1 but succeeds on a
    later run must NOT land in the errors map — n_errors means
    'erroring now', not 'hiccuped once'."""
    import bench

    calls = {"n": 0}

    def flaky(spark, sf_dir):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient")
        return _FakeDF()

    s, d, err = bench.interleaved_measure(
        _FakeSpark(), _FakeCon(), _q("SELECT 1", fn=flaky), "/nonexistent", runs=2
    )
    assert s is not None and d is not None
    assert err is None


def test_interleaved_measure_no_con_no_oracle_timing():
    import bench

    s, d, err = bench.interleaved_measure(
        _FakeSpark(), None, _q("SELECT 1"), "/nonexistent", runs=1
    )
    assert s is not None and d is None and err is None


def test_package_zip_is_content_addressed(tmp_path):
    """The worker package zip is named by a digest of the package
    sources and written deterministically: two builds into two
    directories give the same name and the same bytes, so a zip from
    another checkout can never shadow this one under a shared name
    (Spark rejects a second, different file under an already-shipped
    name), and the archive carries the current sources."""
    import os
    import zipfile

    from multi_crm_cross_sell_spark import session as sess

    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    a = sess._package_zip(str(tmp_path / "a"))
    b = sess._package_zip(str(tmp_path / "b"))
    assert os.path.basename(a) == os.path.basename(b)
    with open(a, "rb") as fa, open(b, "rb") as fb:
        assert fa.read() == fb.read()
    # A rebuild over an existing zip reuses it.
    assert sess._package_zip(str(tmp_path / "a")) == a
    with zipfile.ZipFile(a) as z:
        src = z.read(
            "multi_crm_cross_sell_spark/functions/similarity.py"
        ).decode()
    assert "_jw_floor_batch" in src


def test_compact_final_line_fits_budget_and_carries_per_query():
    """Round 15 (verdict item 1): the FINAL one-line JSON must carry
    per-query walls/ratios so PERF's per_query/geomean/scaling blocks
    populate — while staying complete inside the driver's ~2000-char
    tail capture (the very failure that made rounds 9/10 read
    "parsed": null). Realistic 65-query books from the live section
    lists must fit the headline walls+ratios and keep every totals
    key."""
    import json

    import bench

    totals = {
        "metric": "headline_queries_total_wall",
        "value": 12.324,
        "unit": "sec",
        "oracle_total": 7.392,
        "ratio_vs_oracle": 1.667,
        "ratio_median": 5.082,
        "curation_total": 30.095,
        "curation_oracle_total": 18.695,
        "curation_ratio": 1.61,
        "curation_ratio_median": 3.199,
        "ann_index_total": 8.697,
        "ann_index_oracle_total": 5.516,
        "ann_index_ratio": 1.577,
        "ann_index_ratio_median": 1.829,
        "pairgen_total": 2.41,
        "pairgen_oracle_total": 3.832,
        "pairgen_ratio": 0.629,
        "pairgen_ratio_median": 0.593,
        "curation_total_r7_subset": 11.105,
        "epoch_spark_start": 0.0728,
        "epoch_duck_start": 0.1677,
        "epoch_spark_end": 0.0609,
        "epoch_duck_end": 0.1833,
        "n_errors": 0,
        "sf": 0.1,
    }
    # Worst-case-ish walls (5-char values like 34.71 everywhere)
    timings = {n: 34.706 for n in bench.HEADLINE}
    cur = {n: 34.706 for n in bench.CURATION}
    ann = {n: 34.706 for n in bench.ANN_INDEX}
    pair = {n: 34.706 for n in bench.PAIRGEN}
    ratios = {n: 30.125 for n in bench.HEADLINE + bench.CURATION}
    line = bench.compact_final_line(totals, timings, ratios, ann, pair, cur)
    assert len(line) <= bench.FINAL_LINE_BUDGET
    parsed = json.loads(line)
    # additions only: every totals key survives untouched
    for k, v in totals.items():
        assert parsed[k] == v
    # the contract's "queries" map (headline walls) is present and
    # complete, with 2-decimal values
    assert set(parsed["queries"]) == set(bench.HEADLINE)
    assert parsed["queries"]["pricing_summary"] == 34.71
    # headline ratios made it too
    assert set(parsed["ratio_queries"]) == set(bench.HEADLINE)


def test_compact_final_line_degrades_to_totals_only():
    """A pathological book that cannot fit is SKIPPED, never
    truncated mid-object — the final line stays valid JSON with the
    totals intact."""
    import json

    import bench

    totals = {"metric": "headline_queries_total_wall", "value": 1.0}
    huge = {f"query_with_a_very_long_name_{i:04d}": 1.234 for i in range(500)}
    line = bench.compact_final_line(totals, huge, {}, {}, {}, {})
    assert len(line) <= bench.FINAL_LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total_wall"
    assert "queries" not in parsed  # skipped whole, not clipped
