"""Tests for the benchmark's own helpers: percentile choice, failure
counting, result normalisation and the span arithmetic.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import decimal
import statistics

import pytest

import datagen
import metrics
import run
from spans import Tracer, covered
from workloads import InteractiveHttp, Outcome, Statement, _mismatch


def test_percentile_matches_statistics_inclusive():
    xs = [float(x) for x in range(1, 101)]
    assert metrics.percentile(xs, 50) == statistics.median(xs)
    assert metrics.percentile(xs, 90) == pytest.approx(90.1)
    # never outside the observed range, even for a small sample
    assert min(xs) <= metrics.percentile(xs[:3], 90) <= max(xs[:3])


def test_percentile_single_and_empty_sample():
    assert metrics.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        metrics.percentile([], 50)


def test_p90_of_a_hundred_samples_has_ten_beyond():
    xs = [float(x) for x in range(100)]
    assert metrics.beyond(xs, metrics.percentile(xs, 90)) == 10


def test_error_rate_counts_failures_against_attempts():
    assert metrics.error_rate(40, 0) == 0.0
    assert metrics.error_rate(40, 2) == 0.05
    with pytest.raises(ValueError):
        metrics.error_rate(0, 0)


def test_leveled_compares_the_kinds_both_chunks_ran():
    prev = {"point": [0.2, 0.3], "meta.describe": [0.2]}
    assert metrics.leveled(prev, {"point": [0.26], "meta.columns": [1.8]}, 0.1)
    assert not metrics.leveled(prev, {"point": [0.2], "meta.describe": [0.1]}, 0.1)
    assert not metrics.leveled(prev, {"fn": [0.3]}, 0.1)


def test_warm_up_runs_its_minimum_chunks_past_the_budget():
    class Fake:
        warm_budget_s = 0.0
        warm_min_chunks = 3

        def warm_chunk(self, k):
            return [Statement("point", "", twin=k)]

        def run(self, stmt):
            # twice as fast each chunk: never leveled off
            return Outcome(stmt, 1.0 / 2 ** stmt.twin, 0.01)

    warm = run.warm_up(Fake())
    assert len(warm["chunks"]) == 3
    assert not warm["leveled"]


def test_rows_written_counts_ctas_and_insert_only():
    def out(kind, n, t):
        return Outcome(Statement(kind, ""), t, t, ["rows"], [[n]])

    outs = [out("etl.ctas", 900, 2.0), out("etl.insert", 100, 0.5), out("etl.delete", 50, 1.0)]
    assert metrics.rows_written_per_s(outs) == 400.0
    assert metrics.rows_written_per_s([out("point", 1, 0.1)]) == 0.0


def test_failed_counts_errors_wrong_results_and_wrong_shapes():
    class Twin:
        def query(self, sql):
            return ["x"], [(1,)]

    wl = InteractiveHttp(1, None, None, datagen.sizes(0.001))
    outs = [
        Outcome(Statement("point", "a", twin="t"), 0.1, 0.1, ["x"], [[1]]),
        Outcome(Statement("point", "b", twin="t"), 0.1, 0.1, ["x"], [[2]]),
        Outcome(Statement("point", "c", twin="t"), 0.1, 0.1, error="boom"),
        Outcome(Statement("approx", "d", twin="t"), 0.1, 0.1, ["x"], [[1]]),
    ]
    bad = run.failed(outs, wl, Twin())
    assert [sql for _, sql, _ in bad] == ["b", "c", "d"]
    assert bad[1][2] == "boom"
    assert metrics.error_rate(len(outs), len(bad)) == 0.75


def test_wire_renders_values_as_the_protocol_does():
    ts = dt.datetime(1997, 3, 1, 12, 5, 9, 123456)
    assert metrics.wire(ts) == "1997-03-01 12:05:09.123"
    assert metrics.wire(dt.date(1997, 3, 1)) == "1997-03-01"
    assert metrics.wire(decimal.Decimal("1.50")) == "1.50"
    assert metrics.wire([1, (2.5, None)]) == [1, [2.5, None]]


def test_row_hash_ignores_order_but_not_duplicates():
    rows = [[1, "a"], [2, "b"], [3, "c"]]
    assert metrics.row_hash(rows) == metrics.row_hash(list(reversed(rows)))
    assert metrics.row_hash(rows)[0] == 3
    assert metrics.row_hash(rows + [[1, "a"]]) != metrics.row_hash(rows + [[2, "b"]])
    assert metrics.row_hash(rows) != metrics.row_hash([[1, "a"], [2, "b"], [3, "d"]])
    assert metrics.row_hash([[1, "a"]]) != metrics.row_hash([[1.0, "a"]])


def test_mismatch_reports_the_first_difference():
    assert _mismatch(["a"], [[1]], ["a"], [(1,)]) is None
    assert "columns" in _mismatch(["a"], [[1]], ["b"], [(1,)])
    assert "rows" in _mismatch(["a"], [[1]], ["a"], [])
    assert _mismatch(["a"], [[1], [2]], ["a"], [(1,), (3,)]).startswith("row 1")


def test_outcome_counts_rows():
    out = Outcome(Statement("point", "SELECT 1"), 0.1, 0.1, ["x"], [[1], [2]])
    assert out.nrows == 2
    assert Outcome(Statement("point", "SELECT 1"), 0.1, 0.1, error="boom").nrows == 0


def test_covered_is_the_length_of_the_union():
    assert covered([]) == 0.0
    assert covered([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)]) == pytest.approx(3.0)
    assert covered([(0.0, 4.0), (1.0, 2.0)]) == pytest.approx(4.0)


def test_self_time_subtracts_child_spans():
    class Layer:
        def outer(self):
            self.inner()
            self.inner()

        def inner(self):
            sum(range(20000))

    original = Layer.outer
    tracer = Tracer()
    tracer.wrap(Layer, "outer", "outer")
    tracer.wrap(Layer, "inner", "inner")
    try:
        tracer.current = 0
        Layer().outer()
    finally:
        tracer.restore()
    total = tracer.per_statement("outer")[0]
    inner = tracer.per_statement("inner")[0]
    assert tracer.calls("inner") == {0: 2}
    assert tracer.self_time("outer")[0] == pytest.approx(total - inner)
    assert Layer.outer is original
    assert len(tracer.spans) == 3


def test_generated_tables_are_deterministic_and_sized():
    a = datagen.build_tables(0.001)
    b = datagen.build_tables(0.001)
    sizes = datagen.sizes(0.001)
    for name in datagen.TABLES:
        assert a[name].equals(b[name])
        assert a[name].num_rows == sizes[name]
