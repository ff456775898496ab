"""Property-based differential testing: random queries, Spark vs DuckDB.

The reference has no randomized testing (SURVEY.md §5); this goes beyond
it: hypothesis generates random predicate trees and aggregation shapes
over the orders table, the same SQL text runs on both engines, and
results must match exactly.  Every construct generated is in the common
dialect subset (comparisons, AND/OR/NOT, IN-lists, BETWEEN, CASE,
grouped integer aggregation), so any mismatch is an engine-semantics bug,
not a dialect artifact.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st

SF_DIR = "/root/testdata/sf0.001"

# -- predicate generator ----------------------------------------------------

_NUM_COLS = ["o_orderkey", "o_custkey"]
_MONEY = "CAST(round(o_totalprice*100) AS BIGINT)"
_STR_COL = "o_orderstatus"
_STR_VALS = ["F", "O", "P"]
_PRIO_VALS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _leaf() -> st.SearchStrategy[str]:
    num_cmp = st.tuples(
        st.sampled_from(_NUM_COLS + [_MONEY]),
        st.sampled_from(["<", "<=", ">", ">=", "=", "<>"]),
        st.integers(min_value=0, max_value=5_000_000),
    ).map(lambda t: f"{t[0]} {t[1]} {t[2]}")
    str_eq = st.tuples(
        st.sampled_from([_STR_COL]), st.sampled_from(_STR_VALS)
    ).map(lambda t: f"{t[0]} = '{t[1]}'")
    in_list = st.lists(
        st.sampled_from(_PRIO_VALS), min_size=1, max_size=3, unique=True
    ).map(lambda vs: "o_orderpriority IN (" + ", ".join(f"'{v}'" for v in vs) + ")")
    between = st.tuples(
        st.integers(min_value=0, max_value=5000), st.integers(min_value=0, max_value=5000)
    ).map(lambda t: f"o_orderkey BETWEEN {min(t)} AND {max(t)}")
    return st.one_of(num_cmp, str_eq, in_list, between)


def _predicate(depth: int = 2) -> st.SearchStrategy[str]:
    if depth == 0:
        return _leaf()
    sub = _predicate(depth - 1)
    return st.one_of(
        _leaf(),
        st.tuples(sub, st.sampled_from(["AND", "OR"]), sub).map(
            lambda t: f"({t[0]} {t[1]} {t[2]})"
        ),
        sub.map(lambda p: f"(NOT {p})"),
    )


_AGGS = [
    "count(*)",
    f"CAST(sum({_MONEY}) AS BIGINT)",
    f"min({_MONEY})",
    f"max({_MONEY})",
    "count(DISTINCT o_custkey)",
]
_KEYS = ["o_orderstatus", "o_orderpriority"]


@pytest.fixture
def duck():
    # one connection per test: a DuckDB internal error invalidates the
    # connection it happens on, and must fail only that test
    con = duckdb.connect()
    for t in ("orders", "customer"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(SF_DIR, f'{t}.parquet')}')"
        )
    yield con
    con.close()


@pytest.fixture(scope="module")
def sql_engine(spark):
    for t in ("orders", "customer"):
        spark.read.parquet(os.path.join(SF_DIR, f"{t}.parquet")).createOrReplaceTempView(t)
    return spark


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pred=_predicate())
def test_filter_count_matches(sql_engine, duck, pred):
    sql = f"SELECT count(*) FROM orders WHERE {pred}"
    got = sql_engine.sql(sql).collect()[0][0]
    want = duck.execute(sql).fetchone()[0]
    assert got == want, sql


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pred=_predicate(1),
    agg=st.sampled_from(_AGGS),
    key=st.sampled_from(_KEYS),
)
def test_grouped_agg_matches(sql_engine, duck, pred, agg, key):
    sql = (
        f"SELECT {key}, {agg} AS v FROM orders WHERE {pred} "
        f"GROUP BY {key} ORDER BY {key}"
    )
    got = [tuple(r) for r in sql_engine.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert got == want, sql


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pred=_predicate(1), key=st.sampled_from(["c_mktsegment", "c_nationkey"]))
def test_join_agg_matches(sql_engine, duck, pred, key):
    sql = (
        f"SELECT {key}, count(*) AS n, CAST(sum({_MONEY}) AS BIGINT) AS s "
        f"FROM orders JOIN customer ON o_custkey = c_custkey "
        f"WHERE {pred} GROUP BY {key} ORDER BY {key}"
    )
    got = [tuple(r) for r in sql_engine.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert got == want, sql


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pred=_predicate(1), k=st.integers(min_value=1, max_value=5))
def test_window_topk_matches(sql_engine, duck, pred, k):
    sql = (
        "SELECT o_orderpriority, o_orderkey FROM ("
        "  SELECT o_orderpriority, o_orderkey, "
        "         row_number() OVER (PARTITION BY o_orderpriority "
        "                            ORDER BY o_orderkey) AS rn "
        f"  FROM orders WHERE {pred}"
        f") t WHERE rn <= {k} ORDER BY o_orderpriority, o_orderkey"
    )
    got = [tuple(r) for r in sql_engine.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert got == want, sql


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pred=_predicate(1))
def test_presto_frontend_matches(spark, duck, pred):
    """Same random query through the Presto-dialect front-end
    (PrestoSparkEngine.sql → translate → spark.sql): the translator must
    be a no-op-or-better on the common subset."""
    from facebook_presto_spark.engine import PrestoSparkEngine

    eng = PrestoSparkEngine.for_dir(SF_DIR, spark=spark)
    sql = (
        f"SELECT o_orderstatus, count(*) AS n FROM orders WHERE {pred} "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"
    )
    got = [tuple(r) for r in eng.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert got == want, sql


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pred=_predicate(1), lo=st.integers(min_value=0, max_value=3000))
def test_case_projection_matches(sql_engine, duck, pred, lo):
    sql = (
        "SELECT o_orderkey, "
        f"CASE WHEN {pred} THEN 'yes' ELSE 'no' END AS flag "
        f"FROM orders WHERE o_orderkey BETWEEN {lo} AND {lo + 200} "
        "ORDER BY o_orderkey"
    )
    got = [tuple(r) for r in sql_engine.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert got == want, sql


# -- scalar-expression families (round 3) -----------------------------------

_STR_FNS = ["upper", "lower", "trim", "reverse"]


def _str_expr() -> st.SearchStrategy[str]:
    base = st.sampled_from(
        ["o_orderpriority", "o_orderstatus"]
    )
    wrapped = st.tuples(
        st.lists(st.sampled_from(_STR_FNS), min_size=0, max_size=3), base
    ).map(lambda t: _nest(t[1], t[0]))
    sub = st.tuples(
        wrapped,
        st.integers(min_value=1, max_value=5),
        st.integers(min_value=1, max_value=8),
    ).map(lambda t: f"substr({t[0]}, {t[1]}, {t[2]})")
    rep = wrapped.map(lambda e: f"replace({e}, 'E', '_')")
    return st.one_of(wrapped, sub, rep)


def _nest(base: str, fns: list) -> str:
    out = base
    for f in fns:
        out = f"{f}({out})"
    return out


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(expr=_str_expr(), lo=st.integers(min_value=0, max_value=3000))
def test_string_expression_matches(sql_engine, duck, expr, lo):
    """Random string-function chains (upper/lower/trim/reverse/substr/
    replace/||/length) — identical text on both engines."""
    sql = (
        f"SELECT o_orderkey, {expr} AS s, length({expr}) AS n, "
        f"{expr} || '#' AS tagged "
        f"FROM orders WHERE o_orderkey BETWEEN {lo} AND {lo + 150} "
        "ORDER BY o_orderkey"
    )
    got = [tuple(r) for r in sql_engine.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert got == want, sql


_DT_FIELDS = ["year", "month", "day"]


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    field=st.sampled_from(_DT_FIELDS),
    unit=st.sampled_from(["month", "year"]),
    pred=_predicate(1),
)
def test_datetime_expression_matches(sql_engine, duck, field, unit, pred):
    """extract()/date_trunc() over o_orderdate with a random predicate."""
    sql = (
        f"SELECT extract({field} FROM o_orderdate) AS f, "
        f"CAST(date_trunc('{unit}', o_orderdate) AS DATE) AS t, count(*) AS n "
        f"FROM orders WHERE {pred} "
        "GROUP BY 1, 2 ORDER BY 1, 2"
    )
    got = [tuple(r) for r in sql_engine.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert got == want, sql


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    p1=_predicate(1),
    p2=_predicate(1),
    op=st.sampled_from(["UNION", "UNION ALL", "INTERSECT", "EXCEPT"]),
)
def test_setop_matches(sql_engine, duck, p1, p2, op):
    """Random set operations between two filtered projections."""
    sql = (
        f"SELECT o_orderpriority FROM orders WHERE {p1} "
        f"{op} "
        f"SELECT o_orderpriority FROM orders WHERE {p2} "
        "ORDER BY o_orderpriority"
    )
    got = [tuple(r) for r in sql_engine.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    if op == "UNION ALL":
        assert sorted(got) == sorted(want), sql
    else:
        assert got == want, sql


# -- window frames / grouping sets / aggregate modifiers (round 4) ----------

_FRAMES = [
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
    "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW",
    "ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING",
    "ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING",
    "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING",
    "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
]


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pred=_predicate(1), frame=st.sampled_from(_FRAMES),
       agg=st.sampled_from(["sum", "min", "max", "count"]))
def test_window_frame_matches(sql_engine, duck, pred, frame, agg):
    """Aggregates over random ROWS/RANGE frames; the ORDER BY key is
    unique (o_orderkey) so every frame content is deterministic."""
    sql = (
        f"SELECT o_orderkey, CAST({agg}({_MONEY}) OVER ("
        "PARTITION BY o_orderpriority ORDER BY o_orderkey "
        f"{frame}) AS BIGINT) AS v "
        f"FROM orders WHERE {pred} ORDER BY o_orderkey"
    )
    got = [tuple(r) for r in sql_engine.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert got == want, sql


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pred=_predicate(1), off=st.integers(min_value=1, max_value=4))
def test_lag_lead_matches(sql_engine, duck, pred, off):
    sql = (
        f"SELECT o_orderkey, lag(o_orderkey, {off}, -1) OVER w AS lg, "
        f"lead(o_orderkey, {off}, -1) OVER w AS ld "
        f"FROM orders WHERE {pred} "
        "WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey) "
        "ORDER BY o_orderkey"
    )
    got = [tuple(r) for r in sql_engine.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert got == want, sql


# (form, selectable columns) — a column may only be selected if it
# appears in at least one grouping set (Presto and Spark both reject
# otherwise; DuckDB is lenient, so the generator stays in the common
# subset)
_GS_FORMS = [
    ("GROUPING SETS ((o_orderstatus), (o_orderpriority))",
     ["o_orderstatus", "o_orderpriority"]),
    ("GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())",
     ["o_orderstatus", "o_orderpriority"]),
    ("GROUPING SETS ((o_orderstatus), ())", ["o_orderstatus"]),
    ("CUBE (o_orderstatus, o_orderpriority)",
     ["o_orderstatus", "o_orderpriority"]),
    ("ROLLUP (o_orderstatus, o_orderpriority)",
     ["o_orderstatus", "o_orderpriority"]),
]


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pred=_predicate(1), form_cols=st.sampled_from(_GS_FORMS))
@example(pred="o_orderkey BETWEEN 1500 AND 1500", form_cols=_GS_FORMS[3])
@example(pred="o_orderkey BETWEEN 1500 AND 1500", form_cols=_GS_FORMS[4])
def test_grouping_sets_matches(spark, duck, pred, form_cols):
    """GROUPING SETS / CUBE / ROLLUP through the Presto front-end vs
    DuckDB — including the empty-input global row: CUBE/ROLLUP over
    zero rows emit the ()-arm row (NULL keys + count 0 + NULL sum),
    matching the reference (AbstractTestAggregations.java:1223
    testCubeNoInput).  The two @example pins are the round-5
    falsifying inputs; derandomize keeps the sampling deterministic
    so the empty-input branch is exercised every run."""
    from facebook_presto_spark.engine import PrestoSparkEngine

    eng = PrestoSparkEngine.for_dir(SF_DIR, spark=spark)
    form, cols = form_cols
    sel = ", ".join(cols)
    order = ", ".join(f"{c} NULLS FIRST" for c in cols)
    sql = (
        f"SELECT {sel}, count(*) AS n, CAST(sum({_MONEY}) AS BIGINT) AS s "
        f"FROM orders WHERE {pred} GROUP BY {form} "
        f"ORDER BY {order}, n, s"
    )
    got = [tuple(r) for r in eng.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert got == want, sql


@pytest.mark.parametrize("pred", ["o_orderkey < 50", "o_orderkey < 0"])
@pytest.mark.parametrize("form", [
    "CUBE (o_orderstatus)",
    "ROLLUP (o_orderstatus)",
    "GROUPING SETS ((o_orderstatus), ())",
])
def test_grouping_key_expressions_in_global_row(spark, duck, pred, form):
    """Composite expressions over grouping keys must be EVALUATED at
    NULL keys in the global row — coalesce(k,'x') yields 'x', constants
    stay themselves (ADVICE r5: the compensating arm previously nulled
    whole items) — on empty AND non-empty input."""
    from facebook_presto_spark.engine import PrestoSparkEngine

    eng = PrestoSparkEngine.for_dir(SF_DIR, spark=spark)
    sql = (
        "SELECT coalesce(o_orderstatus, 'none') AS k, 'tag' AS t0, "
        "count(*) AS n "
        f"FROM orders WHERE {pred} GROUP BY {form} "
        "ORDER BY k NULLS FIRST, n"
    )
    got = [tuple(r) for r in eng.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert got == want, sql


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(p1=_predicate(1), p2=_predicate(1))
def test_agg_filter_distinct_matches(sql_engine, duck, p1, p2):
    """FILTER and DISTINCT modifiers under random predicates."""
    sql = (
        "SELECT o_orderstatus, "
        f"count(*) FILTER (WHERE {p1}) AS a, "
        f"CAST(sum({_MONEY}) FILTER (WHERE {p2}) AS BIGINT) AS b, "
        "count(DISTINCT o_custkey) AS c "
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"
    )
    got = [tuple(r) for r in sql_engine.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert got == want, sql


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pred=_predicate(1), n=st.integers(min_value=1, max_value=4))
def test_two_phase_topn_filter_having_matches(spark, duck, pred, n):
    """max(x, n) + FILTER + HAVING through the Presto front-end: the
    round-10 two-phase restructure fires (partials per partition, merge
    per key, HAVING as an outer filter, FILTER as a per-row mask) and
    must agree with DuckDB's longhand sorted-slice under ANY predicate —
    including predicates that empty a whole group (NULL, not [])."""
    from facebook_presto_spark.engine import PrestoSparkEngine
    from facebook_presto_spark.sqlfront.translate import translate

    eng = PrestoSparkEngine.for_dir(SF_DIR, spark=spark)
    presto = (
        f"SELECT o_orderstatus, max({_MONEY}, {n}) "
        f"FILTER (WHERE {pred}) AS t, count(*) AS c "
        "FROM orders GROUP BY o_orderstatus "
        "HAVING count(*) > 10 ORDER BY o_orderstatus"
    )
    assert "__fps_salt" in translate(presto)
    ducksql = (
        f"SELECT o_orderstatus, "
        f"(list({_MONEY} ORDER BY {_MONEY} DESC) "
        f" FILTER (WHERE {pred}))[1:{n}] AS t, count(*) AS c "
        "FROM orders GROUP BY o_orderstatus "
        "HAVING count(*) > 10 ORDER BY o_orderstatus"
    )
    got = [(r[0], list(r[1]) if r[1] is not None else None, r[2])
           for r in eng.sql(presto).collect()]
    want = [(r[0], list(r[1]) if r[1] is not None else None, r[2])
            for r in duck.execute(ducksql).fetchall()]
    assert got == want, presto
