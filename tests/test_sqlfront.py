"""SQL front-end tests: Presto-dialect text in, correct results out.

Two layers, mirroring the reference's parser tests
(presto-parser/src/test/.../TestSqlParser.java) and oracle-differential
query tests (presto-tests/.../AbstractTestQueries.java):

1. translation unit tests — the emitted Spark SQL contains the expected
   rewrite (no Spark session needed);
2. end-to-end — run the *Presto* text through the engine and the same
   (or manually-equivalent) SQL through DuckDB on the same parquet, and
   diff the sorted rows.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from facebook_presto_spark.engine import PrestoSparkEngine
from facebook_presto_spark.sqlfront import translate


# ---------------------------------------------------------------------------
# 1. translation unit tests
# ---------------------------------------------------------------------------

def test_typed_literals():
    assert translate("SELECT DOUBLE '1.5'") == "SELECT CAST('1.5' AS DOUBLE)"
    assert translate("SELECT REAL '1.5'") == "SELECT CAST('1.5' AS DOUBLE)"
    assert "CAST('1.25' AS DECIMAL(3,2))" in translate("SELECT DECIMAL '1.25'")
    # JSON literals validate + canonicalize (NULL on malformed text)
    assert translate("SELECT JSON '[1,2]'") \
        == "SELECT to_json(try_parse_json('[1,2]'))"


def test_function_renames():
    out = translate("SELECT strpos(name, 'x'), codepoint(c), to_hex(b) FROM t")
    assert "instr(name, 'x')" in out
    assert "ascii(c)" in out
    assert "hex(b)" in out


def test_date_functions():
    out = translate("SELECT date_add('month', 3, d), date_diff('day', a, b) FROM t")
    assert "(d + (3) * INTERVAL '1' MONTH)" in out
    assert "timestampdiff(DAY, a, b)" in out


def test_mysql_format_translation():
    out = translate("SELECT date_format(ts, '%Y-%m-%d %H:%i:%s') FROM t")
    assert "date_format(ts, 'yyyy-MM-dd HH:mm:ss')" in out
    out = translate("SELECT date_parse(s, '%Y/%m/%d')")
    assert "to_timestamp(s, 'yyyy/MM/dd')" in out


def test_regexp_group_default():
    # Presto regexp_extract default group is 0 (whole match); Spark's is 1
    out = translate("SELECT regexp_extract(s, 'a(b)c') FROM t")
    assert "regexp_extract(s, 'a(b)c', 0)" in out
    out = translate("SELECT regexp_extract(s, 'a(b)c', 1) FROM t")
    assert "regexp_extract(s, 'a(b)c', 1)" in out


def test_split_literal_delimiter():
    # Presto split() takes a literal; Spark's takes a regex — '.' must be
    # escaped, and the backslash itself doubled for Spark's string parser
    out = translate("SELECT split(host, '.') FROM t")
    assert "split(host, '\\\\.')" in out


def test_string_literal_backslash_raw():
    # Presto string literals are raw; Spark's parser eats single backslashes
    assert translate(r"SELECT 'a\b'") == r"SELECT 'a\\b'"
    assert translate(r"SELECT x LIKE 'a\_b' ESCAPE '\' FROM t") == \
        r"SELECT x LIKE 'a\\_b' ESCAPE '\\' FROM t"


def test_unnest_rewrite():
    out = translate("SELECT t.x FROM tbl CROSS JOIN UNNEST(arr) AS t(x)")
    assert "LATERAL VIEW explode(arr) t AS x" in out


def test_unnest_with_ordinality():
    out = translate(
        "SELECT t.x, t.i FROM tbl CROSS JOIN UNNEST(arr) WITH ORDINALITY AS t(x, i)"
    )
    assert "posexplode(arr)" in out
    # ordinality references become (pos + 1): Presto ordinality is 1-based
    assert "(__pos_i + 1)" in out


def test_quantified_comparisons():
    out = translate("SELECT * FROM t WHERE x = ANY (SELECT y FROM u)")
    assert "IN(SELECT y FROM u)" in out or "IN (SELECT y FROM u)" in out
    out = translate("SELECT * FROM t WHERE x <> ALL (SELECT y FROM u)")
    assert "NOT IN" in out
    out = translate("SELECT * FROM t WHERE x > ALL (SELECT y FROM u)")
    assert "max(__v)" in out
    out = translate("SELECT * FROM t WHERE x < SOME (SELECT y FROM u)")
    assert "max(__v)" in out


def test_quantified_empty_set_guard():
    # empty subquery: 'x < ALL (empty)' is TRUE, 'x > ANY (empty)' is FALSE
    # (TransformQuantifiedComparisonApplyToLateralJoin count guards)
    out = translate("SELECT * FROM t WHERE x > ALL (SELECT y FROM u)")
    assert "count(*)" in out and "THEN TRUE" in out
    out = translate("SELECT * FROM t WHERE x > ANY (SELECT y FROM u)")
    assert "count(*)" in out and "THEN FALSE" in out
    out = translate("SELECT * FROM t WHERE x = ALL (SELECT y FROM u)")
    assert "min(__v)" in out and "max(__v)" in out and "THEN TRUE" in out
    out = translate("SELECT * FROM t WHERE x <> ANY (SELECT y FROM u)")
    assert "min(__v)" in out and "max(__v)" in out and "THEN FALSE" in out


def test_negative_literal_subscript_rejected():
    import pytest

    with pytest.raises(NotImplementedError, match="negative"):
        translate("SELECT a[-1] FROM t")


def test_weighted_approx_percentile_translation():
    out = translate("SELECT approx_percentile(x, 0.5) FROM t")
    assert "percentile_approx(x, 0.5)" in out
    # weighted 3-arg form: w is the *frequency*, not the percentage
    out = translate("SELECT approx_percentile(x, w, 0.5) FROM t")
    assert "percentile(x, 0.5, w)" in out


def test_from_unixtime_zone_forms():
    out = translate("SELECT from_unixtime(t, 'America/New_York') FROM t")
    assert "from_utc_timestamp(timestamp_seconds(t), 'America/New_York')" in out
    out = translate("SELECT from_unixtime(t, 5, 30) FROM t")
    assert "from_utc_timestamp" in out and "format_string" in out


def test_order_by_nulls_last():
    out = translate("SELECT a FROM t ORDER BY a")
    assert out.endswith("ORDER BY a NULLS LAST")
    out = translate("SELECT a FROM t ORDER BY a DESC")
    assert out.endswith("ORDER BY a DESC")  # DESC default already NULLS LAST
    out = translate("SELECT a FROM t ORDER BY a NULLS FIRST")
    assert "NULLS LAST" not in out
    out = translate("SELECT a, b FROM t ORDER BY a, b DESC LIMIT 5")
    assert "a NULLS LAST, b DESC LIMIT 5" in out


def test_misc_rewrites():
    assert "TABLESAMPLE(10 PERCENT)" in translate(
        "SELECT * FROM t TABLESAMPLE BERNOULLI(10)")
    assert translate("SELECT * FROM t FETCH FIRST 7 ROWS ONLY").endswith("LIMIT 7")
    assert "LIMIT" not in translate("SELECT * FROM t LIMIT ALL")


def test_json_complex_casts():
    # JsonToArrayCast/JsonToMapCast: json_parse composition routes
    # through the token-kind coercer, then from_json (round 11)
    got = translate("SELECT CAST(json_parse('[1,2]') AS ARRAY(BIGINT))")
    assert "from_json(presto_json_coerce('[1,2]', 'array(bigint)'), " \
        "'array<bigint>')" in got
    got = translate("SELECT CAST(json_parse(p) AS MAP(VARCHAR, BIGINT)) FROM t")
    assert "from_json(presto_json_coerce(p, 'map(varchar, bigint)'), " \
        "'map<string, bigint>')" in got.lower()
    # a non-JSON operand keeps a plain CAST (array→array conversion)
    got = translate("SELECT CAST(arr AS ARRAY(DOUBLE)) FROM t")
    assert "CAST" in got and "from_json" not in got


def test_try_shapes():
    assert "try_divide(a, b)" in translate("SELECT try(a / b) FROM t")
    assert "try_cast" in translate("SELECT try(CAST(s AS BIGINT)) FROM t")
    assert "try_multiply(a, b)" in translate("SELECT try(a * b) FROM t")
    assert "try_add(a, b)" in translate("SELECT try(a + b) FROM t")
    assert "try_subtract(a, b)" in translate("SELECT try(a - b) FROM t")
    assert "try_element_at" in translate("SELECT try(element_at(m, 'k')) FROM t")


def test_try_map_guard_runtime(spark):
    """TRY(MAP(k, v)) must return NULL for every MapConstructor.java
    error class TryFunction suppresses: NULL key, duplicate key, and
    mismatched array lengths (MapConstructor.java:137)."""
    from facebook_presto_spark.engine import PrestoSparkEngine

    eng = PrestoSparkEngine(spark)
    q = ("SELECT try(map(array[1, 2], array['a'])) AS short, "
         "try(map(array[1], array['a', 'b'])) AS long, "
         "try(map(array[1, 1], array['a', 'b'])) AS dup, "
         "try(map(array[1, NULL], array['a', 'b'])) AS nullkey, "
         "try(map(array[1, 2], array['a', 'b'])) AS ok")
    row = eng.sql(q).collect()[0]
    assert row.short is None and row.long is None
    assert row.dup is None and row.nullkey is None
    assert row.ok == {1: "a", 2: "b"}


def test_nested_calls_translate_inside_out():
    out = translate("SELECT strpos(to_hex(b), codepoint(c)) FROM t")
    assert "instr(hex(b), ascii(c))" in out


def test_at_time_zone():
    out = translate("SELECT ts AT TIME ZONE 'America/New_York' FROM t")
    assert "from_utc_timestamp(ts, 'America/New_York')" in out
    out = translate("SELECT o.ts AT TIME ZONE 'UTC' FROM t o")
    assert "from_utc_timestamp(o.ts, 'UTC')" in out
    out = translate("SELECT TIMESTAMP '2020-01-01 00:00:00' AT TIME ZONE 'Asia/Tokyo'")
    assert "from_utc_timestamp(TIMESTAMP '2020-01-01 00:00:00', 'Asia/Tokyo')" in out
    out = translate("SELECT from_unixtime(0) AT TIME ZONE 'UTC'")
    assert "from_utc_timestamp(timestamp_seconds(0), 'UTC')" in out


def test_bitwise_functions():
    out = translate("SELECT bitwise_and(a, b), bitwise_not(c) FROM t")
    assert "(a & b)" in out
    assert "(~ c)" in out or "(~c)" in out


def test_utf8_and_iso8601():
    out = translate("SELECT to_utf8(s), from_utf8(b), to_iso8601(ts) FROM t")
    assert "encode(s, 'UTF-8')" in out
    # round 10: lenient decode — invalid sequences become U+FFFD like
    # the reference (decode(…,'UTF-8') would raise)
    assert "make_valid_utf8(CAST(b AS STRING))" in out
    assert "date_format(ts, 'yyyy-MM-dd''T''HH:mm:ss.SSS')" in out


def test_hamming_distance_expansion():
    out = translate("SELECT hamming_distance(a, b) FROM t")
    assert "zip_with(split(a, ''), split(b, '')" in out
    assert "aggregate(" in out


def test_split_to_map():
    out = translate("SELECT split_to_map(s, ';', '=') FROM t")
    assert "str_to_map(s, ';', '=')" in out


# ---------------------------------------------------------------------------
# 2. end-to-end vs DuckDB oracle
# ---------------------------------------------------------------------------

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def engine(spark):
    return PrestoSparkEngine.for_dir(SF_DIR, spark=spark)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for name in ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem"):
        path = os.path.join(SF_DIR, f"{name}.parquet")
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _approx_eq(a, b):
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def assert_matches(engine, duck, presto_sql, duck_sql=None):
    got = _rows(engine.sql(presto_sql))
    want = sorted(tuple(r) for r in duck.execute(duck_sql or presto_sql).fetchall())
    assert len(got) == len(want), f"{len(got)} rows != oracle {len(want)}"
    for g, w in zip(got, want):
        assert len(g) == len(w) and all(_approx_eq(x, y) for x, y in zip(g, w)), (
            f"row mismatch: {g} != {w}")


def test_e2e_scalar_functions(engine, duck):
    assert_matches(
        engine, duck,
        "SELECT n_name, strpos(n_name, 'A') AS p, length(n_name) AS l "
        "FROM nation ORDER BY n_nationkey",
        "SELECT n_name, strpos(n_name, 'A') AS p, length(n_name) AS l "
        "FROM nation ORDER BY n_nationkey",
    )


def test_e2e_quantified_all(engine, duck):
    assert_matches(
        engine, duck,
        "SELECT o_orderkey FROM orders WHERE o_totalprice > ALL "
        "(SELECT o_totalprice * 0.999 FROM orders)",
    )


def test_e2e_quantified_empty_subquery(engine, duck):
    assert_matches(
        engine, duck,
        "SELECT n_nationkey FROM nation WHERE n_nationkey < ALL "
        "(SELECT n_nationkey FROM nation WHERE n_name = 'NO_SUCH_NATION') "
        "ORDER BY n_nationkey",
    )
    assert_matches(
        engine, duck,
        "SELECT n_nationkey FROM nation WHERE n_nationkey > ANY "
        "(SELECT n_nationkey FROM nation WHERE n_name = 'NO_SUCH_NATION')",
    )


def test_e2e_weighted_approx_percentile(engine, duck):
    # weight 1 ≡ plain exact median (Spark percentile is exact-interpolated)
    assert_matches(
        engine, duck,
        "SELECT approx_percentile(n_nationkey, 1, 0.5) AS m FROM nation",
        "SELECT quantile_cont(n_nationkey, 0.5) AS m FROM nation",
    )


def test_from_unixtime_zone_values(engine):
    row = engine.sql("SELECT from_unixtime(0, 'America/New_York') AS t").collect()[0]
    assert str(row.t) == "1969-12-31 19:00:00"
    row = engine.sql("SELECT from_unixtime(0, -5, 0) AS t").collect()[0]
    assert str(row.t) == "1969-12-31 19:00:00"


def test_e2e_unnest(engine, duck):
    assert_matches(
        engine, duck,
        "SELECT n_name, t.x AS x FROM nation CROSS JOIN "
        "UNNEST(sequence(1, 3)) AS t(x) WHERE n_nationkey < 3",
        "SELECT n_name, t.x AS x FROM nation CROSS JOIN "
        "(SELECT unnest(generate_series(1, 3)) AS x) t WHERE n_nationkey < 3",
    )


def test_e2e_date_functions(engine, duck):
    assert_matches(
        engine, duck,
        "SELECT o_orderkey, date_add('month', 2, o_orderdate) AS m2, "
        "date_diff('day', o_orderdate, DATE '1998-12-01') AS dd "
        "FROM orders WHERE o_orderkey < 100",
        "SELECT o_orderkey, o_orderdate + INTERVAL 2 MONTH AS m2, "
        "date_diff('day', o_orderdate, DATE '1998-12-01') AS dd "
        "FROM orders WHERE o_orderkey < 100",
    )


def test_e2e_tpch_q6_presto_text(engine, duck):
    # the reference's own benchmark text (presto-benchto-benchmarks/.../q06.sql
    # shape) runs unmodified through the dialect front-end
    q6 = (
        "SELECT sum(l_extendedprice * l_discount) AS revenue FROM lineitem "
        "WHERE l_shipdate >= DATE '1994-01-01' "
        "AND l_shipdate < date_add('year', 1, DATE '1994-01-01') "
        "AND l_discount BETWEEN 0.06 - 0.01 AND 0.06 + 0.01 "
        "AND l_quantity < 24"
    )
    duck_q6 = q6.replace("date_add('year', 1, DATE '1994-01-01')",
                         "DATE '1995-01-01'")
    assert_matches(engine, duck, q6, duck_q6)


def test_e2e_aggregates(engine, duck):
    assert_matches(
        engine, duck,
        "SELECT count(*) AS c, geometric_mean(o_totalprice) AS g FROM orders",
        "SELECT count(*) AS c, exp(avg(ln(o_totalprice))) AS g FROM orders",
    )


def test_e2e_show_describe_passthrough(engine):
    # Presto metadata statements (ShowTablesTask etc.) share Spark's syntax
    tables = {r[0] for r in engine.sql("SHOW TABLES").collect()}
    assert "nation" in tables and "orders" in tables
    cols = {r[0] for r in engine.sql("SHOW COLUMNS FROM nation").collect()}
    assert "n_nationkey" in cols
    desc = {r[0]: r[1] for r in engine.sql("DESCRIBE nation").collect()}
    assert "n_name" in desc


def test_e2e_ddl_statements_through_engine(engine, spark):
    # CTAS / INSERT / DROP pass through to Spark's catalog (the reference
    # short-circuits DDL to execution/*Task.java — same division of labor)
    engine.sql("DROP TABLE IF EXISTS __eng_ddl")
    engine.sql("CREATE TABLE __eng_ddl AS SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 5")
    engine.sql("INSERT INTO __eng_ddl SELECT n_nationkey, n_name FROM nation WHERE n_nationkey >= 20")
    got = engine.sql("SELECT count(*) AS c FROM __eng_ddl").collect()[0][0]
    assert got == 10
    engine.sql("DROP TABLE __eng_ddl")


def test_e2e_order_by_null_placement(engine, spark):
    spark.sql(
        "SELECT * FROM VALUES (1), (NULL), (2) AS t(v)"
    ).createOrReplaceTempView("__nulls_t")
    got = [r[0] for r in engine.sql("SELECT v FROM __nulls_t ORDER BY v").collect()]
    # Presto ASC default: NULLS LAST (QueryPlanner.java:936-954)
    assert got == [1, 2, None]


def test_cast_type_syntax():
    # Presto parametric type spellings (spi/type/TypeSignature.java) in CAST
    assert translate("SELECT CAST(x AS ARRAY(BIGINT))") == \
        "SELECT CAST(x AS ARRAY<BIGINT>)"
    # MAP→MAP casts rebuild elementwise (round 11 — the reference's
    # MapToMapCast coerces keys/values independently, which Spark's
    # map cast rejects for several pairs)
    got = translate("SELECT CAST(x AS MAP(VARCHAR, ARRAY(DOUBLE)))")
    assert "map_from_arrays(CAST(map_keys(x) AS ARRAY < STRING >), " \
        "CAST(map_values(x) AS ARRAY < ARRAY < DOUBLE > >))" in got
    assert translate("SELECT CAST(ROW(1,'a') AS ROW(x BIGINT, y VARCHAR)).x") == \
        "SELECT CAST(struct(1, 'a') AS STRUCT<x: BIGINT, y: STRING>).x"
    assert translate("SELECT CAST(NULL AS VARCHAR)") == "SELECT CAST(NULL AS STRING)"
    # generic value → JSON renders through the runtime-typed canonical
    # JSON formatter (round 10); JSON-text values stay the identity cast
    assert "presto_json_field(b)" in translate("SELECT TRY_CAST(b AS JSON)")
    assert "AS STRING" in translate("SELECT CAST(json_parse(j) AS JSON) FROM t")
    assert translate("SELECT CAST(b AS VARBINARY)") == "SELECT CAST(b AS BINARY)"
    assert translate("SELECT CAST(t AS TIMESTAMP WITH TIME ZONE)") == \
        "SELECT CAST(t AS TIMESTAMP)"
    # ROW inside a window frame is untouched
    assert "CURRENT ROW" in translate("SELECT sum(x) OVER (ORDER BY y ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t")
    # VARCHAR(n)/CHAR(n) casts truncate (and pad) like the reference
    assert translate("SELECT CAST(a AS VARCHAR(10))") == \
        "SELECT substr(CAST(a AS STRING), 1, 10)"
    assert "rpad" in translate("SELECT CAST(a AS CHAR(4))")


def test_e2e_row_cast(engine):
    row = engine.sql(
        "SELECT CAST(ROW(n_nationkey, n_name) AS ROW(k BIGINT, n VARCHAR)).n AS nm "
        "FROM nation ORDER BY n_nationkey LIMIT 1"
    ).collect()
    assert row[0]["nm"] == "NATION_0"


def test_subscript_and_array_literal():
    # Presto subscripts are 1-based (SubscriptOperator) → element_at
    assert translate("SELECT a[1], m['k'] FROM t") == \
        "SELECT element_at(a, 1), element_at(m, 'k') FROM t"
    assert translate("SELECT split(x, ',')[1] FROM t") == \
        "SELECT element_at(split(x, ','), 1) FROM t"
    assert translate("SELECT ARRAY[1,2,3][2]") == \
        "SELECT element_at(array(1, 2, 3), 2)"
    # two-array map constructor (MapConstructor) → map_from_arrays
    assert translate("SELECT map(ARRAY[1,2], ARRAY['a','b'])") == \
        "SELECT map_from_arrays(array(1, 2), array('a', 'b'))"
    # parenthesized operand after a structural keyword is not a call
    assert translate("SELECT (ARRAY['a'] || ARRAY['c'])[2]") == \
        "SELECT element_at((array('a') || array('c')), 2)"
    assert translate("SELECT a[b[1]] FROM t") == \
        "SELECT element_at(a, element_at(b, 1)) FROM t"


def test_e2e_subscripts(engine):
    got = engine.sql(
        "SELECT ARRAY[10,20,30][2] AS x, map(ARRAY[1], ARRAY['a'])[1] AS v"
    ).collect()[0]
    assert got["x"] == 20 and got["v"] == "a"


def test_double_precision_type():
    assert translate("SELECT CAST('1.5' AS DOUBLE PRECISION)") == \
        "SELECT CAST('1.5' AS DOUBLE)"


def test_exists_no_from_folds_to_boolean():
    # EXISTS over a FROM-less one-row subquery is a plain boolean
    assert translate("SELECT 1 FROM t ORDER BY EXISTS(SELECT 2)") == \
        "SELECT 1 FROM t ORDER BY TRUE NULLS LAST"
    correlated = translate(
        "SELECT * FROM orders o ORDER BY EXISTS(SELECT 1 WHERE o.orderkey = 0)"
    )
    assert "coalesce" in correlated and "EXISTS" not in correlated
    # with FROM: left for Catalyst's native EXISTS
    assert "EXISTS" in translate("SELECT 1 FROM t WHERE EXISTS(SELECT 1 FROM u)")


def test_projected_in_three_valued_rewrite():
    # SELECT-list IN-subquery becomes the count-based CASE
    out = translate("SELECT x IN (SELECT y FROM s) FROM t")
    assert "CASE WHEN" in out and "count" in out and "__pin1" in out
    # WHERE position untouched (native null-aware semi join)
    out2 = translate("SELECT x FROM t WHERE x IN (SELECT y FROM s)")
    assert "CASE WHEN" not in out2 and "IN(SELECT" in out2.replace(" ", "")
    # NOT IN wraps in three-valued NOT
    out3 = translate("SELECT x NOT IN (SELECT y FROM s) FROM t")
    assert "NOT" in out3 and "__pin" in out3
    # IN over a values list untouched (Spark handles 3VL natively)
    out4 = translate("SELECT x IN (1, 2) FROM t")
    assert "CASE WHEN" not in out4


def test_scalar_no_from_folds():
    # bare correlated scalar → its expression
    assert translate("SELECT a, (SELECT n.nationkey) FROM nation n") == \
        "SELECT a, (n.nationkey) FROM nation n"
    # WHERE-guarded count over the one-row relation → 0/1 CASE
    out = translate("SELECT (SELECT count(*) WHERE o.k = 0) FROM o")
    assert "CASE WHEN coalesce((o.k = 0), FALSE)" in out and "SELECT count" not in out
    # nested FROM-less scalars collapse fully
    assert translate("SELECT * FROM n WHERE 2 = (SELECT (SELECT 2 * n.k))") == \
        "SELECT * FROM n WHERE 2 = ((2 * n.k))"
    # relations are untouched: FROM list, WITH body, set-op operands
    assert translate("SELECT x FROM (SELECT 1) t") == "SELECT x FROM(SELECT 1) t"
    assert "AS(SELECT 1" in translate("WITH w AS (SELECT 1 AS a) SELECT a FROM w")
    assert translate("(SELECT 1) UNION ALL (SELECT 2)") == \
        "(SELECT 1) UNION ALL(SELECT 2)"
    # aggregates over a real FROM stay subqueries
    assert "SELECT max(x) FROM s" in translate("SELECT (SELECT max(x) FROM s) FROM t")


def test_join_on_subquery_hoists_to_where():
    # inner-join ON with a subquery → CROSS JOIN + WHERE conjunct
    out = translate(
        "SELECT count(*) FROM a JOIN b ON NOT 1 = "
        "(SELECT avg(i.k) FROM i WHERE a.k < b.k)"
    )
    assert "CROSS JOIN" in out and "WHERE" in out and "ON" not in out
    # existing WHERE is AND-conjoined with parens preserved
    out2 = translate(
        "SELECT * FROM a JOIN b ON EXISTS(SELECT 1 FROM i WHERE i.k = a.k) "
        "WHERE a.x = 1 OR a.y = 2"
    )
    assert "AND(a.x = 1 OR a.y = 2)" in out2.replace("  ", " ")
    # outer joins keep their ON (reference rejects subqueries there too)
    out3 = translate("SELECT * FROM a LEFT JOIN b ON a.k = b.k")
    assert "LEFT JOIN" in out3 and "ON a.k = b.k" in out3
    # ordinary equi-joins untouched
    assert "ON o.k = l.k" in translate(
        "SELECT * FROM o JOIN l ON o.k = l.k WHERE o.k < 5"
    )


def test_hoist_grouped_correlated_scalar_subquery():
    out = translate(
        "SELECT max(o.d), o.k, (SELECT avg(i.k) FROM i WHERE o.k < i.k) "
        "FROM orders o GROUP BY o.k"
    )
    assert "__csq1" in out and "o.* " in out.replace(".*,", ".* ,")
    assert "GROUP BY o.k, __csq1" in out
    # GROUP BY key position: replaced in place, not duplicated
    out2 = translate(
        "SELECT max(o.d), o.k FROM orders o "
        "GROUP BY o.k, (SELECT avg(i.k) FROM i WHERE o.k < i.k)"
    )
    assert out2.count("__csq") >= 2 and "GROUP BY o.k, __csq" in out2
    # uncorrelated scalar subqueries stay where they are
    out3 = translate("SELECT max(d), (SELECT max(x) FROM s) FROM t GROUP BY k")
    assert "__csq" not in out3


def test_using_join_qualified_wildcard_excludes_join_columns():
    out = translate("SELECT a.*, b.* FROM x a JOIN y b USING (k)")
    assert out.count("EXCEPT(k)") == 2
    # unqualified star untouched; no USING → untouched
    assert "EXCEPT" not in translate("SELECT * FROM x a JOIN y b USING (k)")
    assert "EXCEPT" not in translate("SELECT a.* FROM x a JOIN y b ON a.k = b.k")


def test_order_by_grouping_and_window_hoist():
    out = translate(
        "SELECT a, b AS t, sum(c) FROM v t(a, b, c) "
        "GROUP BY GROUPING SETS ((a), (b)) ORDER BY grouping(b) ASC"
    )
    assert "__ord1" in out and "EXCEPT(__ord1)" in out
    out2 = translate(
        "SELECT -a AS a FROM v t(a) "
        "ORDER BY first_value(a) OVER (ORDER BY a ROWS 0 PRECEDING)"
    )
    # output alias a = -a is inlined into the hoisted window expression
    assert "__ord" in out2 and "first_value((- a))" in out2
    # plain ORDER BY untouched
    assert "__ord" not in translate("SELECT k FROM t GROUP BY k ORDER BY k")


def test_contains_row_needle_compares_positionally():
    out = translate("SELECT CONTAINS(ARRAY_AGG(ROW(a, b)), ROW(1, 2)) FROM t")
    assert "exists(" in out and "__e = struct(1, 2)" in out
    assert "array_contains" in translate("SELECT contains(ARRAY[1,2], 2)")


def test_cast_array_agg_row_as_json():
    out = translate("SELECT JSON_FORMAT(CAST(ARRAY_AGG(ROW(a, b)) AS JSON)) FROM t")
    assert "concat_ws" in out and "collect_list" in out and "CAST" not in out


def test_collapse_trivial_derived_wrapper():
    # subrelation wrapper around a FROM-less select peels away
    out = translate("SELECT x FROM t WHERE 1 < (SELECT * FROM (SELECT (SELECT avg(k) FROM s WHERE s.k < t.k)))")
    assert "SELECT *" not in out
    # real derived tables keep their wrapper
    out2 = translate("SELECT count(*) FROM (SELECT * FROM (SELECT k FROM o) t1) t2")
    assert "SELECT * FROM(SELECT k FROM o)" in out2
    # trailing clauses block the rewrite
    out3 = translate("SELECT * FROM (SELECT 1 AS a) w WHERE a = 1")
    assert "FROM(SELECT 1" in out3


def test_grouping_sets_empty_global_split():
    # explicit () sets become global-aggregation union arms
    out = translate(
        "SELECT k, sum(v) FROM t GROUP BY GROUPING SETS ((k), ())"
    )
    assert "UNION ALL" in out and "NULL" in out
    assert out.count("GROUPING SETS") == 1  # the (k) set stays
    # pure global sets: no GROUPING SETS remains, one arm per ()
    out2 = translate("SELECT sum(v) FROM t GROUP BY GROUPING SETS ((), ())")
    assert "GROUPING SETS" not in out2 and out2.count("UNION ALL") == 1
    # grouping() users keep the single-scan path
    assert "UNION ALL" not in translate(
        "SELECT k, grouping(k) FROM t GROUP BY GROUPING SETS ((k), ())"
    )
    # mixed key+aggregate item aborts the split
    assert "UNION ALL" not in translate(
        "SELECT k + sum(v) FROM t GROUP BY GROUPING SETS ((k), ())"
    )


def test_cube_rollup_empty_global_arm():
    # round 5: CUBE/ROLLUP gain the probe-gated compensating arm —
    # its aggregation input is WHERE FALSE (folds to an empty local
    # relation, no scan) and the gate is a LIMIT-1 emptiness probe
    out = translate(
        "SELECT k, sum(v) FROM t WHERE v < 0 GROUP BY CUBE (k)"
    )
    assert "UNION ALL" in out
    assert "WHERE(v < 0) AND FALSE" in out
    assert "LIMIT 1" in out and "HAVING" in out
    assert out.count("CUBE") == 1  # the main arm keeps the single scan
    out2 = translate("SELECT a, b, count(*) FROM t GROUP BY ROLLUP (a, b)")
    assert "UNION ALL SELECT NULL, NULL, count(*)" in out2
    assert "WHERE FALSE" in out2
    # mixed GROUP BY has no implicit global set — untouched
    assert "UNION ALL" not in translate(
        "SELECT k, j, sum(v) FROM t GROUP BY k, ROLLUP (j)"
    )
    # HAVING / DISTINCT / grouping() keep the single-scan path
    assert "UNION ALL" not in translate(
        "SELECT k, sum(v) FROM t GROUP BY CUBE (k) HAVING sum(v) > 0"
    )
    assert "UNION ALL" not in translate(
        "SELECT k, grouping(k) FROM t GROUP BY CUBE (k)"
    )
    # ORDER BY rides on the whole union
    out3 = translate("SELECT k, sum(v) FROM t GROUP BY ROLLUP (k) ORDER BY k")
    assert out3.rstrip().endswith("ORDER BY k NULLS LAST")
    assert "UNION ALL" in out3


def test_empty_global_arm_evaluates_key_expressions():
    # ADVICE r5: composite expressions over grouping keys must be
    # EVALUATED at NULL keys in the compensating arm, not nulled whole
    out = translate(
        "SELECT coalesce(k, 'x') AS a, count(*) AS n "
        "FROM t GROUP BY CUBE (k)"
    )
    assert "coalesce(NULL, 'x')" in out.partition("UNION ALL")[2]
    out2 = translate(
        "SELECT coalesce(k, 'x') AS a, sum(v) AS s "
        "FROM t GROUP BY GROUPING SETS ((k), ())"
    )
    assert "coalesce(NULL, 'x')" in out2.partition("UNION ALL")[2]
    # constants stay themselves (previously nulled — wrong on every input)
    out3 = translate(
        "SELECT 'tag' AS t0, k, count(*) AS n FROM t GROUP BY CUBE (k)"
    )
    arm3 = out3.partition("UNION ALL")[2]
    assert "'tag'" in arm3 and "NULL" in arm3
    # qualified references collapse to one NULL
    out4 = translate(
        "SELECT o.k, count(*) AS n FROM orders o GROUP BY CUBE (o.k)"
    )
    assert "UNION ALL SELECT NULL" in out4
    # struct access on a key is ambiguous — rewrite aborts
    assert "UNION ALL" not in translate(
        "SELECT k.f, count(*) AS n FROM t GROUP BY CUBE (k)"
    )


def test_cube_empty_arm_plan_shape(engine):
    """The compensating arm must cost nothing at scale: its aggregation
    input is an empty LocalRelation (zero scans) and the emptiness gate
    is a LIMIT-1 subquery — the plan may contain exactly ONE full scan
    of the source (the CUBE Expand's own)."""
    import contextlib
    import io

    df = engine.sql(
        "SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem "
        "WHERE l_quantity < 0 GROUP BY CUBE (l_returnflag)"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    import re as _re

    main, _, subqueries = plan.partition("Subqueries")
    # the main body has exactly ONE lineitem scan node (the CUBE
    # Expand's — the detail section repeats the header, so count node
    # ids); the arm's WHERE FALSE folded to a LocalTableScan, not a scan
    assert len(set(_re.findall(r"\((\d+)\) Scan parquet", main))) == 1, main
    assert "LocalTableScan" in main
    # the emptiness gate lives in a subquery and is a LIMIT-1 probe
    # over the pushdown-filtered scan — early-exit, never a full
    # aggregation re-scan
    assert "LocalLimit" in subqueries and "PushedFilters" in subqueries
    # semantics: empty input yields exactly the global row
    rows = df.collect()
    assert [(r[0], r[1]) for r in rows] == [(None, None)]


def test_using_wildcard_scoped_to_join_operands():
    # EXCEPT(join cols) applies only to the USING join's own aliases —
    # a comma-joined third relation keeps all its columns (round-3 fix)
    out = translate("SELECT a.*, c.* FROM x a JOIN y b USING (k), z c")
    assert "a.* EXCEPT(k)" in out
    assert "c.* EXCEPT" not in out
    out2 = translate("SELECT a.*, b.* FROM x a JOIN y b USING (k)")
    assert out2.count("EXCEPT(k)") == 2


def test_join_on_subquery_hoist_skips_right_nested_trees():
    # a second ON after the condition means the join is the right
    # operand of an enclosing (possibly outer) join — no rewrite
    q = ("SELECT * FROM a LEFT JOIN b JOIN c ON c.x = (SELECT max(v) FROM m)"
         " ON a.id = b.id")
    assert "CROSS JOIN" not in translate(q)
    # the plain inner-join hoist still fires
    q2 = "SELECT * FROM a JOIN b ON b.x = (SELECT max(v) FROM m)"
    out2 = translate(q2)
    assert "CROSS JOIN" in out2 and "WHERE" in out2


def test_order_by_grouping_hoists_source_columns():
    # a plain ORDER BY item referencing a column outside the SELECT list
    # must be hoisted into the wrapper, or it cannot resolve (round 3)
    out = translate(
        "SELECT count(*) FROM t GROUP BY GROUPING SETS ((a),(b)) "
        "ORDER BY grouping(a), a"
    )
    assert "(a) AS __ord" in out
    # output aliases keep resolving against the outer SELECT
    out2 = translate(
        "SELECT count(*) AS c FROM t GROUP BY GROUPING SETS ((a),(b)) "
        "ORDER BY grouping(a), c"
    )
    assert "(c) AS __ord" not in out2 and "ORDER BY __ord1 NULLS LAST, c" in out2


def test_real_decimal_comparison_coerces_to_real():
    out = translate("SELECT CAST(1.2 AS real) = CAST(1.2 AS decimal(2,1))")
    assert out.count("AS FLOAT") == 2  # decimal side wrapped
    out2 = translate("SELECT 1.2 = CAST(1.2 AS real)")
    assert "CAST(1.2 AS FLOAT) = CAST(1.2 AS FLOAT)" in out2
    # non-comparison contexts untouched
    assert "1.5" in translate("SELECT CAST(x AS real) + 1.5 FROM t") \
        and translate("SELECT CAST(x AS real) + 1.5 FROM t").count("FLOAT") == 1


def test_values_with_lambda_becomes_union_arms():
    out = translate(
        "SELECT x[5] FROM (VALUES transform(sequence(1, 5), x -> x * x)) t(x)"
    )
    assert "VALUES" not in out and "AS x" in out
    # plain inline tables keep the VALUES fast path
    assert "VALUES" in translate("SELECT * FROM (VALUES (1, 2), (3, 4)) t(a, b)")


def test_map_in_comparison_uses_entry_arrays():
    out = translate(
        "SELECT MAP(ARRAY[1], ARRAY[x]) IN (VALUES MAP(ARRAY[1], ARRAY[2]))"
    )
    # both sides wrapped (the projected-IN pass then builds its 3-valued
    # CASE around the rewritten, comparable arrays)
    assert out.count("sort_array(map_entries(") >= 2 and "MAP(" not in out
    out2 = translate(
        "SELECT MAP(ARRAY[1], ARRAY[2]) NOT IN (MAP(ARRAY[1], ARRAY[3]))"
    )
    assert "NOT IN" in out2 and out2.count("sort_array(map_entries(") == 2


def test_try_abs_guards_bigint_overflow():
    out = translate("SELECT TRY(ABS(x)) FROM t")
    assert "typeof" in out and "-9223372036854775808" in out
    # try over arithmetic still maps to try_* twins, not the guard
    assert "try_add" in translate("SELECT TRY(x + y) FROM t")


def test_tz_literals_observe_their_zone():
    # field extraction reads the LOCAL datetime of the zoned literal
    out = translate("SELECT hour(TIMESTAMP '2020-01-01 12:00:00 +05:00')")
    assert "'2020-01-01 12:00:00.000'" in out and "+05:00" not in out
    # rendering preserves the zone, resolved at translation time
    out = translate("SELECT CAST(TIMESTAMP '2020-01-01 12:00:00 +05:00' AS VARCHAR)")
    assert "'2020-01-01 12:00:00.000 +05:00'" in out
    # timezone_hour/minute fold to constants (Java truncation on negatives)
    assert "5" in translate("SELECT timezone_hour(TIMESTAMP '2020-01-01 00:00:00 +05:30')")
    out = translate("SELECT timezone_minute(TIMESTAMP '2020-01-01 00:00:00 -05:30')")
    assert "-30" in out
    # any other context gets the UTC instant
    out = translate("SELECT TIMESTAMP '2020-01-01 12:00:00 +05:00'")
    assert "'2020-01-01 07:00:00.000'" in out
    # named zones resolve through tzdata (DST-aware)
    out = translate("SELECT TIMESTAMP '2020-07-01 12:00:00 America/Los_Angeles'")
    assert "'2020-07-01 19:00:00.000'" in out
    # time with time zone now parses; plain literals untouched
    assert "'05:00:00.000'" in translate("SELECT TIME '10:00:00 +05:00'")
    assert "'2020-01-01 12:00:00'" in translate("SELECT TIMESTAMP '2020-01-01 12:00:00'")


def test_hll_sql_surface():
    # approx_set / merge / cardinality / empty_approx_set ride Spark's
    # HLL family on the SQL path (HyperLogLogFunctions.java surface)
    out = translate("SELECT cardinality(approx_set(x)) FROM t")
    assert "hll_sketch_estimate(hll_sketch_agg(x))" in out
    out = translate("SELECT cardinality(merge(h)) FROM s")
    assert "hll_sketch_estimate(hll_union_agg(h))" in out
    # arrays/maps keep plain cardinality
    out = translate("SELECT cardinality(ARRAY[1,2]) , cardinality(split(s, ','))")
    assert "hll_sketch_estimate" not in out
    assert "empty_approx_set" not in translate("SELECT empty_approx_set()")


def test_sketch_sql_surface():
    # SetDigest aggregates expand to the bottom-k expression trees
    out = translate("SELECT cardinality(make_set_digest(x)) FROM t")
    assert "cardinality_setdigest" in out and "xxhash64(x)" in out
    out = translate("SELECT cardinality(merge_set_digest(d)) FROM t")
    assert "cardinality_setdigest" in out and "flatten(collect_list(d))" in out
    # qdigest aggregates expand over the qdigest_bucket SQL UDF
    out = translate("SELECT value_at_quantile(qdigest_agg(x), 0.5) FROM t")
    assert "qdigest_bucket" in out and "map_from_arrays" in out
    out = translate("SELECT values_at_quantiles(merge_qdigest(q), ARRAY[0.5]) FROM t")
    assert "map_entries" in out
    # plain cardinality over arrays untouched, even slice-shaped ones
    out = translate("SELECT cardinality(slice(array_distinct(a), 1, 5)) FROM t")
    assert "cardinality_setdigest" not in out


def test_order_by_source_scope_through_grouping_sets(engine):
    """ORDER BY -a with a renamed output (SELECT a AS foo) resolves
    against the SOURCE scope in Presto; Spark resolves it through a
    plain Aggregate but not through the Expand GROUPING SETS/ROLLUP/
    CUBE plan to (AbstractTestQueries
    testOrderByWithOutputColumnReference#27) — the order-by-grouping
    wrap hoists it as a hidden sort column."""
    rows = [tuple(r) for r in engine.sql(
        "SELECT a AS foo FROM (values (1,2),(3,2)) t(a,b) "
        "GROUP BY GROUPING SETS ((a), (a, b)) HAVING b IS NOT NULL "
        "ORDER BY -a").collect()]
    assert rows == [(3,), (1,)]
    rows = [tuple(r) for r in engine.sql(
        "SELECT a AS foo FROM (values (1,2),(3,2)) t(a,b) "
        "GROUP BY ROLLUP(a) ORDER BY -a").collect()]
    assert rows == [(3,), (1,), (None,)]
    # items that resolve against the output keep the plain spelling
    out = translate("SELECT a AS foo FROM t GROUP BY ROLLUP(a) "
                    "ORDER BY foo DESC")
    assert "__obg" not in out
