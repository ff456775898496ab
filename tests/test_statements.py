"""Statement classification and reference scanning (statements.py), and
the engine's handler and resolver tables.

The classifier reads only a statement's head and the reference scan
only tokens, so these tests need no Spark session — except the engine
tests at the end, which check dispatch and reference resolution end to
end.
"""

from __future__ import annotations

import time

import pytest

from facebook_presto_spark import access, connectors, engine, hive_catalog, infoschema
from facebook_presto_spark.sqlfront import translate
from facebook_presto_spark.statements import (
    REFERENCE_CATALOGS,
    classify,
    references,
    split_with_data,
)

# one row per kind in engine._HANDLERS: (sql, kind, catalog, schema,
# table, body)
KINDS = [
    ("SET SESSION hash_partition_count = 9", "set_session", None, None,
     "hash_partition_count", "9"),
    ("RESET SESSION hash_partition_count", "reset_session", None, None,
     "hash_partition_count", None),
    ("USE hive.sales", "use", "hive", "sales", None, None),
    ("SET PATH spark.default, extra", "set_path", None, None, None,
     "spark.default, extra"),
    ("START TRANSACTION READ ONLY", "start_transaction", None, None, None,
     "READ ONLY"),
    ("COMMIT WORK", "commit", None, None, None, None),
    ("ROLLBACK", "rollback", None, None, None, None),
    ("PREPARE q FROM SELECT ? + 1;", "prepare", None, None, "q",
     "SELECT ? + 1"),
    ("EXECUTE q USING 1, 'a'", "execute", None, None, "q", "1, 'a'"),
    ("DEALLOCATE PREPARE q", "deallocate", None, None, "q", None),
    ("DESCRIBE INPUT q", "describe_input", None, None, "q", None),
    ("DESCRIBE OUTPUT q", "describe_output", None, None, "q", None),
    ("GRANT SELECT ON nation TO alice", "grant", None, None, None,
     "SELECT ON nation TO alice"),
    ("REVOKE SELECT ON nation FROM alice", "revoke", None, None, None,
     "SELECT ON nation FROM alice"),
    ("SHOW GRANTS ON TABLE nation", "show_grants", None, None, "nation",
     None),
    ("CALL system.runtime.kill_query('q1')", "call", "system", "runtime",
     "kill_query", "('q1')"),
    ("EXPLAIN ANALYZE SELECT 1", "explain_analyze", None, None, None,
     "SELECT 1"),
    ("EXPLAIN (TYPE VALIDATE) SELECT 1", "explain_options", None, None,
     None, "SELECT 1"),
    ("SHOW SESSION", "show_session", None, None, None, None),
    ("SHOW FUNCTIONS", "show_functions", None, None, None, None),
    ("SHOW CATALOGS LIKE 'mem%'", "show_catalogs", None, None, None,
     "LIKE 'mem%'"),
    ("SHOW CREATE TABLE hive.sales.t", "show_create_table", "hive",
     "sales", "t", None),
    ("SHOW CREATE VIEW v", "show_create_view", None, None, "v", None),
    ("CREATE OR REPLACE VIEW v AS SELECT 1 AS x", "create_view", None,
     None, "v", "SELECT 1 AS x"),
    ("DROP VIEW IF EXISTS v", "drop_view", None, None, "v", None),
    ("SHOW STATS FOR (SELECT * FROM nation)", "show_stats", None, None,
     None, "SELECT * FROM nation"),
    ("SHOW SCHEMAS FROM tpch", "show_schemas", "tpch", None, None, None),
    ("SHOW TABLES IN jmx.current", "show_tables", "jmx", "current", None,
     None),
    ("CREATE SCHEMA IF NOT EXISTS hive.sales", "create_schema", "hive",
     "sales", None, None),
    ("DROP SCHEMA memory.sales", "drop_schema", "memory", "sales", None,
     None),
    ("ALTER SCHEMA memory.a RENAME TO memory.b", "rename_schema", "memory",
     "a", None, None),
    ('CREATE TABLE blackhole.s."T" (k bigint, d decimal(10, 2)) '
     "WITH (split_count = 2)", "create_table", "blackhole", "s", "t", None),
    ("CREATE TABLE hive.s.t WITH (format = 'ORC') AS SELECT 1 AS a "
     "WITH NO DATA", "create_table_as", "hive", "s", "t",
     "SELECT 1 AS a WITH NO DATA"),
    ("INSERT INTO memory.s.t (a, b) VALUES (1, 2)", "insert", "memory", "s",
     "t", "VALUES (1, 2)"),
    ("DELETE FROM hive.s.t WHERE d = DATE '2020-01-01'", "delete", "hive",
     "s", "t", "d = DATE '2020-01-01'"),
    ("DROP TABLE IF EXISTS blackhole.s.t", "drop_table", "blackhole", "s",
     "t", None),
    ("ALTER TABLE memory.s.t RENAME TO memory.s.u", "rename_table",
     "memory", "s", "t", None),
    ("ALTER TABLE hive.s.t ADD COLUMN c varchar(3)", "add_column", "hive",
     "s", "t", "varchar(3)"),
    ("ALTER TABLE t RENAME COLUMN a TO b", "rename_column", None, None, "t",
     None),
    ("ALTER TABLE tpch.s.t DROP COLUMN a", "drop_column", "tpch", "s", "t",
     None),
]


@pytest.mark.parametrize(
    "sql,kind,catalog,schema,table,body", KINDS, ids=[r[1] for r in KINDS])
def test_classify_kind_and_target(sql, kind, catalog, schema, table, body):
    stmt = classify(sql)
    assert (stmt.kind, stmt.catalog, stmt.schema, stmt.table, stmt.body) == (
        kind, catalog, schema, table, body)
    # lowercase input and a leading comment classify the same
    for variant in (sql.lower(), "-- tag\n" + sql, "/* c */ " + sql):
        again = classify(variant)
        assert (again.kind, again.catalog, again.schema, again.table) == (
            kind, catalog, schema, table), variant


def test_every_handled_kind_has_a_row():
    assert {r[1] for r in KINDS} == set(engine._HANDLERS)


def test_statement_parts():
    stmt = classify("CREATE TABLE IF NOT EXISTS memory.s.t "
                    "(k bigint, d decimal(10, 2)) WITH (a = 1);")
    assert stmt.flags == {"if_not_exists"}
    assert stmt.columns == "k bigint, d decimal(10, 2)"
    assert stmt.props == "a = 1"
    stmt = classify("INSERT INTO hive.s.t (a, \"B\") SELECT 1, 2")
    assert (stmt.columns, stmt.body) == ('a, "B"', "SELECT 1, 2")
    # a parenthesized query is the body, not a column list
    assert classify("INSERT INTO hive.s.t (SELECT 1)").body == "(SELECT 1)"
    assert classify("ALTER TABLE hive.s.t RENAME TO s.u").args == ("s", "u")
    assert split_with_data("SELECT 1 WITH NO DATA") == ("SELECT 1", True)
    assert split_with_data("SELECT 1") == ("SELECT 1", False)


E = engine.PrestoSparkEngine


@pytest.mark.parametrize("sql,handler", [
    ("CREATE TABLE hive.s.t AS SELECT 1", hive_catalog.create_table_as),
    ("CREATE TABLE memory.s.t AS SELECT 1", connectors.create_table_as),
    ("CREATE TABLE blackhole.s.t AS SELECT 1", connectors.create_table_as),
    ("SHOW TABLES FROM hive.s", E._show_tables),
    ("SHOW TABLES FROM example", E._show_tables),
    ("SHOW TABLES FROM tpch.tiny", connectors.show_tables),
    ("SHOW TABLES", infoschema.show_session_tables),
    ("SHOW SCHEMAS FROM tpch", E._show_schemas),
    ("ALTER TABLE hive.s.t RENAME TO hive.s.u", E._rename_table),
    ("ALTER TABLE blackhole.s.t RENAME TO u", E._alter_table),
    ("SHOW GRANTS", access.show_grants),
])
def test_catalog_routing(sql, handler):
    assert engine.handler_for(classify(sql)) is handler


@pytest.mark.parametrize("sql,kind", [
    ("SELECT 'DROP TABLE hive.a.b'", "query"),  # keyword inside a literal
    ("WITH x AS (SELECT 1) SELECT * FROM x", "query"),
    ("(SELECT 1)", "query"),
    ("CREATE TABLE t AS SELECT 1", "create_table_as"),  # session catalog
    ("DROP TABLE tpch.tiny.nation", "drop_table"),
    ("DESCRIBE nation", "other"),
    ("UPDATE t SET x = 1", "other"),
    ("SHOW SESSION LIKE 'x'", "other"),  # not the whole head
])
def test_unclaimed_statements_take_the_translate_path(sql, kind):
    stmt = classify(sql)
    assert stmt.kind == kind
    assert engine.handler_for(stmt) is None


def test_classify_reads_only_the_head():
    """Classifying does not tokenize the body: a 2,500-row VALUES list
    costs what SELECT 1 does."""
    values = ", ".join(f"({i}, 'r{i}')" for i in range(2500))
    long_sql = f"SELECT * FROM (VALUES {values}) AS t(i, s)"

    def cost(sql: str) -> float:
        best = float("inf")
        for _ in range(5):
            t0 = time.perf_counter()
            for _ in range(200):
                classify(sql)
            best = min(best, time.perf_counter() - t0)
        return best

    assert cost(long_sql) < 3 * cost("SELECT 1") + 0.005


LEADING_COMMENTS = [
    ("-- tag\n", "SET SESSION hash_partition_count = 9", None),
    ("/* c */ ", "SHOW SESSION", None),
    ("-- tag\n", "START TRANSACTION", "COMMIT"),
    ("/* c */ ", "PREPARE p1 FROM SELECT 1", "DEALLOCATE PREPARE p1"),
    ("-- tag\n", "CREATE SCHEMA IF NOT EXISTS hive.x", "DROP SCHEMA hive.x"),
]


@pytest.mark.parametrize("comment,sql,undo", LEADING_COMMENTS,
                         ids=[r[1].split(" ")[0] for r in LEADING_COMMENTS])
def test_leading_comment_dispatches_like_bare_statement(
        spark, sf_dir, comment, sql, undo):
    """The reference's grammar skips comments: a statement that starts
    with one runs exactly like the same statement without it."""
    from facebook_presto_spark.properties import restore_confs, snapshot_confs

    eng = engine.PrestoSparkEngine.for_dir(sf_dir, spark=spark)
    snap = snapshot_confs(spark, ["hash_partition_count"])
    results = []
    try:
        for text in (comment + sql, sql):
            df = eng.sql(text)
            results.append((df.schema, df.collect()))
            if undo:
                eng.sql(undo)
    finally:
        restore_confs(spark, snap)
    assert results[0] == results[1]


# one row per resolver-table catalog plus the edge cases: (sql, the
# references as (catalog, parts, text of the span))
REFERENCES = [
    ("SELECT * FROM hive.sales.orders o",
     [("hive", ("hive", "sales", "orders"), "hive.sales.orders")]),
    ('SELECT * FROM hive.s."t$partitions"',
     [("hive", ("hive", "s", "t$partitions"), 'hive.s."t$partitions"')]),
    ('SELECT * FROM "Memory"."default"."MT"',
     [("memory", ("memory", "default", "mt"), '"Memory"."default"."MT"')]),
    ("SELECT * FROM blackhole . s . t",
     [("blackhole", ("blackhole", "s", "t"), "blackhole . s . t")]),
    ("SELECT * FROM localfile.logs.http_request_log",
     [("localfile", ("localfile", "logs", "http_request_log"),
       "localfile.logs.http_request_log")]),
    ("SELECT * FROM example.ex.numbers",
     [("example", ("example", "ex", "numbers"), "example.ex.numbers")]),
    ("SELECT * FROM tpch.tiny.nation",
     [("tpch", ("tpch", "tiny", "nation"), "tpch.tiny.nation")]),
    ('SELECT * FROM jmx.current."java.lang:type=Memory"',
     [("jmx", ("jmx", "current", "java.lang:type=memory"),
       'jmx.current."java.lang:type=Memory"')]),
    ("SELECT * FROM jmx.history.java.lang j",
     [("jmx", ("jmx", "history", "java", "lang"), "jmx.history.java.lang")]),
    ("SELECT * FROM system.runtime.queries",
     [("system", ("system", "runtime", "queries"), "system.runtime.queries")]),
    ('SELECT * FROM information_schema."columns"',
     [("information_schema", ("information_schema", "columns"),
       'information_schema."columns"')]),
    ("SELECT * FROM x.information_schema.tables",
     [("information_schema", ("x", "information_schema", "tables"),
       "x.information_schema.tables")]),
    ("SELECT current_path",
     [("current_path", ("current_path",), "current_path")]),
    ("SELECT current_path ( ) AS p",
     [("current_path", ("current_path",), "current_path ( )")]),
    # a column qualified by its table keeps its tail outside the span
    ("SELECT memory.s.t.c FROM memory.s.t",
     [("memory", ("memory", "s", "t"), "memory.s.t")] * 2),
    ('SELECT t.current_path, "current_path" FROM t', []),
    ("SELECT 'system.runtime.queries' AS s", []),
    ("SELECT 1 -- copied from memory.s.t", []),
    ("SELECT 1 /* was hive.s.t */", []),
    ("SELECT * FROM system.other.t, jmx.other.t, memory.t", []),
]


@pytest.mark.parametrize("sql,expected", REFERENCES)
def test_references(sql, expected):
    found = [(r.catalog, r.parts, sql[r.span[0]:r.span[1]])
             for r in references(sql)]
    assert found == expected


def test_unreadable_text_raises_the_translator_error():
    sql = "SELECT `x` FROM memory.s.t"
    with pytest.raises(ValueError) as scanned:
        references(sql)
    with pytest.raises(ValueError) as translated:
        translate(sql)
    assert str(scanned.value) == str(translated.value)


def test_every_reference_catalog_has_a_resolver():
    assert set(engine._RESOLVERS) == REFERENCE_CATALOGS


@pytest.fixture(scope="module")
def mt_engine(spark, sf_dir):
    """An engine with ``memory.default.mt`` (the 25 nations)."""
    eng = engine.PrestoSparkEngine.for_dir(sf_dir, spark=spark)
    eng.sql("CREATE TABLE memory.default.mt AS "
            "SELECT n_nationkey, n_name FROM nation")
    eng.sql("PREPARE mt_q FROM SELECT n_name FROM memory.default.mt "
            "WHERE n_nationkey = ?")
    yield eng
    eng.sql("DEALLOCATE PREPARE mt_q")
    eng.sql("DROP TABLE memory.default.mt")


def _plan_text(rows) -> str:
    text = "\n".join(str(r[0]) for r in rows)
    assert "NOT_FOUND" not in text
    return text


# statements whose handler turns Presto text into Spark SQL itself: each
# resolves catalog references like a query does
ONE_PATH = [
    ("EXPLAIN (TYPE DISTRIBUTED) SELECT n_name FROM memory.default.mt",
     lambda rows: "n_name" in _plan_text(rows)),
    ("EXPLAIN (TYPE DISTRIBUTED) SELECT query_id FROM system.runtime.queries",
     lambda rows: "query_id" in _plan_text(rows)),
    ("EXPLAIN (TYPE IO) SELECT n_name FROM memory.default.mt",
     lambda rows: '"outputTable": null' in _plan_text(rows)),
    ("DESCRIBE OUTPUT mt_q",
     lambda rows: [tuple(r) for r in rows] == [("n_name", "string")]),
]


@pytest.mark.parametrize("sql,check", ONE_PATH,
                         ids=["explain_distributed", "explain_system",
                              "explain_io", "describe_output"])
def test_handlers_resolve_references(mt_engine, sql, check):
    assert check(mt_engine.sql(sql).collect())


# (sql, columns, rows): literals, comments and quoting as Presto reads them
REFERENCE_EDGES = [
    ("SELECT 'system.runtime.queries' AS s", ["s"],
     [("system.runtime.queries",)]),
    ("SELECT count(*) AS n FROM nation -- copied from memory.s.t", ["n"],
     [(25,)]),
    ("SELECT count(*) AS n FROM nation /* was hive.s.t */", ["n"], [(25,)]),
    ('SELECT 1 AS "current_path"', ["current_path"], [(1,)]),
    ("SELECT count(*) AS n FROM memory . default . mt", ["n"], [(25,)]),
    ('SELECT count(*) AS n FROM "memory"."default"."mt"', ["n"], [(25,)]),
]


@pytest.mark.parametrize("sql,columns,rows", REFERENCE_EDGES,
                         ids=["literal", "line_comment", "block_comment",
                              "quoted_alias", "spaced_name", "quoted_name"])
def test_reference_edge_cases(mt_engine, sql, columns, rows):
    df = mt_engine.sql(sql)
    assert (df.columns, [tuple(r) for r in df.collect()]) == (columns, rows)
