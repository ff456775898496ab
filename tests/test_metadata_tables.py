"""information_schema and system.* served as local relations.

The members are built from live metadata as local relations and
registered as global temp views (infoschema.py, systemtables.py), the
way the reference fills its metadata tables' pages straight from
connector metadata (InformationSchemaPageSourceProvider, the
connector/system SystemTables) — no row passes through SQL text, and no
database is created to hold them.
"""

import pytest

from facebook_presto_spark.engine import PrestoSparkEngine

_MEMBERS = ["columns", "schemata", "table_privileges", "tables", "views"]


@pytest.fixture(scope="module")
def eng(spark, sf_dir):
    return PrestoSparkEngine.for_dir(sf_dir, spark=spark)


def _queries(eng) -> list[str]:
    return [r.query for r in eng.sql("SELECT query FROM system.runtime.queries").collect()]


def _show_tables_lists_members(eng, spark):
    # before any statement has referenced an information_schema member
    df = eng.sql("SHOW TABLES FROM information_schema")
    assert df.columns == ["Table"]
    assert [r.Table for r in df.collect()] == _MEMBERS


def _backslash_round_trip(eng, spark):
    # Presto string literals have no backslash escapes
    sql = r"SELECT regexp_like('a1', '\d') AS x"
    assert eng.sql(sql).collect()[0].x is True
    assert sql in _queries(eng)


def _read_after_trailing_backslash(eng, spark):
    sql = "SELECT 'C:\\' AS p"
    assert eng.sql(sql).collect()[0].p == "C:\\"
    assert sql in _queries(eng)


def _view_definition_ending_in_backslash(eng, spark):
    eng.sql("CREATE VIEW v_trailing_backslash AS SELECT 'C:\\' AS p")
    try:
        rows = eng.sql(
            "SELECT view_definition FROM information_schema.views "
            "WHERE table_name = 'v_trailing_backslash'"
        ).collect()
    finally:
        eng.sql("DROP VIEW v_trailing_backslash")
    assert [r.view_definition for r in rows] == ["SELECT 'C:\\' AS p"]


def _stable_schemata(eng, spark):
    sql = "SELECT schema_name FROM information_schema.schemata WHERE catalog_name = 'spark'"
    first = [r.schema_name for r in eng.sql(sql).collect()]
    second = [r.schema_name for r in eng.sql(sql).collect()]
    assert first == second
    assert {"default", "information_schema"} <= set(first)
    # information_schema is listed without a database of that name
    assert not spark.catalog.databaseExists("information_schema")


def _no_side_schemas_in_listings(eng, spark):
    for sql in ("SELECT * FROM system.jdbc.catalogs",
                "SELECT * FROM system.runtime.nodes",
                "SELECT * FROM system.metadata.catalogs",
                "SELECT * FROM information_schema.schemata"):
        eng.sql(sql).collect()
    schemas = {r[0] for r in eng.sql("SHOW SCHEMAS").collect()}
    listed = {r.table_schema for r in eng.sql(
        "SELECT DISTINCT table_schema FROM information_schema.tables").collect()}
    jdbc = {r.table_schem for r in eng.sql(
        "SELECT table_schem FROM system.jdbc.schemas").collect()}
    for names in (schemas, listed, jdbc):
        assert not {n for n in names if n.startswith("system_")}
    # information_schema is a schema SHOW SCHEMAS lists, as schemata and
    # Presto's SHOW SCHEMAS do; it is no table schema or JDBC schema
    assert "information_schema" not in listed | jdbc


def _show_schemas_agrees_with_schemata(eng, spark):
    eng.sql("CREATE SCHEMA IF NOT EXISTS hive.listed")
    try:
        shown = [r[0] for r in eng.sql("SHOW SCHEMAS").collect()]
        schemata = [r.schema_name for r in eng.sql(
            "SELECT schema_name FROM information_schema.schemata "
            "WHERE catalog_name = 'spark' ORDER BY schema_name").collect()]
    finally:
        eng.sql("DROP SCHEMA hive.listed")
    assert shown == schemata
    assert "information_schema" in shown and "hive_listed" not in shown


@pytest.mark.parametrize("case", [
    _show_tables_lists_members,
    _backslash_round_trip,
    _read_after_trailing_backslash,
    _view_definition_ending_in_backslash,
    _stable_schemata,
    _no_side_schemas_in_listings,
    _show_schemas_agrees_with_schemata,
], ids=lambda case: case.__name__.strip("_"))
def test_metadata_tables_are_local_relations(eng, spark, case):
    case(eng, spark)


def test_system_reference_builds_only_named_tables(eng, spark):
    """A ``system.<schema>.<table>`` reference builds that table only,
    not every member of its schema (as information_schema does)."""
    def registered():
        return {t.name for t in spark.catalog.listTables("global_temp")
                if t.name.startswith("system_")}

    for name in registered():
        spark.catalog.dropGlobalTempView(name)
    eng.sql("SELECT * FROM system.runtime.nodes").collect()
    assert registered() == {"system_runtime_nodes"}
    eng.sql("SELECT * FROM system.jdbc.catalogs").collect()
    assert registered() == {"system_runtime_nodes", "system_jdbc_catalogs"}
    eng.sql("SELECT * FROM system.metadata.catalogs").collect()
    assert registered() == {"system_runtime_nodes", "system_jdbc_catalogs",
                            "system_metadata_catalogs"}
