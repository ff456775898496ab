"""information_schema — the reference's metadata connector.

Presto exposes a synthetic ``information_schema`` schema in every catalog
(presto-main/.../connector/informationSchema/InformationSchemaMetadata.java:72-118):
``columns``, ``tables``, ``views``, ``schemata``, ``table_privileges``,
populated from connector metadata at query time
(InformationSchemaPageSourceProvider.java).

Spark twin: immediately before a query that references them runs, the
members the statement names are built as local relations from the
session catalog (``session.local_dataframe``) and registered as the
global temp views ``global_temp.information_schema_<member>``, which
the references resolve to.  The rows never pass through SQL text, and a
query over them plans as a ``LocalTableScanExec``.  This keeps the
semantics (always-current metadata, filterable with ordinary predicates)
while staying metadata-only: the listing goes through ``catalog.list_*``,
which launches no Spark job and scans no table data, so the cost is
independent of data volume (the same property the reference gets from
serving these tables out of the metastore).  Global temp views are not
listed by the catalog, so no listing has to filter the members out.
"""

from __future__ import annotations

import re
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

from facebook_presto_spark.catalog import (
    Relation,
    list_columns,
    list_databases,
    list_tables,
)
from facebook_presto_spark.session import global_local_view, local_dataframe

CATALOG_NAME = "spark"

# Schema-qualified members, columns in reference declaration order
# (InformationSchemaMetadata.java:79-118).
TABLE_SCHEMAS = {
    "columns": (
        "table_catalog string, table_schema string, table_name string, "
        "column_name string, ordinal_position bigint, column_default string, "
        "is_nullable string, data_type string, comment string, extra_info string"
    ),
    "tables": (
        "table_catalog string, table_schema string, table_name string, "
        "table_type string"
    ),
    "views": (
        "table_catalog string, table_schema string, table_name string, "
        "view_definition string"
    ),
    "schemata": "catalog_name string, schema_name string",
    "table_privileges": (
        "grantor string, grantee string, table_catalog string, "
        "table_schema string, table_name string, privilege_type string, "
        "is_grantable boolean, with_hierarchy boolean"
    ),
}


def resolve(engine, refs) -> list[str]:
    """``[catalog.]information_schema.<member>`` → the global temp view
    holding the member's rows, for each reference
    (``statements.Reference``), after building the members the statement
    names from the live catalog — metadata-only, no Spark job, the way
    the reference populates information_schema from connector metadata
    at query time (InformationSchemaPageSourceProvider)."""
    members = [ref.parts[-1] for ref in refs]
    for member in members:
        if member not in TABLE_SCHEMAS:
            raise ValueError(f"Table information_schema.{member} does not exist")
    names = refresh(engine.spark, privileges=engine.grants.rows(),
                    view_definitions=engine._views, members=members)
    return [names[member] for member in members]


def show_tables(engine, stmt) -> DataFrame:
    """SHOW TABLES FROM information_schema: the members, by name."""
    return local_dataframe(
        engine.spark, [(m,) for m in sorted(TABLE_SCHEMAS)], "`Table` string")


def show_session_tables(engine, stmt) -> DataFrame | None:
    """SHOW TABLES with no catalog: the current database's tables and
    the session's temp views, by name."""
    if stmt.name:
        return None
    rows = [(r.name,) for r in list_tables(engine.spark)]
    return local_dataframe(engine.spark, rows, "`Table` string")


def show_schemas(engine, stmt) -> DataFrame | None:
    """SHOW SCHEMAS with no catalog: the session catalog's schemas, as
    ``schemata`` lists them."""
    if stmt.name:
        return None
    rows = [(schema,) for catalog, schema in
            _schemata(list_databases(engine.spark)) if catalog == CATALOG_NAME]
    return local_dataframe(engine.spark, rows, "`Schema` string")


def _presto_schema(db: str, catalog_name: str) -> tuple[str, str]:
    """(catalog, schema) of a session-catalog database: hive-catalog
    databases present under their Presto names, catalog 'hive' and the
    schema without the implementation prefix (the reference serves a
    per-catalog information_schema)."""
    if db.startswith("hive_"):
        return "hive", db[len("hive_"):]
    return catalog_name, db


def _schemata(databases: list[str],
              catalog_name: str = CATALOG_NAME) -> list[tuple[str, str]]:
    """The ``schemata`` rows; information_schema itself is a schema of
    the catalog."""
    return [_presto_schema(d, catalog_name)
            for d in sorted(set(databases) | {"information_schema"})]


def presto_type_name(spark_type: str) -> str:
    """Spark ``simpleString`` → the Presto type name the reference renders
    in information_schema.columns.data_type (StandardTypes.java:18-45)."""
    t = spark_type.strip()
    low = t.lower()
    simple = {
        "string": "varchar",
        "int": "integer",
        "float": "real",
        "binary": "varbinary",
        "timestamp_ntz": "timestamp",
        "timestamp": "timestamp with time zone",
        "time": "time",
    }
    if low in simple:
        return simple[low]
    m = re.fullmatch(r"array<(.+)>", low)
    if m:
        return f"array({presto_type_name(m.group(1))})"
    m = re.fullmatch(r"map<(.+)>", low)
    if m:
        # split key,value at top nesting level
        inner, depth, cut = m.group(1), 0, None
        for i, ch in enumerate(inner):
            if ch == "<":
                depth += 1
            elif ch == ">":
                depth -= 1
            elif ch == "," and depth == 0:
                cut = i
                break
        if cut is not None:
            return (
                f"map({presto_type_name(inner[:cut])}, "
                f"{presto_type_name(inner[cut + 1:])})"
            )
    m = re.fullmatch(r"struct<(.+)>", low)
    if m:
        fields, depth, start, parts = m.group(1), 0, 0, []
        for i, ch in enumerate(fields):
            if ch == "<":
                depth += 1
            elif ch == ">":
                depth -= 1
            elif ch == "," and depth == 0:
                parts.append(fields[start:i])
                start = i + 1
        parts.append(fields[start:])
        rendered = []
        for p in parts:
            name, _, ftype = p.partition(":")
            rendered.append(f"{name} {presto_type_name(ftype)}")
        return f"row({', '.join(rendered)})"
    return low  # bigint, double, boolean, date, decimal(p,s), …


def refresh(spark: SparkSession, catalog_name: str = CATALOG_NAME,
            privileges: list[tuple] | None = None,
            view_definitions: dict[str, str] | None = None,
            members: Iterable[str] = tuple(TABLE_SCHEMAS)) -> dict[str, str]:
    """Build the information_schema ``members`` (default: all) from the
    live session catalog; returns member → global temp view name.

    Metadata-only and job-free (catalog.list_databases / list_tables /
    list_columns).  Temp views (how the engine registers parquet tables)
    surface under the current database, mirroring how the reference
    resolves unqualified names against the session schema.
    """
    members = set(members)
    current_db = spark.catalog.currentDatabase()
    view_defs = view_definitions or {}
    databases = (
        list_databases(spark) if members & {"schemata", "tables", "columns"}
        else []
    )
    listed = (
        _list_relations(spark, databases, current_db)
        if members & {"tables", "columns"} else []
    )
    rows: dict[str, list[tuple]] = {}
    if "schemata" in members:
        rows["schemata"] = _schemata(databases, catalog_name)
    if "tables" in members:
        rows["tables"] = [
            (*_presto_schema(db, catalog_name), rel.name,
             "VIEW" if rel.name.lower() in view_defs else "BASE TABLE")
            for db, rel in listed
        ]
    if "columns" in members:
        rows["columns"] = []
        for db, rel in listed:
            try:
                cols = list_columns(spark, rel)
            except Exception:
                continue
            for pos, c in enumerate(cols, start=1):
                rows["columns"].append((
                    *_presto_schema(db, catalog_name), rel.name, c.name,
                    pos, None,
                    "YES" if c.nullable else "NO",
                    presto_type_name(c.data_type), None,
                    # HiveUtil.java:867 — partition keys surface their role
                    "partition key" if c.is_partition else None,
                ))
    if "views" in members:
        # fed from the engine's view-definition store (Presto-dialect
        # text, like MetadataManager.getViews serves ViewDefinition);
        # those names also flip to table_type='VIEW' in `tables` above
        rows["views"] = [
            (catalog_name, current_db, name, definition)
            for name, definition in sorted(view_defs.items())
        ]
    if "table_privileges" in members:
        # fed from the engine's GrantRegistry (access.py) — the reference
        # populates this from connector grant metadata
        rows["table_privileges"] = privileges or []
    return {
        member: global_local_view(spark, f"information_schema_{member}",
                                  member_rows, TABLE_SCHEMAS[member])
        for member, member_rows in rows.items()
    }


def _list_relations(spark: SparkSession, databases: list[str],
                    current_db: str) -> list[tuple[str, Relation]]:
    """(database shown, relation) for every table and view: the current
    database's listing first, with the temp views under its name, then
    the tables of every other database."""
    out: dict[tuple[str, str], Relation] = {}
    for rel in list_tables(spark):
        out.setdefault((current_db, rel.name), rel)
    for db in databases:
        if db == current_db:
            continue
        try:
            listed = list_tables(spark, db)
        except Exception:
            continue
        for rel in listed:
            if not rel.is_temp:
                out.setdefault((db, rel.name), rel)
    return [(db, rel) for (db, _), rel in out.items()]
