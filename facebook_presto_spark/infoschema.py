"""information_schema — the reference's metadata connector.

Presto exposes a synthetic ``information_schema`` schema in every catalog
(presto-main/.../connector/informationSchema/InformationSchemaMetadata.java:72-118):
``columns``, ``tables``, ``views``, ``schemata``, ``table_privileges``,
populated from connector metadata at query time
(InformationSchemaPageSourceProvider.java).

Spark twin: a real ``information_schema`` database whose members are
CREATE OR REPLACE VIEWs over literal VALUES rebuilt from the session
catalog immediately before any query that references them runs — only
the members the statement names, each costing a view definition.
This keeps the semantics (always-current metadata, filterable with
ordinary predicates) while staying metadata-only: the listing goes
through ``catalog.list_*``, which launches no Spark job and scans no
table data, so the cost is independent of data volume (the same
property the reference gets from serving these tables out of the
metastore).
"""

from __future__ import annotations

import re
import threading
from collections.abc import Iterable

from pyspark.sql import SparkSession

from facebook_presto_spark.catalog import (
    Relation,
    list_columns,
    list_databases,
    list_tables,
)

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
    """``[catalog.]information_schema.<member>`` →
    ``information_schema.<member>`` for each reference
    (``statements.Reference``), after rebuilding the members the
    statement names from the live catalog — metadata-only, no Spark job,
    the way the reference populates information_schema from connector
    metadata at query time (InformationSchemaPageSourceProvider)."""
    members = [ref.parts[-1] for ref in refs]
    refresh(engine.spark, privileges=engine.grants.rows(),
            view_definitions=engine._views,
            members=TABLE_SCHEMAS.keys() & set(members))
    return [f"information_schema.{member}" for member in members]


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


def _q(value) -> str:
    """Render one Python value as a SQL literal for a VALUES row (the
    view casts each column to its declared type once)."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, int):
        return str(value)
    return "'" + str(value).replace("'", "''") + "'"


# member -> the rows its view was last defined over; a member whose
# rows have not changed keeps its view (defining one costs 35-70 ms)
_BUILT: dict[str, list[tuple]] = {}
_BUILD_LOCK = threading.Lock()


def _values_view(spark: SparkSession, name: str, rows: list[tuple]) -> None:
    with _BUILD_LOCK:
        if _BUILT.get(name) == rows and spark.catalog.tableExists(
            f"information_schema.{name}"
        ):
            return
        spark.sql("CREATE DATABASE IF NOT EXISTS information_schema")
        _define_view(spark, name, rows)
        _BUILT[name] = rows


def _define_view(spark: SparkSession, name: str, rows: list[tuple]) -> None:
    schema = TABLE_SCHEMAS[name]
    cols = [f.split()[0] for f in schema.split(", ")]
    types = [f.split()[1] for f in schema.split(", ")]
    if rows:
        values = ", ".join(
            "(" + ", ".join(_q(v) for v in row) + ")" for row in rows
        )
        # queries re-parse the view text, so literals stay bare and
        # each column is cast once
        casts = ", ".join(
            f"CAST({c} AS {t}) AS {c}" for c, t in zip(cols, types)
        )
        body = (
            f"SELECT {casts} FROM (VALUES {values}) AS t({', '.join(cols)})"
        )
    else:
        nulls = ", ".join(
            f"CAST(NULL AS {t}) AS {c}" for c, t in zip(cols, types)
        )
        body = f"SELECT {nulls} WHERE FALSE"
    spark.sql(f"CREATE OR REPLACE VIEW information_schema.{name} AS {body}")


def refresh(spark: SparkSession, catalog_name: str = CATALOG_NAME,
            privileges: list[tuple] | None = None,
            view_definitions: dict[str, str] | None = None,
            members: Iterable[str] = tuple(TABLE_SCHEMAS)) -> None:
    """(Re)build the information_schema ``members`` (default: all) from
    the live session catalog.

    Metadata-only and job-free (catalog.list_databases / list_tables /
    list_columns); a member whose rows are unchanged keeps its view.
    Temp views (how the engine registers parquet tables) surface under
    the current database, mirroring how the reference resolves
    unqualified names against the session schema.
    """
    members = set(members)
    if not members:
        return
    current_db = spark.catalog.currentDatabase()
    view_defs = view_definitions or {}

    def presto_schema(db: str) -> tuple[str, str]:
        # hive-catalog databases present under their Presto names:
        # catalog 'hive', schema without the implementation prefix
        # (the reference serves a per-catalog information_schema)
        if db.startswith("hive_"):
            return "hive", db[len("hive_"):]
        return catalog_name, db

    databases = (
        list_databases(spark) if members & {"schemata", "tables", "columns"}
        else []
    )
    listed = (
        _list_relations(spark, databases, current_db)
        if members & {"tables", "columns"} else []
    )
    if "schemata" in members:
        _values_view(spark, "schemata", [
            presto_schema(d) for d in sorted(set(databases))
        ])
    if "tables" in members:
        _values_view(spark, "tables", [
            (*presto_schema(db), rel.name,
             "VIEW" if rel.name.lower() in view_defs else "BASE TABLE")
            for db, rel in listed
        ])
    if "columns" in members:
        columns_rows: list[tuple] = []
        for db, rel in listed:
            try:
                cols = list_columns(spark, rel)
            except Exception:
                continue
            for pos, c in enumerate(cols, start=1):
                columns_rows.append((
                    *presto_schema(db), rel.name, c.name, pos, None,
                    "YES" if c.nullable else "NO",
                    presto_type_name(c.data_type), None,
                    # HiveUtil.java:867 — partition keys surface their role
                    "partition key" if c.is_partition else None,
                ))
        _values_view(spark, "columns", columns_rows)
    if "views" in members:
        # fed from the engine's view-definition store (Presto-dialect
        # text, like MetadataManager.getViews serves ViewDefinition);
        # those names also flip to table_type='VIEW' in `tables` above
        _values_view(spark, "views", [
            (catalog_name, current_db, name, definition)
            for name, definition in sorted(view_defs.items())
        ])
    if "table_privileges" in members:
        # fed from the engine's GrantRegistry (access.py) — the reference
        # populates this from connector grant metadata
        _values_view(spark, "table_privileges", privileges or [])


def _list_relations(spark: SparkSession, databases: list[str],
                    current_db: str) -> list[tuple[str, Relation]]:
    """(database shown, relation) for every table and view: the current
    database's listing first, with the temp views under its name, then
    the tables of every other database; information_schema's own members
    never list."""
    out: dict[tuple[str, str], Relation] = {}
    if current_db != "information_schema":
        for rel in list_tables(spark):
            out.setdefault((current_db, rel.name), rel)
    for db in databases:
        if db in ("information_schema", current_db):
            continue
        try:
            listed = list_tables(spark, db)
        except Exception:
            continue
        for rel in listed:
            if not rel.is_temp:
                out.setdefault((db, rel.name), rel)
    return [(db, rel) for (db, _), rel in out.items()]
