"""system.runtime — the reference's runtime system catalog.

Presto serves a synthetic ``system`` catalog whose ``runtime`` schema
exposes the coordinator's live state (presto-main/.../connector/system/):

- ``queries``  — every query the coordinator tracks
  (QuerySystemTable.java:56-71: query_id/state/user/source/query/
  resource_group_id, the queued/analysis/planning times, and the
  created/started/last_heartbeat/end timestamps)
- ``nodes``    — cluster membership (NodeSystemTable.java:50-55)
- ``tasks``    — per-task execution state (TaskSystemTable.java:47-78)
- ``CALL system.runtime.kill_query(query_id, message)``
  (KillQueryProcedure.java:53-76) — administratively fails a running
  query.

Spark twin: immediately before any statement that references
``system.<schema>`` runs, that schema's members are built as local
relations from live state (``session.local_dataframe``) and registered
as the global temp views ``global_temp.system_<schema>_<table>``, which
the references resolve to — the same always-current,
metadata-only strategy information_schema uses (infoschema.py).  The
``system.metadata`` and ``system.jdbc`` schemas below are served the
same way.  ``queries`` is fed from the
engine's RuntimeQueryRegistry (every ``engine.sql`` call and every
protocol-server statement registers here); ``nodes``/``tasks`` are fed
from the live SparkContext (application info + status-tracker stage
state — in local mode that is one coordinator row and the currently
active stages; on a real cluster the same calls surface every
executor's stages).  ``kill_query`` fails the registry entry and fires
its kill callback, which for server-paged queries poisons the paging
iterator exactly like the reference's administrative kill surfaces on
the client's next poll.
"""

from __future__ import annotations

import datetime as dt
import re
import threading
import uuid

from pyspark.sql import SparkSession

from facebook_presto_spark.session import global_local_view

# Columns in reference declaration order, as DDL.  ``end`` is a reserved
# word in both engines and is backquoted.
TABLE_SCHEMAS = {
    "queries": (
        "query_id string, state string, user string, source string, "
        "query string, resource_group_id array<string>, "
        "queued_time_ms bigint, analysis_time_ms bigint, "
        "distributed_planning_time_ms bigint, created timestamp, "
        "started timestamp, last_heartbeat timestamp, `end` timestamp"
    ),
    "nodes": (
        "node_id string, http_uri string, node_version string, "
        "coordinator boolean, state string"
    ),
    "tasks": (
        "node_id string, task_id string, stage_id string, query_id string, "
        "state string, splits bigint, queued_splits bigint, "
        "running_splits bigint, completed_splits bigint, created timestamp, "
        "start timestamp, last_heartbeat timestamp, `end` timestamp"
    ),
    # TransactionsSystemTable.java:61-68 — fed from the engine's
    # TransactionManager (transactions.py): one row per live explicit
    # transaction (START TRANSACTION … COMMIT/ROLLBACK)
    "transactions": (
        "transaction_id string, isolation_level string, read_only boolean, "
        "auto_commit_context boolean, create_time timestamp, "
        "idle_time_secs bigint, written_catalog string, "
        "catalogs array<string>"
    ),
}


class QueryEntry:
    __slots__ = ("qid", "query", "user", "source", "state", "created",
                 "started", "end", "error", "kill_cb")

    def __init__(self, qid: str, query: str, user: str, source: str | None):
        self.qid = qid
        self.query = query
        self.user = user
        self.source = source
        self.state = "RUNNING"
        self.created = dt.datetime.now()
        self.started = self.created
        self.end: dt.datetime | None = None
        self.error: str | None = None
        self.kill_cb = None

    def finish(self) -> None:
        if self.state == "RUNNING":
            self.state = "FINISHED"
            self.end = dt.datetime.now()

    def fail(self, message: str) -> None:
        if self.state == "RUNNING":
            self.state = "FAILED"
            self.error = message
            self.end = dt.datetime.now()


class RuntimeQueryRegistry:
    """The engine-side QueryManager surface system.runtime reads
    (QueryManagers in the reference track BasicQueryInfo per query).
    Nested ``engine.sql`` calls (EXECUTE → sql, server → sql) reuse the
    thread's active entry so one statement is one row."""

    MAX_ENTRIES = 1000

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._entries: dict[str, QueryEntry] = {}
        self._tl = threading.local()

    # -- statement lifecycle ------------------------------------------------

    def enter(self, query: str, user: str = "presto",
              source: str | None = None, qid: str | None = None):
        """Register a statement; returns (entry, owner).  ``owner`` is
        False for nested calls — only the outermost frame transitions
        the entry's final state."""
        current = getattr(self._tl, "current", None)
        if current is not None:
            return current, False
        qid = qid or f"{dt.date.today():%Y%m%d}_{uuid.uuid4().hex[:12]}"
        entry = QueryEntry(qid, query, user, source)
        with self._lock:
            self._entries[qid] = entry
            while len(self._entries) > self.MAX_ENTRIES:
                self._entries.pop(next(iter(self._entries)))
        self._tl.current = entry
        return entry, True

    def exit(self) -> None:
        self._tl.current = None

    def get(self, qid: str) -> QueryEntry | None:
        with self._lock:
            return self._entries.get(qid)

    # -- kill_query (KillQueryProcedure.java:53-76) -------------------------

    def kill_query(self, qid: str, message: str | None) -> None:
        entry = self.get(qid)
        if entry is None:
            raise ValueError(f"Target query not found: {qid}")
        if entry.state != "RUNNING":
            raise ValueError(f"Target query is not running: {qid}")
        entry.fail(
            "Query killed. " + (f"Message: {message}" if message else "No message provided.")
        )
        if entry.kill_cb is not None:
            entry.kill_cb()

    # -- view feed ----------------------------------------------------------

    def rows(self) -> list[tuple]:
        with self._lock:
            entries = list(self._entries.values())
        out = []
        for e in entries:
            out.append((
                e.qid, e.state, e.user, e.source, e.query,
                ["global"],          # single resource group in this engine
                0, None, None,       # queued / analysis / planning times:
                                     # Catalyst plans lazily — not split out
                e.created, e.started, e.end or e.started, e.end,
            ))
        return out


# -- member construction -----------------------------------------------------

def _register(spark: SparkSession, schema: str, schemas: dict[str, str],
              rows: dict[str, list[tuple]]) -> dict[str, str]:
    """Register each ``system.<schema>`` member's rows as its global temp
    view; returns (schema, table) → view name."""
    return {
        (schema, table): global_local_view(
            spark, f"system_{schema}_{table}", table_rows, schemas[table])
        for table, table_rows in rows.items()
    }


def refresh(spark: SparkSession, registry: RuntimeQueryRegistry,
            transactions: list[tuple] | None = None) -> dict[tuple[str, str], str]:
    """Build system.runtime.{queries,nodes,tasks,transactions} from live
    state."""
    sc = spark.sparkContext
    tasks = []
    now = dt.datetime.now()
    tracker = sc.statusTracker()
    for sid in tracker.getActiveStageIds():
        info = tracker.getStageInfo(sid)
        if info is None:
            continue
        tasks.append((
            sc.applicationId, f"{sid}.0.0", str(sid), None, "RUNNING",
            info.numTasks, info.numTasks - info.numActiveTasks - info.numCompletedTasks,
            info.numActiveTasks, info.numCompletedTasks,
            now, now, now, None,
        ))
    return _register(spark, "runtime", TABLE_SCHEMAS, {
        "queries": registry.rows(),
        "nodes": [(sc.applicationId, sc.uiWebUrl, f"spark-{sc.version}",
                   True, "active")],
        "tasks": tasks,
        "transactions": transactions or [],
    })


# -- system.metadata (CatalogSystemTable.java:44-48,
#    AbstractPropertiesSystemTable.java:50-55) -------------------------------

_PROPERTIES_SCHEMA = (
    "catalog_name string, property_name string, default_value string, "
    "type string, description string"
)
_METADATA_SCHEMAS = {
    "catalogs": "catalog_name string, connector_id string",
    "table_properties": _PROPERTIES_SCHEMA,
    "schema_properties": _PROPERTIES_SCHEMA,
    "column_properties": _PROPERTIES_SCHEMA,
}

# the WITH (…) table properties ddl/translate actually honor
_TABLE_PROPERTIES = [
    ("format", "'PARQUET'", "varchar", "Storage format (PARQUET/ORC/JSON/CSV)"),
    ("partitioned_by", "[]", "array(varchar)", "Partition columns"),
    ("bucketed_by", "[]", "array(varchar)", "Bucketing columns"),
    ("bucket_count", "0", "integer", "Number of buckets"),
]

def refresh_metadata(spark: SparkSession,
                     catalog_name: str = "spark") -> dict[tuple[str, str], str]:
    # the primary Spark catalog plus every registered connector catalog
    # (CatalogSystemTable lists the connector registry; the connector_id
    # is the plugin's factory name)
    connector_catalogs = [
        ("memory", "memory"), ("blackhole", "blackhole"),
        ("localfile", "localfile"), ("jmx", "jmx"),
        ("example", "example-http"), ("tpch", "tpch"),
        ("hive", "hive-hadoop2"), ("system", "system"),
    ]
    return _register(spark, "metadata", _METADATA_SCHEMAS, {
        "catalogs": sorted([(catalog_name, catalog_name)] + connector_catalogs),
        "table_properties": [
            (catalog_name, n, d, t, desc) for n, d, t, desc in _TABLE_PROPERTIES
        ],
        "schema_properties": [],
        "column_properties": [],
    })


# -- system.jdbc (connector/system/jdbc/*.java) ------------------------------
#
# The Presto JDBC driver answers DatabaseMetaData calls by querying
# system.jdbc.{catalogs,schemas,tables,columns,table_types}
# (TableJdbcTable.java:50-59, SchemaJdbcTable.java:46-47,
# CatalogJdbcTable.java:42, ColumnJdbcTable.java:73-96 with the
# java.sql.Types mapping at :169).  Served here like information_schema:
# local relations built from the live catalog before any referencing
# statement.

_JDBC_SCHEMAS = {
    "catalogs": "table_cat string",
    "schemas": "table_schem string, table_catalog string",
    "table_types": "table_type string",
    "tables": (
        "table_cat string, table_schem string, table_name string, "
        "table_type string, remarks string, type_cat string, "
        "type_schem string, type_name string, "
        "self_referencing_col_name string, ref_generation string"
    ),
    "columns": (
        "table_cat string, table_schem string, table_name string, "
        "column_name string, data_type bigint, type_name string, "
        "column_size bigint, buffer_length bigint, decimal_digits bigint, "
        "num_prec_radix bigint, nullable bigint, remarks string, "
        "column_def string, sql_data_type bigint, sql_datetime_sub bigint, "
        "char_octet_length bigint, ordinal_position bigint, "
        "is_nullable string, scope_catalog string, scope_schema string, "
        "scope_table string, source_data_type bigint, "
        "is_autoincrement string, is_generatedcolumn string"
    ),
}

# java.sql.Types codes + (column_size, decimal_digits, num_prec_radix),
# ColumnJdbcTable.jdbcDataType/columnSize/decimalDigits
_JDBC_TYPE_INFO = {
    "boolean": (16, None, None, None),
    "bigint": (-5, 19, 0, 10),
    "integer": (4, 10, 0, 10),
    "smallint": (5, 5, 0, 10),
    "tinyint": (-6, 3, 0, 10),
    "real": (7, 24, None, 2),
    "double": (8, 53, None, 2),
    "varchar": (12, None, None, None),
    "char": (1, None, None, None),
    "varbinary": (-3, None, None, None),
    "time": (92, 8, None, None),
    "time with time zone": (2013, 14, None, None),
    "timestamp": (93, 23, None, None),
    "timestamp with time zone": (2014, 29, None, None),
    "date": (91, 14, None, None),
}


def _jdbc_type_row(presto_name: str) -> tuple:
    low = presto_name.lower()
    if low.startswith("decimal"):
        m = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", low)
        p, s = (int(m.group(1)), int(m.group(2))) if m else (38, 0)
        return (3, p, s, 10)
    if low.startswith("array"):
        return (2003, None, None, None)
    return _JDBC_TYPE_INFO.get(low, (2000, None, None, None))  # JAVA_OBJECT


def refresh_jdbc(spark: SparkSession, catalog_name: str = "spark",
                 view_names: set[str] | None = None) -> dict[tuple[str, str], str]:
    """Build system.jdbc.* from the live catalog — the JDBC
    DatabaseMetaData surface, fed by the same job-free catalog listing
    information_schema uses (metadata-only, no data reads)."""
    from facebook_presto_spark.catalog import (
        list_columns,
        list_databases,
        list_tables,
    )
    from facebook_presto_spark.infoschema import presto_type_name

    views = {v.lower() for v in (view_names or set())}
    current_db = spark.catalog.currentDatabase()
    databases = sorted(set(list_databases(spark)))

    tables_rows: list[tuple] = []
    columns_rows: list[tuple] = []
    for rel in list_tables(spark):
        db = rel.database or current_db
        kind = "VIEW" if rel.name.lower() in views else "TABLE"
        tables_rows.append((
            catalog_name, db, rel.name, kind,
            None, None, None, None, None, None,
        ))
        try:
            cols = list_columns(spark, rel)
        except Exception:
            continue
        for pos, c in enumerate(cols, start=1):
            pname = presto_type_name(c.data_type)
            code, size, digits, radix = _jdbc_type_row(pname)
            columns_rows.append((
                catalog_name, db, rel.name, c.name,
                code, pname, size, None, digits, radix,
                1 if c.nullable else 0, None, None, None, None, None,
                pos, "YES" if c.nullable else "NO",
                None, None, None, None, "", "",
            ))
    return _register(spark, "jdbc", _JDBC_SCHEMAS, {
        "catalogs": [(catalog_name,)],
        "schemas": [(d, catalog_name) for d in databases],
        "table_types": [("TABLE",), ("VIEW",)],
        "tables": tables_rows,
        "columns": columns_rows,
    })


# -- statement name resolution ----------------------------------------------

def resolve(engine, refs) -> list[str]:
    """``system.<schema>.<table>`` → the global temp view holding the
    table's rows, for each reference (``statements.Reference``), after
    building each schema the statement names from live state — once per
    statement."""
    spark, schemas, names = engine.spark, {ref.parts[1] for ref in refs}, {}
    if "runtime" in schemas:
        names.update(refresh(spark, engine.runtime,
                             transactions=engine.transactions.rows()))
    if "jdbc" in schemas:
        names.update(refresh_jdbc(spark, view_names=set(engine._views)))
    if "metadata" in schemas:
        names.update(refresh_metadata(spark))
    out = []
    for _system, schema, table in (ref.parts for ref in refs):
        if (schema, table) not in names:
            raise ValueError(f"Table system.{schema}.{table} does not exist")
        out.append(names[schema, table])
    return out
