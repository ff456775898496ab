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
protocol-server statement registers one ``QueryEntry`` here, which also
holds a served statement's paging state); ``nodes``/``tasks`` are fed
from the live SparkContext (application info + status-tracker stage
state — in local mode that is one coordinator row and the currently
active stages; on a real cluster the same calls surface every
executor's stages).  Only the members a statement names are built.
``kill_query`` fails the registry entry; a server-paged query reports
the kill on the client's next poll, as the reference's administrative
kill does.
"""

from __future__ import annotations

import datetime as dt
import itertools
import re
import threading
import uuid
from typing import Iterator

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
    """One statement: its row in ``system.runtime.queries`` and, for a
    statement served over ``/v1/statement``, its paging state — the
    reference's protocol ``Query``, tracked by one QueryTracker.

    The page source yields the result's rows already encoded for the
    wire and is pulled one page at a time; only the most recently
    produced page is kept (for idempotent retries of the current
    nextUri), like the reference's consume-once output buffer.  Kill
    and cancel fail the entry; the server delivers the failure on the
    client's next poll and then drops the page source."""

    __slots__ = ("qid", "query", "user", "source", "state", "created",
                 "started", "end", "error", "error_name", "columns",
                 "_rows", "_lock", "_page_lock", "_page_no", "_page")

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
        self.error_name: str | None = None
        self.columns: list[dict] | None = None
        self._rows: Iterator[list] | None = None   # the page source
        self._lock = threading.Lock()              # the final state
        self._page_lock = threading.Lock()         # the buffered page
        self._page_no = -1
        self._page: list = []

    def finish(self) -> None:
        self._end("FINISHED")

    def fail(self, message: str, name: str = "GENERIC_USER_ERROR") -> None:
        """Fail a running entry with the first line of ``message`` and
        the reference's error name."""
        self._end("FAILED", message.split("\n")[0][:1000], name)

    def _end(self, state: str, error: str | None = None,
             error_name: str | None = None) -> None:
        # the first of finish / fail / kill / cancel wins, whole
        with self._lock:
            if self.state == "RUNNING":
                self.state, self.error, self.error_name = state, error, error_name
                self.end = dt.datetime.now()

    # -- paging (the reference's Query.getNextResult) -----------------------

    def open(self, columns: list[dict], rows: Iterator[list]) -> None:
        """Attach the result's columns and its page source."""
        self.columns, self._rows = columns, rows

    @property
    def pageable(self) -> bool:
        return self._rows is not None

    def drop(self) -> None:
        """Drop the page source and the buffered page: nothing is paged
        from this entry again."""
        self._rows, self._page = None, []

    def page(self, page_no: int, size: int):
        """(rows, has_next) for ``page_no``; None if that page is no
        longer (or not yet) available.  A short page is the last one,
        and producing it drops the page source."""
        with self._page_lock:
            rows, page = self._rows, self._page
            while rows is not None and self._page_no < page_no:
                page = self._page = list(itertools.islice(rows, size))
                self._page_no += 1
                if len(page) < size:
                    self.drop()
                    rows = None
            if page_no != self._page_no:
                return None
            return page, rows is not None


class RuntimeQueryRegistry:
    """The engine-side QueryManager surface system.runtime reads
    (QueryManagers in the reference track BasicQueryInfo per query).
    The caller that registers an entry owns its final state; a handler
    that runs a nested statement registers nothing, so one statement is
    one row.  At most ``MAX_ENTRIES`` entries are kept, oldest evicted
    first, and with them their paging state."""

    MAX_ENTRIES = 1000

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._entries: dict[str, QueryEntry] = {}

    def register(self, query: str, user: str = "presto",
                 source: str | None = None) -> QueryEntry:
        qid = f"{dt.date.today():%Y%m%d}_{uuid.uuid4().hex[:12]}"
        entry = QueryEntry(qid, query, user, source)
        with self._lock:
            self._entries[qid] = entry
            while len(self._entries) > self.MAX_ENTRIES:
                self._entries.pop(next(iter(self._entries)))
        return entry

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
            "Query killed. " + (f"Message: {message}" if message else "No message provided."),
            "ADMINISTRATIVELY_KILLED",
        )

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
              tables, builders: dict) -> dict[tuple[str, str], str]:
    """Build each named ``system.<schema>`` member (``builders`` maps a
    member to the function giving its rows) and register it as its
    global temp view; returns (schema, table) → view name."""
    return {
        (schema, table): global_local_view(
            spark, f"system_{schema}_{table}", builders[table](), schemas[table])
        for table in sorted(set(tables) & builders.keys())
    }


def _task_rows(sc) -> list[tuple]:
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
    return tasks


def refresh(spark: SparkSession, registry: RuntimeQueryRegistry,
            transactions: list[tuple] | None = None,
            tables=tuple(TABLE_SCHEMAS)) -> dict[tuple[str, str], str]:
    """Build the system.runtime ``tables`` (default: all of
    queries, nodes, tasks, transactions) from live state."""
    sc = spark.sparkContext
    return _register(spark, "runtime", TABLE_SCHEMAS, tables, {
        "queries": registry.rows,
        "nodes": lambda: [(sc.applicationId, sc.uiWebUrl, f"spark-{sc.version}",
                           True, "active")],
        "tasks": lambda: _task_rows(sc),
        "transactions": lambda: transactions or [],
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

def refresh_metadata(spark: SparkSession, catalog_name: str = "spark",
                     tables=tuple(_METADATA_SCHEMAS)) -> dict[tuple[str, str], str]:
    # the primary Spark catalog plus every registered connector catalog
    # (CatalogSystemTable lists the connector registry; the connector_id
    # is the plugin's factory name)
    connector_catalogs = [
        ("memory", "memory"), ("blackhole", "blackhole"),
        ("localfile", "localfile"), ("jmx", "jmx"),
        ("example", "example-http"), ("tpch", "tpch"),
        ("hive", "hive-hadoop2"), ("system", "system"),
    ]
    return _register(spark, "metadata", _METADATA_SCHEMAS, tables, {
        "catalogs": lambda: sorted([(catalog_name, catalog_name)] + connector_catalogs),
        "table_properties": lambda: [
            (catalog_name, n, d, t, desc) for n, d, t, desc in _TABLE_PROPERTIES
        ],
        "schema_properties": list,
        "column_properties": list,
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
                 view_names: set[str] | None = None,
                 tables=tuple(_JDBC_SCHEMAS)) -> dict[tuple[str, str], str]:
    """Build the system.jdbc ``tables`` (default: all) from the live
    catalog — the JDBC DatabaseMetaData surface, fed by the same job-free
    catalog listing information_schema uses (metadata-only, no data
    reads)."""
    from facebook_presto_spark.catalog import list_databases, list_tables

    views = {v.lower() for v in (view_names or set())}
    current_db = spark.catalog.currentDatabase()
    relations = (
        list_tables(spark) if {"tables", "columns"} & set(tables) else [])
    return _register(spark, "jdbc", _JDBC_SCHEMAS, tables, {
        "catalogs": lambda: [(catalog_name,)],
        "schemas": lambda: [
            (d, catalog_name) for d in sorted(set(list_databases(spark)))],
        "table_types": lambda: [("TABLE",), ("VIEW",)],
        "tables": lambda: [
            (catalog_name, rel.database or current_db, rel.name,
             "VIEW" if rel.name.lower() in views else "TABLE",
             None, None, None, None, None, None)
            for rel in relations
        ],
        "columns": lambda: _jdbc_columns(spark, catalog_name, relations, current_db),
    })


def _jdbc_columns(spark: SparkSession, catalog_name: str, relations,
                  current_db: str) -> list[tuple]:
    from facebook_presto_spark.catalog import list_columns
    from facebook_presto_spark.infoschema import presto_type_name

    rows = []
    for rel in relations:
        try:
            cols = list_columns(spark, rel)
        except Exception:
            continue
        for pos, c in enumerate(cols, start=1):
            pname = presto_type_name(c.data_type)
            code, size, digits, radix = _jdbc_type_row(pname)
            rows.append((
                catalog_name, rel.database or current_db, rel.name, c.name,
                code, pname, size, None, digits, radix,
                1 if c.nullable else 0, None, None, None, None, None,
                pos, "YES" if c.nullable else "NO",
                None, None, None, None, "", "",
            ))
    return rows


# -- statement name resolution ----------------------------------------------

def resolve(engine, refs) -> list[str]:
    """``system.<schema>.<table>`` → the global temp view holding the
    table's rows, for each reference (``statements.Reference``), after
    building the tables the statement names from live state — once per
    statement."""
    spark, names, named = engine.spark, {}, {}
    for _system, schema, table in (ref.parts for ref in refs):
        named.setdefault(schema, set()).add(table)
    if "runtime" in named:
        names.update(refresh(spark, engine.runtime,
                             transactions=engine.transactions.rows(),
                             tables=named["runtime"]))
    if "jdbc" in named:
        names.update(refresh_jdbc(spark, view_names=set(engine._views),
                                  tables=named["jdbc"]))
    if "metadata" in named:
        names.update(refresh_metadata(spark, tables=named["metadata"]))
    out = []
    for _system, schema, table in (ref.parts for ref in refs):
        if (schema, table) not in names:
            raise ValueError(f"Table system.{schema}.{table} does not exist")
        out.append(names[schema, table])
    return out
