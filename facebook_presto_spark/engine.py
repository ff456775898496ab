"""PrestoSparkEngine — the user-facing entry point.

The reference's query lifecycle (SURVEY.md §3.1) is:

    POST /v1/statement → parse (SqlParser.java:45) → analyze
    (StatementAnalyzer.java:216) → plan (LogicalPlanner.java:150) →
    optimize → fragment → schedule → execute.

On Spark all stages after parsing belong to Catalyst/AQE.  The engine
therefore does exactly two things:

1. registers the catalog (parquet tables as views — catalog.py), and
2. translates Presto-dialect SQL to Spark SQL (sqlfront/) and hands it to
   ``spark.sql``.

Usage::

    from facebook_presto_spark.engine import PrestoSparkEngine
    eng = PrestoSparkEngine.for_dir("/root/testdata/sf0.01")
    df = eng.sql("SELECT strpos(name, 'a') FROM nation WHERE n_nationkey < 5")
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from facebook_presto_spark.catalog import (
    DEFAULT_SF_DIR,
    list_columns,
    register_views,
)
from facebook_presto_spark.session import get_spark, local_dataframe
from facebook_presto_spark.sqlfront import translate

_PREPARE_RE = re.compile(r"^\s*PREPARE\s+([A-Za-z_]\w*)\s+FROM\s+(.+)$", re.I | re.S)
_EXECUTE_RE = re.compile(
    r"^\s*EXECUTE\s+([A-Za-z_]\w*)(?:\s+USING\s+(.+))?\s*;?\s*$", re.I | re.S
)
_DEALLOCATE_RE = re.compile(r"^\s*DEALLOCATE\s+PREPARE\s+([A-Za-z_]\w*)\s*;?\s*$", re.I)
_DESCRIBE_IO_RE = re.compile(
    r"^\s*DESCRIBE\s+(INPUT|OUTPUT)\s+([A-Za-z_]\w*)\s*;?\s*$", re.I
)
_SHOW_SESSION_RE = re.compile(r"^\s*SHOW\s+SESSION\s*;?\s*$", re.I)
_SHOW_FUNCTIONS_RE = re.compile(r"^\s*SHOW\s+FUNCTIONS\s*;?\s*$", re.I)
_SHOW_STATS_RE = re.compile(
    r"^\s*SHOW\s+STATS\s+FOR\s+([A-Za-z_][\w.]*)\s*;?\s*$", re.I
)
# showStatsForQuery (SqlBase.g4:83): SHOW STATS FOR (SELECT …)
_SHOW_STATS_QUERY_RE = re.compile(
    r"^\s*SHOW\s+STATS\s+FOR\s*\((.+)\)\s*;?\s*$", re.I | re.S
)
_SHOW_CREATE_TABLE_RE = re.compile(
    r"^\s*SHOW\s+CREATE\s+TABLE\s+([\w.\"]+)\s*;?\s*$", re.I
)
_ALTER_SCHEMA_RE = re.compile(
    r"^\s*ALTER\s+SCHEMA\s+([\w.]+)\s+RENAME\s+TO\s+([\w.]+)\s*;?\s*$", re.I
)
_EXPLAIN_ANALYZE_RE = re.compile(r"^\s*EXPLAIN\s+ANALYZE\s+(.+)$", re.I | re.S)
_ALTER_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+"
    r"(?:RENAME\s+TO\s+([A-Za-z_][\w.]*)"
    r"|RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)"
    r"|DROP\s+COLUMN\s+(\w+)"
    r"|ADD\s+COLUMN\s+(\w+)\s+(.+?))\s*;?\s*$",
    re.I | re.S,
)
_USE_RE = re.compile(
    r"^\s*USE\s+(?:([A-Za-z_]\w*)\s*\.\s*)?([A-Za-z_]\w*)\s*;?\s*$", re.I
)
_SET_PATH_RE = re.compile(r"^\s*SET\s+PATH\s+(.+?)\s*;?\s*$", re.I | re.S)
_EXPLAIN_OPTS_RE = re.compile(r"^\s*EXPLAIN\s*\(([^)]*)\)\s*(.+)$", re.I | re.S)


def _split_filters(text: str) -> list[str]:
    """Split a PushedFilters list on top-level commas (filter arguments
    contain commas of their own: ``LessThan(x, 10)``)."""
    out, depth, cur = [], 0, []
    for ch in text:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        out.append(tail)
    return [f for f in out if f]


def _presto_json_field(v, real: bool = False) -> str:
    """One ROW field → its Presto JSON text (RowToJsonCast.java /
    ArrayToJsonCast / MapToJsonCast): structs (Rows) and arrays render
    as JSON arrays, maps as objects, varchar quoted, booleans/nulls as
    JSON literals, numbers via their canonical repr.

    ``real=True`` renders floats with Java Float.toString digits (the
    Python float carries the widened float32 value — registered as
    presto_json_field_real where the cast target is REAL).  A string
    value prefixed with \\x01 is pre-rendered JSON text and embeds raw
    (the translator marks JSON-typed expressions this way so
    ARRAY[JSON '…'] casts keep their token kinds)."""
    import datetime as _dt
    import decimal as _decimal
    import json as _json

    from pyspark.sql import Row as _Row

    def key_text(x) -> str:
        # map keys render through the same scalar formatting as values,
        # then quote as JSON object keys (MapToJsonCast key writers)
        if isinstance(x, bool):
            return "true" if x else "false"
        if isinstance(x, float):
            from facebook_presto_spark.functions.geo_sql import (
                _java_double_str,
                _java_float_str,
            )

            return _java_float_str(x) if real else _java_double_str(x)
        if isinstance(x, _decimal.Decimal):
            return format(x, "f")
        return str(x)

    def render(x) -> str:
        if x is None:
            return "null"
        if isinstance(x, str) and x.startswith("\x01"):
            return x[1:] or "null"
        if isinstance(x, _Row):
            return "[" + ",".join(render(e) for e in x) + "]"
        if isinstance(x, (list, tuple)):
            return "[" + ",".join(render(e) for e in x) + "]"
        if isinstance(x, dict):
            # jackson ORDER_MAP_ENTRIES_BY_KEYS: lexicographic key text
            return "{" + ",".join(
                f"{_json.dumps(key_text(k))}:{render(val)}"
                for k, val in sorted(x.items(),
                                     key=lambda kv: key_text(kv[0]))
            ) + "}"
        if isinstance(x, bool):
            return "true" if x else "false"
        if isinstance(x, int):
            return str(x)
        if isinstance(x, float):
            # Java Double.toString digits (the reference serializes
            # doubles through jackson's Double writer); non-finite
            # doubles are quoted strings ("NaN", "Infinity")
            from facebook_presto_spark.functions.geo_sql import (
                _java_double_str,
                _java_float_str,
            )

            s = _java_float_str(x) if real else _java_double_str(x)
            return _json.dumps(s) if x != x or x in (
                float("inf"), float("-inf")) else s
        if isinstance(x, _decimal.Decimal):
            return format(x, "f")  # keep the declared scale: 0.0000…
        if isinstance(x, (bytes, bytearray)):
            import base64 as _b64

            return _json.dumps(_b64.b64encode(bytes(x)).decode())
        if isinstance(x, _dt.datetime):
            # millisecond precision like the reference's timestamp
            # JSON writer ('2016-01-02 01:02:03.000')
            return _json.dumps(
                x.strftime("%Y-%m-%d %H:%M:%S.")
                + f"{x.microsecond // 1000:03d}")
        if isinstance(x, (_dt.date, _dt.time)):
            return _json.dumps(str(x))
        return _json.dumps(str(x))

    # NULL renders as 'null' TEXT — the ROW-as-JSON composition
    # (concat_ws) relies on it; the generic CAST(x AS JSON) wrapper in
    # _pass_cast_types adds the SQL-NULL-on-NULL-input guard itself
    return render(v)


class PrestoSparkEngine:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        # prepared-statement store (QueryPreparer.java:55-85 keeps these in
        # the session; one engine instance = one session)
        self._prepared: dict[str, str] = {}
        # table-privilege registry (GrantTask.java / SHOW GRANTS — see
        # access.py); session-scoped like the prepared statements
        from facebook_presto_spark.access import GrantRegistry

        self.grants = GrantRegistry()
        # query tracking for system.runtime.queries / kill_query
        # (QueryManager parity — systemtables.py)
        from facebook_presto_spark.systemtables import RuntimeQueryRegistry

        self.runtime = RuntimeQueryRegistry()
        # view definitions in Presto dialect, for
        # information_schema.views + SHOW CREATE VIEW (the reference
        # persists ViewDefinition JSON in the metastore —
        # MetadataManager.getViews; session-scoped here, like the views)
        self._views: dict[str, str] = {}
        # transaction contexts (StartTransactionTask/CommitTask/
        # RollbackTask — transactions.py); the CURRENT transaction is
        # thread-local: one protocol request = one thread = one
        # header-rebuilt session, like the reference
        from facebook_presto_spark.transactions import TransactionManager

        self.transactions = TransactionManager()
        import threading as _threading

        self._txn_tl = _threading.local()
        # SQL path (SetPathTask / X-Presto-Path) — session state like
        # the transaction id, thread-local for the protocol server
        self._path_tl = _threading.local()

    def current_path(self) -> str:
        return getattr(self._path_tl, "value", "") or ""

    def set_current_path(self, path: str) -> None:
        self._path_tl.value = path

    @property
    def path_event(self) -> str | None:
        """The path set by the last SET PATH on this thread — the server
        reads it to emit X-Presto-Set-Path."""
        return getattr(self._path_tl, "event", None)

    @path_event.setter
    def path_event(self, value: str | None) -> None:
        self._path_tl.event = value

    def current_transaction(self) -> str | None:
        return getattr(self._txn_tl, "tid", None)

    def set_current_transaction(self, tid: str | None) -> None:
        self._txn_tl.tid = tid

    @property
    def txn_event(self) -> tuple | None:
        """('started'|'cleared', tid) from the last transaction-control
        statement on this thread — the server reads it to emit
        X-Presto-Started-Transaction-Id / X-Presto-Clear-Transaction-Id."""
        return getattr(self._txn_tl, "event", None)

    @txn_event.setter
    def txn_event(self, value: tuple | None) -> None:
        self._txn_tl.event = value

    @classmethod
    def for_dir(cls, sf_dir: str = DEFAULT_SF_DIR, spark: SparkSession | None = None) -> "PrestoSparkEngine":
        """Engine with the star-schema tables under ``sf_dir`` registered."""
        spark = spark or get_spark()
        register_views(spark, sf_dir)
        cls._register_sql_udfs(spark)
        return cls(spark)

    def register_schema(self, schema: str, sf_dir: str) -> None:
        """Expose ``sf_dir`` as a named schema: ``schema.table`` and
        ``anycatalog.schema.table`` identifiers resolve (the reference's
        Catalog → Schema → Table addressing)."""
        from facebook_presto_spark.catalog import register_schema

        register_schema(self.spark, schema, sf_dir)

    @staticmethod
    def _register_sql_udfs(spark: SparkSession) -> None:
        """Expose the registry's pandas-UDF fallbacks to SQL text, so
        engine.sql() reaches the same surface as the Column API (the
        reference registers every function in one FunctionRegistry —
        SQL and everything else resolve identically)."""
        from facebook_presto_spark.functions import (
            binary_fns,
            math_fns,
            ml_fns,
            string_fns,
        )

        for name, udf in {
            **binary_fns.SQL_UDFS,
            **string_fns.SQL_UDFS,
            **math_fns.SQL_UDFS,
            **ml_fns.SQL_UDFS,
        }.items():
            spark.udf.register(name, udf)

        # declarative SQL UDFs: the SetDigest/qdigest scalar long-tail
        from facebook_presto_spark.sqlfront import sql_udfs

        sql_udfs.install(spark)
        # the geospatial plugin's scalars, registered under their
        # reference names so engine.sql reaches them (geo_sql.py —
        # round 8; parity with the Column builders is pinned by
        # tests/test_geo_sql.py)
        from facebook_presto_spark.functions import geo_sql

        geo_sql.install(spark)
        # runtime-typed JSON field renderer for CAST(ROW(…) AS JSON)
        # (RowToJsonCast.java): dispatches on the VALUE's runtime type,
        # so struct-typed columns render as JSON arrays like the
        # reference — unreachable from SQL text alone (translate.
        # _row_as_json).  Per-value type dispatch needs Row/dict/list
        # Python objects, which survive the Arrow boundary:
        # Arrow-optimized (SPARK-40307): same per-value type dispatch
        # (Row objects survive the Arrow boundary), but batched — the
        # plan shows ArrowEvalPython, so a bulk JSON-export workload
        # pays Arrow transfer instead of per-row pickling
        from pyspark.sql.functions import udf as _udf
        from pyspark.sql.types import StringType as _StringType

        spark.udf.register(
            "presto_json_field",
            _udf(lambda v: _presto_json_field(v), _StringType(),
                 useArrow=True))
        spark.udf.register(
            "presto_json_field_real",
            _udf(lambda v: _presto_json_field(v, real=True), _StringType(),
                 useArrow=True))

    def translate(self, presto_sql: str) -> str:
        """Presto-dialect SQL → the Spark SQL string that will run."""
        return translate(presto_sql)

    def sql(self, presto_sql: str) -> DataFrame:
        """Run Presto-dialect SQL; returns a lazy DataFrame.

        ``SET SESSION <prop> = <value>`` statements apply the reference's
        session-property surface (SystemSessionProperties.java) to the
        Spark conf and return an empty OK relation, like the reference's
        coordinator does.  Everything else is translated and planned by
        Catalyst — which performs the reference's whole optimizer sequence
        (PlanOptimizers.java:221-502): pushdown, pruning, join selection —
        lazily, until an action runs.

        Every statement registers in ``self.runtime`` (the QueryManager
        surface behind ``system.runtime.queries`` / ``kill_query``);
        nested calls (EXECUTE, the protocol server) reuse the thread's
        active entry so one user statement is one row.
        """
        entry, owner = self.runtime.enter(presto_sql)
        try:
            df = self._sql_inner(presto_sql)
            if owner:
                entry.finish()
            return df
        except Exception as e:
            if owner:
                entry.fail(str(e).split("\n")[0][:500])
            raise
        finally:
            if owner:
                self.runtime.exit()

    def _sql_inner(self, presto_sql: str) -> DataFrame:
        from facebook_presto_spark.properties import (
            parse_set_session,
            set_session_property,
        )

        set_stmt = parse_set_session(presto_sql)
        if set_stmt is not None:
            set_session_property(self.spark, *set_stmt)
            return self.spark.sql("SELECT true AS ok WHERE false")
        from facebook_presto_spark.properties import (
            parse_reset_session,
            reset_session_property,
        )

        reset_stmt = parse_reset_session(presto_sql)
        if reset_stmt is not None:
            reset_session_property(self.spark, reset_stmt)
            return self.spark.sql("SELECT true AS ok WHERE false")
        m = _USE_RE.match(presto_sql)
        if m:
            # USE [catalog.]schema (SqlBase.g4:35-36) — the schema maps to a
            # Spark database (see catalog.register_schema); catalog is a
            # name prefix only
            self.spark.catalog.setCurrentDatabase(m.group(2))
            return self.spark.sql("SELECT true AS ok WHERE false")
        from facebook_presto_spark import transactions as txn

        # transaction control (START TRANSACTION/COMMIT/ROLLBACK —
        # SqlBase.g4:90-92); then the READ ONLY write guard for every
        # statement running inside an explicit transaction
        handled = txn.dispatch(self, presto_sql)
        if handled is not None:
            return handled
        txn.check_write(self, presto_sql)
        # hive/memory CTAS/INSERT/DELETE inside an explicit transaction
        # register compensating actions so ROLLBACK undoes them
        # (transactions.py round 8 — undo-log staging); metadata
        # statements (ALTER/DROP TABLE, CREATE/DROP VIEW) stage too
        # since round 9, per SemiTransactionalHiveMetastore's staged
        # renames and drops
        txn.stage_write(self, presto_sql)
        txn.stage_ddl(self, presto_sql)
        m = _SET_PATH_RE.match(presto_sql)
        if m:
            # SET PATH (SqlBase.g4 setPath → SetPathTask.java): a comma
            # list of [catalog.]schema elements, kept as session state
            # (thread-local like the transaction id; the protocol server
            # round-trips it via X-Presto-Path / X-Presto-Set-Path).
            # Function resolution here is a single flat registry, so the
            # path's only observable effect is current_path — same as a
            # reference deployment with no session functions installed.
            spec = m.group(1).strip().rstrip(";").strip()
            elem = r'(?:"[^"]+"|\w+)(?:\s*\.\s*(?:"[^"]+"|\w+))?'
            if not re.fullmatch(rf"{elem}(?:\s*,\s*{elem})*", spec):
                raise ValueError(f"mismatched input '{spec}' expecting path")
            self._path_tl.value = spec
            self._path_tl.event = spec
            return self.spark.sql("SELECT true AS ok WHERE false")
        if re.search(r"\bcurrent_path\b", presto_sql, re.I):
            # current_path (FunctionRegistry session function): resolves
            # to the session's raw path string at translation time
            from facebook_presto_spark.connectors import (
                _sub_outside_literals,
            )

            lit = "'" + self.current_path().replace("'", "''") + "'"
            presto_sql = _sub_outside_literals(
                re.compile(r"\bcurrent_path\b(?:\s*\(\s*\))?", re.I),
                lambda _m: lit, presto_sql,
            )
        from facebook_presto_spark import connectors

        # connector-catalog DDL/DML (memory/blackhole/localfile) — ahead
        # of the generic metadata dispatch so e.g. ALTER TABLE memory.*
        # RENAME resolves against the connector registry, not the session
        # catalog
        handled = connectors.dispatch(self, presto_sql)
        if handled is not None:
            return handled
        from facebook_presto_spark import hive_catalog

        handled = hive_catalog.dispatch(self, presto_sql)
        if handled is not None:
            return handled
        meta = self._dispatch_metadata(presto_sql)
        if meta is not None:
            return meta
        prepared = self._dispatch_prepared(presto_sql)
        if prepared is not None:
            return prepared
        from facebook_presto_spark import access

        granted = access.dispatch(self, presto_sql)
        if granted is not None:
            return granted
        # optional grant enforcement (SET SESSION enforce_access_control
        # = true — access.enforce; default off, single-user behavior)
        access.enforce(self, presto_sql)
        from facebook_presto_spark import systemtables

        called = systemtables.dispatch_call(self, presto_sql)
        if called is not None:
            return called
        from facebook_presto_spark import procedures

        # connector procedures (CallTask.java → ProcedureRegistry) —
        # raises the reference texts for every CALL failure mode
        called = procedures.dispatch(self, presto_sql)
        if called is not None:
            return called
        access.reject_unsupported(presto_sql)
        from facebook_presto_spark import infoschema

        m = re.match(
            r"\s*CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+([\w.\"]+)\s+AS\s+(.+?)\s*;?\s*$",
            presto_sql, re.I | re.S,
        )
        if m:
            # record the Presto-dialect definition for
            # information_schema.views / SHOW CREATE VIEW before the
            # translated CREATE TEMPORARY VIEW runs
            self._views[m.group(1).strip('"').split(".")[-1].lower()] = (
                m.group(2).strip()
            )
        m = re.match(
            r"\s*DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?([\w.\"]+)\s*;?\s*$",
            presto_sql, re.I,
        )
        if m:
            self._views.pop(m.group(1).strip('"').split(".")[-1].lower(), None)
        m = re.match(
            r"\s*SHOW\s+CREATE\s+VIEW\s+([\w.\"]+)\s*;?\s*$", presto_sql, re.I
        )
        if m:
            # ShowQueriesRewrite.visitShowCreate — renders the stored
            # Presto-dialect definition, not Spark's translation
            name = m.group(1).strip('"').split(".")[-1].lower()
            if name not in self._views:
                raise ValueError(f"View '{m.group(1)}' does not exist")
            text = f"CREATE VIEW {name} AS\n{self._views[name]}"
            return local_dataframe(
                self.spark, [(text,)], "create_view string"
            )
        members = infoschema.referenced_members(presto_sql)
        if members:
            # the reference populates information_schema from connector
            # metadata at query time (InformationSchemaPageSourceProvider);
            # rebuild the members the statement names from the live
            # catalog — metadata-only, no Spark job
            infoschema.refresh(
                self.spark, privileges=self.grants.rows(),
                view_definitions=self._views, members=members,
            )
        if systemtables.references_system_runtime(presto_sql):
            # system.runtime.{queries,nodes,tasks} — rebuilt from the
            # live registry/SparkContext, then addressed as the
            # system_runtime database (catalog prefixes are names here)
            systemtables.refresh(
                self.spark, self.runtime,
                transactions=self.transactions.rows(),
            )
            presto_sql = systemtables.rewrite_names(presto_sql)
        if systemtables.references_system_jdbc(presto_sql):
            # system.jdbc.* — the JDBC DatabaseMetaData surface
            systemtables.refresh_jdbc(
                self.spark, view_names=set(self._views)
            )
            presto_sql = systemtables.rewrite_jdbc_names(presto_sql)
        if systemtables.references_system_metadata(presto_sql):
            # system.metadata.{catalogs,*_properties}
            systemtables.refresh_metadata(self.spark)
            presto_sql = systemtables.rewrite_metadata_names(presto_sql)
        if connectors.references(presto_sql):
            # memory/blackhole/localfile reads: register the referenced
            # connector tables as temp views just-in-time, rewrite names
            presto_sql = connectors.prepare(self, presto_sql)
        if hive_catalog.references(presto_sql):
            # hive.* reads → session-catalog partitioned tables;
            # "t$partitions" system tables register just-in-time
            presto_sql = hive_catalog.prepare(self, presto_sql)
        spark_sql = translate(presto_sql)
        if "__fps_salt" not in spark_sql:
            return self.spark.sql(spark_sql)
        # the two-phase restructure replaces expression-group-key
        # references TEXTUALLY; a semantically-equal-but-differently-
        # spelled reference leaves an unresolvable column — retry the
        # single-phase translation (always correct, just not the
        # bounded-state plan) before surfacing an error
        from pyspark.errors import AnalysisException

        try:
            return self.spark.sql(spark_sql)
        except AnalysisException:
            fallback = translate(presto_sql, two_phase=False)
            if fallback == spark_sql:
                raise
            return self.spark.sql(fallback)

    # -- metadata statements (ShowQueriesRewrite / Describe*Rewrite) --------

    def _dispatch_metadata(self, presto_sql: str) -> DataFrame | None:
        m = _ALTER_RE.match(presto_sql)
        if m:
            # ALTER TABLE (SqlBase.g4:52-58 → RenameTableTask /
            # RenameColumnTask / DropColumnTask / AddColumnTask)
            from facebook_presto_spark.ddl import alter_table

            table = m.group(1)
            if m.group(2):
                alter_table(self.spark, table, "rename_table", to=m.group(2))
            elif m.group(3):
                alter_table(self.spark, table, "rename_column",
                            column=m.group(3), to=m.group(4))
            elif m.group(5):
                alter_table(self.spark, table, "drop_column", column=m.group(5))
            else:
                # resolve the Presto column type through the normal cast
                # translation (NULL probe → Spark DataType)
                dtype = self.spark.sql(
                    translate(f"SELECT CAST(NULL AS {m.group(7)}) AS x")
                ).schema[0].dataType
                alter_table(self.spark, table, "add_column",
                            column=m.group(6), dtype=dtype)
            return self.spark.sql("SELECT true AS ok WHERE false")
        m = _EXPLAIN_ANALYZE_RE.match(presto_sql)
        if m:
            # EXPLAIN ANALYZE executes the query and reports the plan with
            # runtime metrics (ExplainAnalyzeOperator) — AQE final plan here
            from facebook_presto_spark.ddl import explain_analyze

            text = explain_analyze(self.sql(m.group(1)))
            return local_dataframe(
                self.spark, [(line,) for line in text.splitlines()],
                "query_plan string",
            )
        m = _EXPLAIN_OPTS_RE.match(presto_sql)
        if m:
            # EXPLAIN (TYPE LOGICAL|DISTRIBUTED|IO|VALIDATE, FORMAT TEXT …):
            # VALIDATE just analyzes; IO reports the scan surface
            # (IOPlanPrinter.java shape); other options map to Spark's
            # formatted plan (fragmenting is Catalyst's, so one plan form
            # serves all)
            opts, body = m.group(1).upper(), m.group(2)
            if "VALIDATE" in opts:
                self.sql(body).schema  # analysis errors propagate
                return self.spark.sql("SELECT true AS valid")
            if "IO" in opts.replace("FORMAT", ""):
                return self._explain_io(body)
            return self.spark.sql("EXPLAIN EXTENDED " + translate(body))
        if _SHOW_SESSION_RE.match(presto_sql):
            # SHOW SESSION (ShowQueriesRewrite) — the accepted property
            # surface; Spark-subsumed properties list with empty values
            from facebook_presto_spark.properties import PROPERTIES

            return local_dataframe(
                self.spark, [(name,) for name in sorted(PROPERTIES)],
                "name string",
            )
        if _SHOW_FUNCTIONS_RE.match(presto_sql):
            # SHOW FUNCTIONS (ShowQueriesRewrite → FunctionRegistry listing);
            # implementation column mirrors the registry's fast/slow split
            from facebook_presto_spark.functions.registry import SLOW_PATH, names

            rows = [
                (n, "pandas_udf" if n in SLOW_PATH else "builtin")
                for n in names()
            ]
            return local_dataframe(
                self.spark, rows, "function_name string, implementation string"
            )
        m = _SHOW_STATS_RE.match(presto_sql)
        if m:
            name = m.group(1)
            hm = re.match(r"hive\.(\w+)\.(\w+)$", name, re.I)
            if hm:
                # hive tables: METADATA-ONLY stats (parquet footers +
                # partition directories — HiveMetadata.getTableStatistics
                # parity; the reference never scans for SHOW STATS, and
                # at 100 TB neither should we).  Column-level stats for
                # data columns are NULL, like a metastore without
                # ANALYZE; SHOW STATS FOR (SELECT …) stays the live
                # computed path.
                return self._show_stats_hive_meta(
                    hm.group(1).lower(), hm.group(2).lower()
                )
            return self._show_stats(self.spark.table(name))
        m = _SHOW_STATS_QUERY_RE.match(presto_sql)
        if m:
            # ShowStatsRewrite over a query: statistics of the RESULT
            # relation, computed live from the plan's output
            return self._show_stats(self.sql(m.group(1)))
        m = _SHOW_CREATE_TABLE_RE.match(presto_sql)
        if m:
            return self._show_create_table(m.group(1))
        m = _ALTER_SCHEMA_RE.match(presto_sql)
        if m:
            return self._alter_schema(m.group(1), m.group(2))
        m = _DESCRIBE_IO_RE.match(presto_sql)
        if m:
            kind, name = m.group(1).upper(), m.group(2).lower()
            if name not in self._prepared:
                raise ValueError(f"Prepared statement not found: {name}")
            from facebook_presto_spark.sqlfront.tokens import tokenize

            body = self._prepared[name]
            if kind == "INPUT":
                # parameter positions (DescribeInputRewrite); types are not
                # inferred pre-analysis — 'unknown' like the reference emits
                # for non-deducible parameters
                n_params = sum(
                    1 for t in tokenize(body) if t.kind == "op" and t.text == "?"
                )
                return local_dataframe(
                    self.spark, [(i, "unknown") for i in range(n_params)],
                    "position int, type string",
                )
            # OUTPUT: analyze with NULL-bound parameters (DescribeOutputRewrite)
            bound = self._bind_nulls(body)
            schema = self.spark.sql(translate(bound)).schema
            return local_dataframe(
                self.spark,
                [(f.name, f.dataType.simpleString()) for f in schema],
                "column_name string, type string",
            )
        return None

    def _explain_io(self, body: str) -> DataFrame:
        """EXPLAIN (TYPE IO): the scan surface as one JSON row —
        IOPlanPrinter.java's shape (inputTableColumnInfos → table /
        columnConstraints with Presto type names, outputTable null for
        queries).  Derived from the physical plan's parquet scans, so
        what it reports IS what executes: the read schema after column
        pruning and the filters actually pushed to the reader."""
        import contextlib
        import io as _io
        import json
        import re as _re

        from facebook_presto_spark.infoschema import presto_type_name

        df = self.spark.sql(translate(body))
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        text = buf.getvalue()
        infos = []
        for scan in _re.finditer(
            r"Scan parquet ?(?P<tbl>[\w.]*)\n(?P<body>(?:.+\n)*?)(?:\n|$)", text
        ):
            seg = scan.group("body")
            loc = _re.search(r"Location: \S+ \[[^\]]*?([^/\[\]]+)\.parquet", seg)
            table = scan.group("tbl") or (loc.group(1) if loc else "?")
            filters = _re.search(r"PushedFilters: \[([^\]]*)\]", seg)
            schema = _re.search(r"ReadSchema: struct<([^\n]*)>", seg)
            cols = []
            if schema and schema.group(1):
                for f in schema.group(1).split(","):
                    name, _, dtype = f.partition(":")
                    cols.append({
                        "columnName": name,
                        "typeSignature": presto_type_name(dtype),
                    })
            infos.append({
                "table": {
                    "catalog": "spark",
                    "schemaTable": {"schema": "default",
                                    "table": table.split(".")[-1]},
                },
                "columnConstraints": cols,
                # extension: the reader-pushed predicate list (the
                # reference renders constraints as TupleDomain ranges)
                "pushedFilters": _split_filters(
                    filters.group(1) if filters else ""
                ),
            })
        payload = json.dumps(
            {"inputTableColumnInfos": infos, "outputTable": None}
        )
        return local_dataframe(self.spark, [(payload,)], "query_plan string")

    def _show_stats(self, df: DataFrame) -> DataFrame:
        """SHOW STATS FOR <table> | (query) (SqlBase.g4:82-83,
        MetadataManager table statistics / ShowStatsRewrite): one
        aggregation pass computes per-column data_size / approx distinct
        / nulls fraction / low / high, plus the summary row — the same
        shape the reference returns from connector stats, derived live
        instead of from a metastore."""
        from pyspark.sql import functions as F

        n = F.count(F.lit(1))
        aggs: list = [n.alias("__n")]
        numericish = ("int", "bigint", "smallint", "tinyint", "double",
                      "float", "date", "timestamp", "decimal")
        for f in df.schema.fields:
            c, t = f.name, f.dataType.simpleString()
            aggs.append(F.approx_count_distinct(c).alias(f"__ndv_{c}"))
            aggs.append(
                (F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)) / n).alias(f"__nf_{c}")
            )
            if t == "string":
                aggs.append(F.sum(F.octet_length(c)).alias(f"__sz_{c}"))
            if t.startswith(numericish):
                aggs.append(F.min(c).cast("string").alias(f"__lo_{c}"))
                aggs.append(F.max(c).cast("string").alias(f"__hi_{c}"))
        row = df.agg(*aggs).first()
        out = []
        for f in df.schema.fields:
            c = f.name
            d = row.asDict()
            out.append((
                c,
                float(d[f"__sz_{c}"]) if f"__sz_{c}" in d and d[f"__sz_{c}"] is not None else None,
                float(d[f"__ndv_{c}"]),
                float(d[f"__nf_{c}"]) if d[f"__nf_{c}"] is not None else None,
                None,
                d.get(f"__lo_{c}"),
                d.get(f"__hi_{c}"),
            ))
        out.append((None, None, None, None, float(row["__n"]), None, None))
        return local_dataframe(
            self.spark, out,
            "column_name string, data_size double, distinct_values_count double, "
            "nulls_fraction double, row_count double, low_value string, high_value string",
        )

    def _show_stats_hive_meta(self, schema: str, table: str) -> DataFrame:
        """SHOW STATS FOR hive.s.t from metadata only (round 6): the
        summary row_count comes from parquet footers, partition-column
        stats from the key=value directory names; data columns carry
        NULL stats — the reference's exact shape for a hive table
        without ANALYZE-collected column statistics."""
        from facebook_presto_spark import hive_catalog

        cat = hive_catalog.get_catalog(self.spark)
        total, part_stats = cat.metadata_stats(schema, table)
        df = self.spark.table(cat.qualified(schema, table))
        out = []
        for f in df.schema.fields:
            if f.name in part_stats:
                size, ndv, nf, lo, hi = part_stats[f.name]
                out.append((f.name, size, ndv, nf, None, lo, hi))
            else:
                out.append((f.name, None, None, None, None, None, None))
        out.append((None, None, None, None, float(total), None, None))
        return local_dataframe(
            self.spark, out,
            "column_name string, data_size double, distinct_values_count double, "
            "nulls_fraction double, row_count double, low_value string, high_value string",
        )

    def _show_create_table(self, name: str) -> DataFrame:
        """SHOW CREATE TABLE (ShowQueriesRewrite.visitShowCreate TABLE
        arm): render a Presto-dialect CREATE TABLE from the live schema
        with StandardTypes names — Spark's native command refuses temp
        views, and the reference renders from metadata anyway."""
        from facebook_presto_spark.infoschema import presto_type_name

        m = re.match(r"hive\.(\w+)\.(\w+)$", name.strip(), re.I)
        display = None
        if m:
            # hive catalog tables live in hive_<schema> databases; the
            # rendered statement keeps the PRESTO name so the output
            # re-executes through the hive dispatch verbatim
            name = f"hive_{m.group(1).lower()}.{m.group(2).lower()}"
            display = f"hive.{m.group(1).lower()}.{m.group(2).lower()}"
        bare = name.strip('"').split(".")[-1].lower()
        if bare in self._views:
            raise ValueError(
                f"Relation '{name}' is a view, not a table. "
                f"Use SHOW CREATE VIEW"
            )
        df = self.spark.table(name)
        cols = ",\n".join(
            f'   "{f.name}" {presto_type_name(f.dataType.simpleString())}'
            for f in df.schema.fields
        )
        text = f'CREATE TABLE {display or bare} (\n{cols}\n)'
        # catalog tables render their layout as the reference's WITH
        # table-property clause (HiveTableProperties names), recovered
        # from the session catalog's partition/bucket metadata
        props = []
        if display is not None:
            # hive tables advertise their storage format too
            # (HiveTableProperties) — the re-executable WITH clause
            provider = {
                r["col_name"]: r["data_type"]
                for r in self.spark.sql(
                    f"DESCRIBE TABLE EXTENDED {name}"
                ).collect()
            }.get("Provider", "parquet")
            props.append(f"format = '{provider.upper()}'")
        try:
            columns = list_columns(self.spark, name)
            parts = [c.name for c in columns if c.is_partition]
            buckets = [c.name for c in columns if c.is_bucket]
            if parts:
                quoted = ", ".join(f"'{p}'" for p in parts)
                props.append(f"partitioned_by = ARRAY[{quoted}]")
            if buckets:
                quoted = ", ".join(f"'{b}'" for b in buckets)
                props.append(f"bucketed_by = ARRAY[{quoted}]")
                ext = {
                    r["col_name"]: r["data_type"]
                    for r in self.spark.sql(
                        f"DESCRIBE TABLE EXTENDED {name}"
                    ).collect()
                }
                if ext.get("Num Buckets"):
                    props.append(f"bucket_count = {ext['Num Buckets']}")
        except Exception:  # noqa: BLE001 — temp views carry no layout
            pass
        if props:
            text += "\nWITH (\n   " + ",\n   ".join(props) + "\n)"
        return local_dataframe(
            self.spark, [(text,)], "`Create Table` string"
        )

    def _alter_schema(self, old: str, new: str) -> DataFrame:
        """ALTER SCHEMA … RENAME TO (SqlBase.g4 renameSchema).  Only the
        memory catalog supports live schema rename; Spark's session
        catalog cannot rename a database, so other targets raise the
        reference-style NOT_SUPPORTED error."""
        old_parts, new_parts = old.lower().split("."), new.lower().split(".")
        if old_parts[0] == "memory":
            from facebook_presto_spark import connectors

            mem = connectors.get_catalogs(self.spark).memory
            old_s = old_parts[-1]
            new_s = new_parts[-1]
            if old_s not in mem.schemas:
                raise ValueError(f"Schema [{old_s}] does not exist")
            if new_s in mem.schemas:
                raise ValueError(f"Schema [{new_s}] already exists")
            mem.schemas.discard(old_s)
            mem.schemas.add(new_s)
            renames = [
                (s, t) for (s, t) in mem.tables if s == old_s
            ]
            for s, t in renames:
                mem.rename(s, t, new_s, t)
            return self.spark.sql("SELECT true AS ok WHERE false")
        raise ValueError(
            "This connector does not support renaming schemas "
            "(only the memory catalog supports ALTER SCHEMA RENAME here)"
        )

    def _bind_nulls(self, body: str) -> str:
        from facebook_presto_spark.sqlfront.tokens import Tok, render, tokenize

        out = [
            Tok("ident", "NULL") if (t.kind == "op" and t.text == "?") else t
            for t in tokenize(body)
        ]
        return render(out)

    # -- prepared statements (QueryPreparer.java:55-85) ---------------------

    def _dispatch_prepared(self, presto_sql: str) -> DataFrame | None:
        m = _PREPARE_RE.match(presto_sql)
        if m:
            self._prepared[m.group(1).lower()] = m.group(2)
            return self.spark.sql("SELECT true AS ok WHERE false")
        m = _DEALLOCATE_RE.match(presto_sql)
        if m:
            self._prepared.pop(m.group(1).lower(), None)
            return self.spark.sql("SELECT true AS ok WHERE false")
        m = _EXECUTE_RE.match(presto_sql)
        if m:
            return self.sql(self._bind(m.group(1).lower(), m.group(2)))
        return None

    def _bind(self, name: str, using: str | None) -> str:
        """Substitute `?` parameters with the USING expressions, positional
        like the reference's ParameterRewriter."""
        from facebook_presto_spark.sqlfront.tokens import render, tokenize

        if name not in self._prepared:
            raise ValueError(f"Prepared statement not found: {name}")
        body = tokenize(self._prepared[name])
        params: list[list] = []
        if using:
            depth, current = 0, []
            for t in tokenize(using):
                if t.kind == "op" and t.text in "([":
                    depth += 1
                elif t.kind == "op" and t.text in ")]":
                    depth -= 1
                if t.kind == "op" and t.text == "," and depth == 0:
                    params.append(current)
                    current = []
                else:
                    current.append(t)
            params.append(current)
        out, i = [], 0
        for t in body:
            if t.kind == "op" and t.text == "?":
                if i >= len(params):
                    raise ValueError(
                        f"Incorrect number of parameters: statement needs more "
                        f"than the {len(params)} supplied"
                    )
                out.extend(params[i])
                i += 1
            else:
                out.append(t)
        if i != len(params):
            raise ValueError(
                f"Incorrect number of parameters: expected {i} but found {len(params)}"
            )
        return render(out)

    def explain(self, presto_sql: str) -> str:
        """Formatted physical plan for a Presto-dialect query."""
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self.sql(presto_sql).explain("formatted")
        return buf.getvalue()
