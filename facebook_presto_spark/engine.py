"""PrestoSparkEngine — the user-facing entry point.

The reference's query lifecycle (SURVEY.md §3.1) is:

    POST /v1/statement → parse (SqlParser.java:45) → analyze
    (StatementAnalyzer.java:216) → plan (LogicalPlanner.java:150) →
    optimize → fragment → schedule → execute.

DDL and session statements leave that pipeline right after parsing: the
reference routes them by AST class to their ``*Task``
(``DataDefinitionExecution``).  On Spark all stages after parsing belong
to Catalyst/AQE, so ``engine.sql`` runs every statement through three
steps:

1. **classify** — ``statements.classify`` reads the statement's head and
   names its kind (``set_session``, ``create_table_as``, ``query`` …), its
   target ``catalog.schema.table`` and the spans of its parts;
2. **handler** — one lookup in ``_HANDLERS`` (kind → handler, routed by
   the target's catalog for hive/memory/blackhole/tpch/jmx/example)
   runs session, transaction, DDL and metadata statements and returns a
   small driver-built result;
3. **scan → resolve → translate** — for queries and every statement the
   table does not claim, ``statements.references`` scans the text once
   for catalog references (connector, hive, ``system``,
   ``information_schema`` tables and ``current_path``); one pass over
   ``_RESOLVERS`` (catalog → resolver) hands each catalog's references to
   its resolver, which registers what the read needs and returns the
   Spark name; the names are spliced in, and the text is translated to
   Spark SQL (sqlfront/) and handed to ``spark.sql``.

The parquet tables under a directory register as views (catalog.py).

Usage::

    from facebook_presto_spark.engine import PrestoSparkEngine
    eng = PrestoSparkEngine.for_dir("/root/testdata/sf0.01")
    df = eng.sql("SELECT strpos(name, 'a') FROM nation WHERE n_nationkey < 5")
"""

from __future__ import annotations

import copy
import re

from pyspark.sql import DataFrame, SparkSession

from facebook_presto_spark import (
    access,
    connectors,
    hive_catalog,
    infoschema,
    procedures,
    systemtables,
    transactions,
)
from facebook_presto_spark.catalog import (
    DEFAULT_SF_DIR,
    list_columns,
    register_views,
)
from facebook_presto_spark.properties import (
    PROPERTIES,
    reset_session_property,
    set_session_property,
)
from facebook_presto_spark.session import get_spark, local_dataframe
from facebook_presto_spark.sqlfront import translate
from facebook_presto_spark.statements import Statement, classify, references


# SHOW STATS columns (ShowStatsRewrite)
_STATS_DDL = (
    "column_name string, data_size double, distinct_values_count double, "
    "nulls_fraction double, row_count double, low_value string, "
    "high_value string"
)


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
        # the session): direct callers and the CLI keep theirs across
        # calls, and a protocol request has its own (``for_request``)
        self._prepared: dict[str, str] = {}
        # table-privilege registry (GrantTask.java / SHOW GRANTS — see
        # access.py), shared by every request's view like the rest below
        from facebook_presto_spark.access import GrantRegistry

        self.grants = GrantRegistry()
        # query tracking for system.runtime.queries / kill_query
        # (QueryManager parity — systemtables.py)
        self.runtime = systemtables.RuntimeQueryRegistry()
        # view definitions in Presto dialect, for
        # information_schema.views + SHOW CREATE VIEW (the reference
        # persists ViewDefinition JSON in the metastore —
        # MetadataManager.getViews; session-scoped here, like the views)
        self._views: dict[str, str] = {}
        # transaction contexts (StartTransactionTask/CommitTask/
        # RollbackTask — transactions.py)
        from facebook_presto_spark.transactions import TransactionManager

        self.transactions = TransactionManager()
        # the session's current transaction id and SQL path
        # (SetPathTask / X-Presto-Path), kept like the prepared statements
        self.transaction: str | None = None
        self.path = ""
        self._ok: DataFrame | None = None

    def for_request(self, transaction: str | None, path: str,
                    prepared: dict[str, str]) -> "PrestoSparkEngine":
        """A view of this engine for one protocol request, like the
        reference's Session rebuilt from the request's headers: its own
        transaction id, path and prepared statements, and everything
        else (Spark session, registries, views, the ``ok`` result)
        shared with the engine."""
        self.ok()  # built once, so every view shares it
        view = copy.copy(self)
        view.transaction, view.path, view._prepared = transaction, path, prepared
        return view

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

    def ok(self) -> DataFrame:
        """The empty ``ok boolean`` result of a statement that returns no
        rows.  Built once per engine as a local relation, so serving it
        launches no Spark job."""
        if self._ok is None:
            self._ok = local_dataframe(self.spark, [], "ok boolean")
        return self._ok

    def row_count(self, n: int) -> DataFrame:
        """The result of a write (CTAS, INSERT, DELETE): one ``rows
        bigint`` cell holding ``n``, the shape ``server._results`` reads
        ``updateCount`` from.  A local relation, so reading the count
        launches no Spark job."""
        return local_dataframe(self.spark, [(n,)], "rows bigint")

    def sql(self, presto_sql: str,
            entry: systemtables.QueryEntry | None = None) -> DataFrame:
        """Run Presto-dialect SQL; returns a lazy DataFrame.

        Session, transaction, DDL and metadata statements run their
        handler (see ``_sql_inner``) and return a small driver-built
        result, like the reference's coordinator does.  Everything else
        is translated and planned by Catalyst — which performs the
        reference's whole optimizer sequence (PlanOptimizers.java:221-502):
        pushdown, pruning, join selection — lazily, until an action runs.

        Every statement is one entry in ``self.runtime`` (the QueryManager
        surface behind ``system.runtime.queries`` / ``kill_query``).
        Without ``entry`` the call registers the statement and finishes or
        fails it, and raises the entry's message if ``kill_query`` ended
        it while it planned; the protocol server passes the entry it registered and
        keeps it running while the result pages out.  Handlers that run a
        nested statement call ``_sql_inner``, which registers nothing.
        """
        if entry is not None:
            return self._sql_inner(presto_sql)
        entry = self.runtime.register(presto_sql)
        try:
            df = self._sql_inner(presto_sql)
        except Exception as e:
            entry.fail(str(e))
            raise
        entry.finish()
        # kill_query may have ended it while it planned
        if entry.state == "FAILED":
            raise RuntimeError(entry.error)
        return df

    def _sql_inner(self, presto_sql: str) -> DataFrame:
        # classify once from the statement's head (statements.py), the
        # way the reference routes by AST class
        stmt = classify(presto_sql)
        # inside an explicit transaction: the READ ONLY write check and
        # the undo-log staging that lets ROLLBACK revert the statement
        transactions.guard(self, stmt)
        # one lookup in the handler table; a handler returns None for a
        # form of its kind it does not serve
        handler = handler_for(stmt)
        if handler is not None:
            df = handler(self, stmt)
            if df is not None:
                return df
        # queries and every unclaimed statement: translate and plan
        return self._run_translated(presto_sql)

    def _run_translated(self, presto_sql: str) -> DataFrame:
        """The translate path: scan the statement's catalog references,
        resolve them through their catalogs' resolvers, translate to
        Spark SQL and plan it (``_to_spark``)."""
        # optional grant enforcement (SET SESSION enforce_access_control
        # = true — access.enforce; default off, single-user behavior)
        access.enforce(self, presto_sql)
        spark_sql = self._to_spark(presto_sql)
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
            fallback = self._to_spark(presto_sql, two_phase=False)
            if fallback == spark_sql:
                raise
            return self.spark.sql(fallback)

    def _to_spark(self, presto_sql: str, two_phase: bool = True) -> str:
        """Presto text → the Spark SQL that runs: every catalog reference
        (``statements.references``, one scan) goes to its catalog's
        resolver in ``_RESOLVERS`` — each resolver once, with all of its
        catalog's references — and the resolved names are spliced in
        from the end of the text before ``translate``."""
        refs = references(presto_sql)
        resolved = []
        for resolver in dict.fromkeys(_RESOLVERS.values()):
            batch = [ref for ref in refs if _RESOLVERS[ref.catalog] is resolver]
            if batch:
                resolved += zip(batch, resolver(self, batch))
        pieces, end = [], len(presto_sql)
        for ref, text in sorted(resolved, key=lambda r: r[0].span, reverse=True):
            pieces += [presto_sql[ref.span[1]:end], text]
            end = ref.span[0]
        pieces.append(presto_sql[:end])
        return translate("".join(reversed(pieces)), two_phase=two_phase)

    def _resolve_current_path(self, refs) -> list[str]:
        # current_path (FunctionRegistry session function): the
        # session's raw path string, fixed at translation time
        return ["'" + self.path.replace("'", "''") + "'"] * len(refs)

    # -- session statements (SetSessionTask / ResetSessionTask / UseTask /
    # SetPathTask) ----------------------------------------------------------

    def _set_session(self, stmt: Statement) -> DataFrame:
        set_session_property(self.spark, ".".join(stmt.name), stmt.body)
        return self.ok()

    def _reset_session(self, stmt: Statement) -> DataFrame:
        reset_session_property(self.spark, ".".join(stmt.name))
        return self.ok()

    def _use(self, stmt: Statement) -> DataFrame:
        # USE [catalog.]schema (SqlBase.g4:35-36) — the schema maps to a
        # Spark database (see catalog.register_schema); catalog is a
        # name prefix only
        self.spark.catalog.setCurrentDatabase(stmt.name[-1])
        return self.ok()

    def _set_path(self, stmt: Statement) -> DataFrame:
        # SET PATH (SqlBase.g4 setPath → SetPathTask.java): a comma list
        # of [catalog.]schema elements, kept as session state (the
        # protocol server round-trips it via X-Presto-Path /
        # X-Presto-Set-Path).
        # Function resolution here is a single flat registry, so the
        # path's only observable effect is current_path — same as a
        # reference deployment with no session functions installed.
        spec = stmt.body
        elem = r'(?:"[^"]+"|\w+)(?:\s*\.\s*(?:"[^"]+"|\w+))?'
        if not re.fullmatch(rf"{elem}(?:\s*,\s*{elem})*", spec):
            raise ValueError(f"mismatched input '{spec}' expecting path")
        self.path = spec
        return self.ok()

    # -- catalog DDL (the hive and connector catalog objects share these
    # schema/table methods) -----------------------------------------------

    def _catalog(self, stmt: Statement):
        if stmt.catalog == "hive":
            return hive_catalog.get_catalog(self.spark)
        return getattr(connectors.get_catalogs(self.spark), stmt.catalog)

    def _create_schema(self, stmt: Statement) -> DataFrame:
        self._catalog(stmt).create_schema(
            stmt.schema, "if_not_exists" in stmt.flags)
        return self.ok()

    def _drop_schema(self, stmt: Statement) -> DataFrame:
        self._catalog(stmt).drop_schema(stmt.schema, "if_exists" in stmt.flags)
        return self.ok()

    def _drop_table(self, stmt: Statement) -> DataFrame:
        self._catalog(stmt).drop(
            stmt.schema, stmt.table, "if_exists" in stmt.flags)
        return self.ok()

    def _rename_table(self, stmt: Statement) -> DataFrame:
        self._catalog(stmt).rename(stmt.schema, stmt.table, *stmt.new_table)
        return self.ok()

    def _show_schemas(self, stmt: Statement) -> DataFrame | None:
        if stmt.schema is not None:
            return None
        names = self._catalog(stmt).list_schemas()
        return local_dataframe(
            self.spark, [(n,) for n in names], "`Schema` string")

    def _show_tables(self, stmt: Statement) -> DataFrame:
        names = self._catalog(stmt).list_tables(stmt.schema)
        return local_dataframe(
            self.spark, [(n,) for n in names], "`Table` string")

    # -- metadata statements (ShowQueriesRewrite / Describe*Rewrite) --------

    def _alter_table(self, stmt: Statement) -> DataFrame:
        """ALTER TABLE on a session-catalog table (SqlBase.g4:52-58 →
        RenameTableTask / RenameColumnTask / DropColumnTask /
        AddColumnTask)."""
        from facebook_presto_spark.ddl import alter_table

        table = ".".join(stmt.name)
        if stmt.kind == "rename_table":
            alter_table(self.spark, table, "rename_table", to=".".join(stmt.args))
        elif stmt.kind == "rename_column":
            alter_table(self.spark, table, "rename_column",
                        column=stmt.args[0], to=stmt.args[1])
        elif stmt.kind == "drop_column":
            alter_table(self.spark, table, "drop_column", column=stmt.args[0])
        else:
            # resolve the Presto column type through the normal cast
            # translation (NULL probe → Spark DataType)
            dtype = self.spark.sql(
                self._to_spark(f"SELECT CAST(NULL AS {stmt.body}) AS x")
            ).schema[0].dataType
            alter_table(self.spark, table, "add_column",
                        column=stmt.args[0], dtype=dtype)
        return self.ok()

    def _explain_analyze(self, stmt: Statement) -> DataFrame:
        # EXPLAIN ANALYZE executes the query and reports the plan with
        # runtime metrics (ExplainAnalyzeOperator) — AQE final plan here
        from facebook_presto_spark.ddl import explain_analyze

        text = explain_analyze(self._sql_inner(stmt.body))
        return local_dataframe(
            self.spark, [(line,) for line in text.splitlines()],
            "query_plan string",
        )

    def _explain_options(self, stmt: Statement) -> DataFrame:
        # EXPLAIN (TYPE LOGICAL|DISTRIBUTED|IO|VALIDATE, FORMAT TEXT …):
        # VALIDATE just analyzes; IO reports the scan surface
        # (IOPlanPrinter.java shape); other options map to Spark's
        # formatted plan (fragmenting is Catalyst's, so one plan form
        # serves all)
        opts, body = stmt.props.upper(), stmt.body
        if "VALIDATE" in opts:
            self._sql_inner(body).schema  # analysis errors propagate
            return local_dataframe(self.spark, [(True,)], "valid boolean")
        if "IO" in opts.replace("FORMAT", ""):
            return self._explain_io(body)
        return self.spark.sql("EXPLAIN EXTENDED " + self._to_spark(body))

    def _show_session(self, stmt: Statement) -> DataFrame:
        # SHOW SESSION (ShowQueriesRewrite) — the accepted property
        # surface; Spark-subsumed properties list with empty values
        return local_dataframe(
            self.spark, [(name,) for name in sorted(PROPERTIES)],
            "name string",
        )

    def _show_functions(self, stmt: Statement) -> DataFrame:
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

    def _show_stats(self, stmt: Statement) -> DataFrame:
        if stmt.body is not None:
            # ShowStatsRewrite over a query: statistics of the RESULT
            # relation, computed live from the plan's output
            return self._stats_of(self._sql_inner(stmt.body))
        return self._stats_of(self.spark.table(".".join(stmt.name)))

    def _show_create_view(self, stmt: Statement) -> DataFrame:
        # ShowQueriesRewrite.visitShowCreate — renders the stored
        # Presto-dialect definition, not Spark's translation
        name = stmt.table
        if name not in self._views:
            raise ValueError(f"View '{'.'.join(stmt.name)}' does not exist")
        text = f"CREATE VIEW {name} AS\n{self._views[name]}"
        return local_dataframe(self.spark, [(text,)], "create_view string")

    def _create_view(self, stmt: Statement) -> DataFrame:
        # the translated CREATE TEMPORARY VIEW runs; the Presto-dialect
        # definition is kept for information_schema.views and SHOW
        # CREATE VIEW
        df = self._run_translated(stmt.sql)
        self._views[stmt.table] = stmt.body
        return df

    def _drop_view(self, stmt: Statement) -> DataFrame:
        df = self._run_translated(stmt.sql)
        self._views.pop(stmt.table, None)
        return df

    def _describe_input(self, stmt: Statement) -> DataFrame:
        # parameter positions (DescribeInputRewrite); types are not
        # inferred pre-analysis — 'unknown' like the reference emits for
        # non-deducible parameters
        from facebook_presto_spark.sqlfront.tokens import tokenize

        body = self._prepared_body(stmt.name[0])
        n_params = sum(
            1 for t in tokenize(body) if t.kind == "op" and t.text == "?"
        )
        return local_dataframe(
            self.spark, [(i, "unknown") for i in range(n_params)],
            "position int, type string",
        )

    def _describe_output(self, stmt: Statement) -> DataFrame:
        # analyze with NULL-bound parameters (DescribeOutputRewrite)
        bound = self._bind_nulls(self._prepared_body(stmt.name[0]))
        schema = self.spark.sql(self._to_spark(bound)).schema
        return local_dataframe(
            self.spark,
            [(f.name, f.dataType.simpleString()) for f in schema],
            "column_name string, type string",
        )

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

        df = self.spark.sql(self._to_spark(body))
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

    def _stats_of(self, df: DataFrame) -> DataFrame:
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
        return local_dataframe(self.spark, out, _STATS_DDL)

    def _show_stats_hive(self, stmt: Statement) -> DataFrame:
        """SHOW STATS FOR hive.s.t from metadata only (round 6): the
        summary row_count comes from parquet footers, partition-column
        stats from the key=value directory names; data columns carry
        NULL stats — the reference's exact shape for a hive table
        without ANALYZE-collected column statistics.  The reference never
        scans for SHOW STATS, and at 100 TB neither should we; SHOW STATS
        FOR (SELECT …) stays the live computed path."""
        cat = hive_catalog.get_catalog(self.spark)
        total, part_stats = cat.metadata_stats(stmt.schema, stmt.table)
        df = self.spark.table(cat.qualified(stmt.schema, stmt.table))
        out = []
        for f in df.schema.fields:
            if f.name in part_stats:
                size, ndv, nf, lo, hi = part_stats[f.name]
                out.append((f.name, size, ndv, nf, None, lo, hi))
            else:
                out.append((f.name, None, None, None, None, None, None))
        out.append((None, None, None, None, float(total), None, None))
        return local_dataframe(self.spark, out, _STATS_DDL)

    def _show_create_table(self, stmt: Statement) -> DataFrame:
        """SHOW CREATE TABLE (ShowQueriesRewrite.visitShowCreate TABLE
        arm): render a Presto-dialect CREATE TABLE from the live schema
        with StandardTypes names — Spark's native command refuses temp
        views, and the reference renders from metadata anyway."""
        from facebook_presto_spark.infoschema import presto_type_name

        name, display, bare = ".".join(stmt.name), None, stmt.table
        if stmt.catalog == "hive":
            # hive catalog tables live in hive_<schema> databases; the
            # rendered statement keeps the PRESTO name so the output
            # re-executes through the hive handlers verbatim
            name = f"hive_{stmt.schema}.{bare}"
            display = f"hive.{stmt.schema}.{bare}"
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

    def _rename_schema(self, stmt: Statement) -> DataFrame:
        """ALTER SCHEMA … RENAME TO (SqlBase.g4 renameSchema).  Only the
        memory catalog supports live schema rename
        (``connectors.rename_schema``); Spark's session catalog cannot
        rename a database, so other targets raise the reference-style
        NOT_SUPPORTED error."""
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

    def _prepare(self, stmt: Statement) -> DataFrame:
        self._prepared[stmt.name[0].lower()] = stmt.body
        return self.ok()

    def _deallocate(self, stmt: Statement) -> DataFrame:
        self._prepared.pop(stmt.name[0].lower(), None)
        return self.ok()

    def _execute(self, stmt: Statement) -> DataFrame:
        return self._sql_inner(self._bind(stmt.name[0], stmt.body))

    def _prepared_body(self, name: str) -> str:
        name = name.lower()
        if name not in self._prepared:
            raise ValueError(f"Prepared statement not found: {name}")
        return self._prepared[name]

    def _bind(self, name: str, using: str | None) -> str:
        """Substitute `?` parameters with the USING expressions, positional
        like the reference's ParameterRewriter."""
        from facebook_presto_spark.sqlfront.tokens import (
            render,
            split_top_level,
            tokenize,
        )

        body = tokenize(self._prepared_body(name))
        params = split_top_level(tokenize(using)) if using else []
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


# The handler table: statement kind → handler(engine, stmt), or a
# {catalog: handler} map for kinds routed by the target's catalog (the
# None entry serves every other catalog).  Kinds not listed — queries
# among them — take the translate path.
_E = PrestoSparkEngine
_HIVE_MEMORY = ("hive", "memory")
_CONNECTOR_WRITES = ("memory", "blackhole")
_HANDLERS = {
    "set_session": _E._set_session,
    "reset_session": _E._reset_session,
    "use": _E._use,
    "set_path": _E._set_path,
    "start_transaction": transactions.start,
    "commit": transactions.commit,
    "rollback": transactions.rollback,
    "prepare": _E._prepare,
    "execute": _E._execute,
    "deallocate": _E._deallocate,
    "describe_input": _E._describe_input,
    "describe_output": _E._describe_output,
    "grant": access.grant,
    "revoke": access.revoke,
    "show_grants": access.show_grants,
    "call": procedures.call,
    "explain_analyze": _E._explain_analyze,
    "explain_options": _E._explain_options,
    "show_session": _E._show_session,
    "show_functions": _E._show_functions,
    "show_catalogs": connectors.show_catalogs,
    "show_create_table": _E._show_create_table,
    "show_create_view": _E._show_create_view,
    "create_view": _E._create_view,
    "drop_view": _E._drop_view,
    "show_stats": {"hive": _E._show_stats_hive, None: _E._show_stats},
    "show_schemas": {**dict.fromkeys(("hive", "tpch"), _E._show_schemas),
                     None: infoschema.show_schemas},
    "show_tables": {**dict.fromkeys(("hive", "memory", "example"), _E._show_tables),
                    **dict.fromkeys(("jmx", "tpch"), connectors.show_tables),
                    "information_schema": infoschema.show_tables,
                    None: infoschema.show_session_tables},
    "create_schema": dict.fromkeys(_HIVE_MEMORY, _E._create_schema),
    "drop_schema": dict.fromkeys(_HIVE_MEMORY, _E._drop_schema),
    "rename_schema": {"memory": connectors.rename_schema, None: _E._rename_schema},
    "create_table": {"hive": hive_catalog.create_table,
                     **dict.fromkeys(_CONNECTOR_WRITES, connectors.create_table)},
    "create_table_as": {"hive": hive_catalog.create_table_as,
                        **dict.fromkeys(_CONNECTOR_WRITES, connectors.create_table_as)},
    "insert": {"hive": hive_catalog.insert,
               **dict.fromkeys(_CONNECTOR_WRITES, connectors.insert)},
    "delete": {"hive": hive_catalog.delete},
    "drop_table": dict.fromkeys(("hive",) + _CONNECTOR_WRITES, _E._drop_table),
    "rename_table": {**dict.fromkeys(_HIVE_MEMORY, _E._rename_table),
                     None: _E._alter_table},
    "add_column": {"hive": hive_catalog.alter_column, None: _E._alter_table},
    "rename_column": {"hive": hive_catalog.alter_column, None: _E._alter_table},
    "drop_column": {"hive": hive_catalog.alter_column, None: _E._alter_table},
}


# The resolver table: catalog → resolver(engine, refs), which returns the
# Spark text of each of that catalog's references in the statement
# (statements.references finds them).  A resolver serving several
# catalogs gets all of their references in one call; resolvers run in
# table order.
_RESOLVERS = {
    "current_path": _E._resolve_current_path,
    "information_schema": infoschema.resolve,
    "system": systemtables.resolve,
    **dict.fromkeys(("memory", "blackhole", "localfile", "example", "tpch", "jmx"),
                    connectors.resolve),
    "hive": hive_catalog.resolve,
}


def handler_for(stmt: Statement):
    """The handler ``_HANDLERS`` names for ``stmt``; None sends the
    statement down the translate path."""
    handler = _HANDLERS.get(stmt.kind)
    if isinstance(handler, dict):  # routed by the target's catalog
        handler = handler.get(stmt.catalog, handler.get(None))
    return handler
