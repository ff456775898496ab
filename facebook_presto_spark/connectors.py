"""Connector catalogs: memory, blackhole, localfile.

Reference surface (all semantics re-derived, none of the Java ported):

- presto-memory — ``MemoryMetadata.java:75`` (schema DDL with
  ALREADY_EXISTS / NOT_FOUND / SCHEMA_NOT_EMPTY errors, ``default``
  pre-created, rename), ``MemoryPagesStore.java:70`` (per-node byte cap,
  "Memory limit [N] for memory connector exceeded"),
  ``MemoryConfig.java:24`` (default 128 MB).
- presto-blackhole — ``BlackHoleConnector.java:44-49`` (table properties
  split_count / pages_per_split / rows_per_page / field_length /
  page_processing_delay, defaults 0/0/0/16/0s),
  ``BlackHolePageSourceProvider.java:85-140`` (reads generate all-zero
  pages: false booleans, 0 numerics, ``'*'``-filled varchars truncated to
  min(type length, field_length)), ``BlackHolePageSink`` (writes are
  counted and discarded).
- presto-local-file — ``LocalFileTables.java:115-127``
  (``logs.http_request_log``, 12 fixed columns),
  ``LocalFileRecordCursor.java:68`` (tab-separated lines, ISO-instant
  timestamps), ``LocalFileMetadata.java:49`` (single ``logs`` schema).

Spark mapping: every connector table surfaces as a session temp view
under a mangled name (``memory.default.t`` → ``memory_default_t``):
``resolve`` registers the view a read needs just-in-time and names it in
place of the three-part reference that ``statements.references`` found,
and the normal translate path plans the query.  Memory tables are
``cacheTable``-pinned DataFrames — the byte accounting reads the cached
relation's plan statistics, the same figure MemoryPagesStore tracks per
node.  Blackhole reads are generated ``spark.range`` plans with
``split_count`` input partitions, so parallelism mirrors the reference's
split fan-out and the constant columns stay inside whole-stage codegen.  Local-file reads are
native ``spark.read.csv`` scans (header-less TSV), which keeps column
pruning and predicate pushdown on the text source.

Scale: memory tables are bounded by the explicit byte cap (the
reference's contract — this is a broadcast-sized working set, not a data
lake); blackhole generation is embarrassingly parallel (range splits, no
shuffle); local-file scans split per file exactly like the reference's
one-split-per-DataLocation file listing.
"""

from __future__ import annotations

import re
import threading
import time
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from facebook_presto_spark.session import local_dataframe
from facebook_presto_spark.sqlfront.tokens import split_text
from facebook_presto_spark.statements import column_names, split_with_data

MEMORY_MAX_BYTES_DEFAULT = 128 << 20  # MemoryConfig.java:24


# ---------------------------------------------------------------------------
# presto type → (spark type, varchar length) for column definitions
# ---------------------------------------------------------------------------

_SIMPLE_TYPES = {
    "bigint": "bigint", "integer": "int", "int": "int",
    "smallint": "smallint", "tinyint": "tinyint", "double": "double",
    "real": "float", "boolean": "boolean", "date": "date",
    "timestamp": "timestamp", "varbinary": "binary", "json": "string",
}


def _parse_presto_type(text: str) -> tuple[str, str, int | None]:
    """``varchar(5)`` → (presto base, spark type, length)."""
    t = text.strip().lower()
    m = re.match(r"(varchar|char)\s*\(\s*(\d+)\s*\)$", t)
    if m:
        return m.group(1), "string", int(m.group(2))
    if t in ("varchar", "char"):
        return t, "string", None
    m = re.match(r"decimal\s*\(\s*\d+\s*,\s*\d+\s*\)$", t)
    if m:
        return "decimal", t, None
    if t in _SIMPLE_TYPES:
        return t, _SIMPLE_TYPES[t], None
    raise ValueError(f"unsupported column type for connector table: {text}")


def _parse_duration_s(text: str) -> float:
    """airlift Duration strings: '0s', '100ms', '2m' …"""
    m = re.match(r"\s*([\d.]+)\s*(ns|us|ms|s|m|h|d)\s*$", text)
    if not m:
        raise ValueError(f"invalid duration: {text!r}")
    mult = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0,
            "m": 60.0, "h": 3600.0, "d": 86400.0}[m.group(2)]
    return float(m.group(1)) * mult


# ---------------------------------------------------------------------------
# memory connector
# ---------------------------------------------------------------------------


class MemoryCatalog:
    """In-memory tables: CTAS/INSERT pin a cached DataFrame per table.

    MemoryMetadata.java behaviors mirrored: ``default`` schema exists up
    front; CREATE into a missing schema / duplicate table / dropping a
    non-empty schema raise with the reference's messages; the byte cap is
    enforced on every write (MemoryPagesStore.java:70).
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.schemas: set[str] = {"default"}
        self.tables: dict[tuple[str, str], str] = {}  # (schema, tbl) → view
        self.max_bytes = MEMORY_MAX_BYTES_DEFAULT

    @staticmethod
    def view_name(schema: str, table: str) -> str:
        return f"memory_{schema}_{table}"

    def _check_schema(self, schema: str) -> None:
        if schema not in self.schemas:
            raise ValueError(f"Schema {schema} not found")

    def create_schema(self, schema: str, if_not_exists: bool) -> None:
        if schema in self.schemas:
            if if_not_exists:
                return
            raise ValueError(f"Schema [{schema}] already exists")
        self.schemas.add(schema)

    def drop_schema(self, schema: str, if_exists: bool) -> None:
        if schema not in self.schemas:
            if if_exists:
                return
            raise ValueError(f"Schema [{schema}] does not exist")
        if any(s == schema for s, _t in self.tables):
            raise ValueError(f"Schema not empty: {schema}")
        self.schemas.discard(schema)

    def _pin(self, view: str, df: DataFrame) -> int:
        df.createOrReplaceTempView(view)
        self.spark.catalog.cacheTable(view)
        n = self.spark.table(view).count()  # materialize the cache
        return n

    def bytes_used(self) -> int:
        total = 0
        for view in self.tables.values():
            stats = (
                self.spark.table(view)._jdf.queryExecution()
                .optimizedPlan().stats()
            )
            total += int(str(stats.sizeInBytes()))
        return total

    def _enforce_limit(self, rollback_view: str,
                       prev_df: DataFrame | None) -> None:
        if self.bytes_used() <= self.max_bytes:
            return
        # roll the offending write back before raising, as the sink does
        self.spark.catalog.uncacheTable(rollback_view)
        if prev_df is not None:
            self._pin(rollback_view, prev_df)
        else:
            key = next(k for k, v in self.tables.items() if v == rollback_view)
            del self.tables[key]
            self.spark.catalog.dropTempView(rollback_view)
        raise ValueError(
            f"Memory limit [{self.max_bytes}] for memory connector exceeded"
        )

    def create(self, schema: str, table: str, df: DataFrame,
               if_not_exists: bool) -> int:
        self._check_schema(schema)
        if (schema, table) in self.tables:
            if if_not_exists:
                return 0
            raise ValueError(f"Table [{schema}.{table}] already exists")
        view = self.view_name(schema, table)
        self.tables[(schema, table)] = view
        n = self._pin(view, df)
        self._enforce_limit(view, prev_df=None)
        return n

    def insert(self, schema: str, table: str, df: DataFrame) -> int:
        if (schema, table) not in self.tables:
            raise ValueError(f"Table memory.{schema}.{table} does not exist")
        view = self.tables[(schema, table)]
        prev = self.spark.table(view)
        # align by position with a name check, as InsertTableHandle does
        if len(df.columns) != len(prev.columns):
            raise ValueError(
                f"INSERT has {len(df.columns)} columns; table "
                f"{schema}.{table} has {len(prev.columns)}"
            )
        aligned = df.toDF(*prev.columns)
        # materialize the previous cache into the union so re-caching the
        # view does not re-run the original (possibly dropped) sources
        merged = prev.unionByName(aligned)
        n = aligned.count()
        self.spark.catalog.uncacheTable(view)
        self._pin(view, merged)
        self._enforce_limit(view, prev_df=prev)
        return n

    def drop(self, schema: str, table: str, if_exists: bool) -> None:
        if (schema, table) not in self.tables:
            if if_exists:
                return
            raise ValueError(f"Table memory.{schema}.{table} does not exist")
        view = self.tables.pop((schema, table))
        self.spark.catalog.uncacheTable(view)
        self.spark.catalog.dropTempView(view)

    def rename(self, schema: str, table: str,
               new_schema: str, new_table: str) -> None:
        if (schema, table) not in self.tables:
            raise ValueError(f"Table memory.{schema}.{table} does not exist")
        self._check_schema(new_schema)
        if (new_schema, new_table) in self.tables:
            raise ValueError(
                f"Table [{new_schema}.{new_table}] already exists"
            )
        view = self.tables.pop((schema, table))
        # Spark caches are plan-keyed, so re-caching the same plan under
        # the new name would be a no-op that dies with the old view's
        # uncache.  localCheckpoint (fed from the old cache, so the
        # original source plans never re-run) gives the new pin its own
        # plan identity; the renamed table stays cache-backed and
        # bytes_used() keeps reading cached-relation stats.
        df = self.spark.table(view).localCheckpoint(eager=True)
        new_view = self.view_name(new_schema, new_table)
        self.tables[(new_schema, new_table)] = new_view
        self._pin(new_view, df)
        self.spark.catalog.uncacheTable(view)
        self.spark.catalog.dropTempView(view)

    def list_tables(self, schema: str | None) -> list[str]:
        return sorted(
            t for s, t in self.tables if schema is None or s == schema
        )


# ---------------------------------------------------------------------------
# blackhole connector
# ---------------------------------------------------------------------------


class BlackHoleCatalog:
    """Property-driven synthetic reads; counted-and-discarded writes."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        # (schema, table) → (columns [(name, presto base, spark, len)], props)
        self.tables: dict[tuple[str, str], tuple[list, dict]] = {}

    _PROP_DEFAULTS = {  # BlackHoleConnector.java:118-157
        "split_count": 0, "pages_per_split": 0, "rows_per_page": 0,
        "field_length": 16, "page_processing_delay": "0s",
    }

    def create(self, schema: str, table: str, columns: list,
               props: dict, if_not_exists: bool) -> None:
        if (schema, table) in self.tables:
            if if_not_exists:
                return
            raise ValueError(f"Table [{schema}.{table}] already exists")
        merged = dict(self._PROP_DEFAULTS)
        for k, v in props.items():
            if k not in merged:
                raise ValueError(f"unsupported blackhole table property: {k}")
            merged[k] = v
        _parse_duration_s(str(merged["page_processing_delay"]))  # validate
        self.tables[(schema, table)] = (columns, merged)

    def drop(self, schema: str, table: str, if_exists: bool) -> None:
        if (schema, table) not in self.tables and not if_exists:
            raise ValueError(
                f"Table blackhole.{schema}.{table} does not exist"
            )
        self.tables.pop((schema, table), None)

    def _zero_column(self, base: str, spark_type: str,
                     length: int | None, field_length: int):
        # BlackHolePageSourceProvider.createZeroBlock: false / 0 / 0.0 /
        # '*' × min(type length, field_length); byte 42 is '*'
        if base == "boolean":
            return F.lit(False)
        if base in ("bigint", "integer", "int", "smallint", "tinyint"):
            return F.lit(0).cast(spark_type)
        if base == "double":
            return F.lit(0.0)
        if base == "real":
            return F.lit(0.0).cast("float")
        if base == "decimal":
            return F.lit(0).cast(spark_type)
        if base == "date":
            return F.lit("1970-01-01").cast("date")
        if base == "timestamp":
            return F.lit("1970-01-01 00:00:00").cast("timestamp")
        if base in ("varchar", "char"):
            n = field_length if length is None else min(length, field_length)
            return F.lit("*" * n)
        if base == "varbinary":
            return F.lit(bytearray(b"*" * field_length))
        if base == "json":
            return F.lit("*" * field_length)
        raise ValueError(f"blackhole cannot generate type {base}")

    def generate(self, schema: str, table: str) -> DataFrame:
        if (schema, table) not in self.tables:
            raise ValueError(
                f"Table blackhole.{schema}.{table} does not exist"
            )
        columns, props = self.tables[(schema, table)]
        rows = (int(props["split_count"]) * int(props["pages_per_split"])
                * int(props["rows_per_page"]))
        parts = max(int(props["split_count"]), 1)
        df = self.spark.range(0, rows, 1, parts).select(*[
            self._zero_column(base, st, ln, int(props["field_length"]))
            .alias(name)
            for name, base, st, ln in columns
        ])
        delay = _parse_duration_s(str(props["page_processing_delay"]))
        if delay > 0:
            pages = max(int(props["pages_per_split"]), 1)
            schema_ddl = ", ".join(
                f"`{name}` {st}" for name, _b, st, _l in columns
            )

            def slow(batches):
                # BlackHolePageSource sleeps page_processing_delay per
                # generated page; Arrow batch sizes differ from the
                # table's page size, so pay the whole split's per-page
                # budget (delay × pages_per_split) once per partition
                time.sleep(delay * pages)
                yield from batches

            df = df.mapInPandas(
                lambda it: slow(it), schema=schema_ddl
            )
        return df

    def write_rowcount(self, schema: str, table: str, df: DataFrame) -> int:
        if (schema, table) not in self.tables:
            raise ValueError(
                f"Table blackhole.{schema}.{table} does not exist"
            )
        # BlackHolePageSink.appendPage: count, then drop the pages
        return df.count()

    def create_from_query(self, schema: str, table: str, df: DataFrame,
                          props: dict, if_not_exists: bool) -> int:
        columns = [
            (f.name,) + _parse_presto_type(_spark_to_presto(f.dataType))
            for f in df.schema.fields
        ]
        self.create(schema, table, columns, props, if_not_exists)
        return df.count()


def _spark_to_presto(dt) -> str:
    s = dt.simpleString()
    return {
        "long": "bigint", "int": "integer", "short": "smallint",
        "byte": "tinyint", "float": "real", "string": "varchar",
        "binary": "varbinary",
    }.get(s, s)


# ---------------------------------------------------------------------------
# local-file connector
# ---------------------------------------------------------------------------

# LocalFileTables.HttpRequestLogTable.COLUMNS (LocalFileTables.java:115-127)
HTTP_REQUEST_LOG_SCHEMA = [
    ("server_address", "string"),
    ("timestamp", "timestamp"),
    ("client_address", "string"),
    ("method", "string"),
    ("request_uri", "string"),
    ("user", "string"),
    ("agent", "string"),
    ("response_code", "bigint"),
    ("request_size", "bigint"),
    ("response_size", "bigint"),
    ("time_to_last_byte", "bigint"),
    ("trace_token", "string"),
]

# LocalFileRecordCursor parses via DateTimeFormatter ISO instant
_LOG_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss'Z'"


class LocalFileCatalog:
    """``localfile.logs.http_request_log`` over a configured directory."""

    SCHEMA_NAME = "logs"  # LocalFileMetadata.PRESTO_LOGS_SCHEMA
    TABLE_NAME = "http_request_log"

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.location: str | None = None

    def configure(self, location: str) -> None:
        """presto-local-file's http-request-log.location config."""
        self.location = location

    def read(self) -> DataFrame:
        if self.location is None:
            raise ValueError(
                "localfile connector is not configured: set the "
                "http_request_log location "
                "(connectors.get_catalogs(spark).localfile.configure(dir))"
            )
        ddl = ", ".join(f"`{c}` {t}" for c, t in HTTP_REQUEST_LOG_SCHEMA)
        return self.spark.read.csv(
            self.location, sep="\t", schema=ddl,
            timestampFormat=_LOG_TS_FORMAT,
        )


# ---------------------------------------------------------------------------
# tpch connector
# ---------------------------------------------------------------------------


class TpchCatalog:
    """presto-tpch: the reference's in-process TPC-H data connector.

    Reference semantics (``TpchMetadata.java:89-93,470``): schemas are
    ``tiny`` (scale factor 0.01) plus ``sf<N>`` names whose suffix parses
    as the scale factor; tables carry the TPC-H standard columns with
    UNPREFIXED names (``orderkey``, not ``o_orderkey`` —
    ``TpchColumn.getColumnName``).

    In-process generation (round 5): like the reference's embedded
    dbgen, any requested schema is generated on demand — DuckDB's tpch
    extension IS dbgen — and cached as parquet, serving ALL EIGHT
    tables (including partsupp) with the reference's types (prices as
    DOUBLE, dates as DATE).  Generation is capped at sf ≤
    ``TPCH_DBGEN_MAX_SF`` (default 1; env
    ``SPARK_GRAFT_TPCH_MAX_SF`` overrides) — a single-container
    capacity guard, not a semantics limit.  When the driver's
    pre-materialized dataset directory exists for a schema, it is
    preferred for the 7 tables it ships (zero generation cost; its
    dates are TIMESTAMP — TESTDATA.md's layout); partsupp falls through
    to dbgen.  Reads are native parquet scans — pushdown and pruning
    intact — with a rename-only projection to the reference's column
    names (zero-cost in Catalyst).
    """

    BASE = "/root/testdata"
    GEN_BASE = "/root/repo/.scratch/tpch_dbgen"
    TABLES = ("region", "nation", "customer", "supplier", "part",
              "partsupp", "orders", "lineitem")
    _PREFIX = {"region": "r_", "nation": "n_", "customer": "c_",
               "supplier": "s_", "part": "p_", "partsupp": "ps_",
               "orders": "o_", "lineitem": "l_"}

    def __init__(self, spark: SparkSession):
        self.spark = spark

    @staticmethod
    def _sf(schema: str) -> str:
        schema = schema.lower()
        if schema == "tiny":  # TINY_SCALE_FACTOR = 0.01
            return "0.01"
        if schema.startswith("sf"):
            return schema[2:].replace("_", ".")
        raise ValueError(f"Schema tpch.{schema} does not exist")

    def max_sf(self) -> float:
        import os

        return float(os.environ.get("SPARK_GRAFT_TPCH_MAX_SF", "1"))

    def schema_dir(self, schema: str) -> str | None:
        """The pre-materialized dataset dir, or None (dbgen path)."""
        import os

        sf = self._sf(schema)
        path = os.path.join(self.BASE, f"sf{sf}")
        if os.path.isdir(path):
            return path
        if float(sf) > self.max_sf():
            raise ValueError(
                f"Schema tpch.{schema} exceeds this container's dbgen "
                f"capacity guard (sf {sf} > {self.max_sf()}; raise "
                f"SPARK_GRAFT_TPCH_MAX_SF to generate it anyway)"
            )
        return None

    def _dbgen_dir(self, schema: str) -> str:
        """Generate (once) and return the dbgen cache dir for a schema."""
        import os

        sf = self._sf(schema)
        out = os.path.join(self.GEN_BASE, f"sf{sf}")
        if os.path.exists(os.path.join(out, "_DONE")):
            return out
        if float(sf) > self.max_sf():
            raise ValueError(
                f"Schema tpch.{schema} exceeds this container's dbgen "
                f"capacity guard (sf {sf} > {self.max_sf()}; raise "
                f"SPARK_GRAFT_TPCH_MAX_SF to generate it anyway)"
            )
        import duckdb

        os.makedirs(out, exist_ok=True)
        con = duckdb.connect()
        con.execute("LOAD tpch")
        con.execute(f"CALL dbgen(sf={sf})")
        # reference types: DOUBLE prices (TpchColumnType DOUBLE), DATE
        # dates; decimals are dbgen's physical representation only
        for t in self.TABLES:
            cols = con.execute(f"DESCRIBE {t}").fetchall()
            proj = ", ".join(
                f"{c}::DOUBLE AS {c}" if ty.startswith("DECIMAL") else c
                for c, ty, *_ in cols
            )
            con.execute(
                f"COPY (SELECT {proj} FROM {t}) TO '{out}/{t}.parquet' "
                f"(FORMAT PARQUET)"
            )
        con.close()
        open(os.path.join(out, "_DONE"), "w").close()
        return out

    def list_schemas(self) -> list[str]:
        import os

        out = ["tiny"]
        for d in sorted(os.listdir(self.BASE)):
            if d.startswith("sf"):
                out.append(d.replace(".", "_"))
        if os.path.isdir(self.GEN_BASE):
            for d in sorted(os.listdir(self.GEN_BASE)):
                if d.startswith("sf"):
                    name = d.replace(".", "_")
                    if name not in out:
                        out.append(name)
        return out

    def read(self, schema: str, table: str) -> DataFrame:
        import os

        table = table.lower()
        if table not in self.TABLES:
            # validates the schema name/capacity before the table error,
            # matching the reference's resolution order
            self.schema_dir(schema)
            raise ValueError(f"Table tpch.{schema}.{table} does not exist")
        path = self.schema_dir(schema)
        if path is None or not os.path.exists(
            os.path.join(path, f"{table}.parquet")
        ):
            # not materialized (unknown sf, or partsupp which TESTDATA
            # does not ship) → in-process dbgen, the reference's model
            path = self._dbgen_dir(schema)
        df = self.spark.read.parquet(os.path.join(path, f"{table}.parquet"))
        prefix = self._PREFIX[table]
        renames = {
            c: c[len(prefix):] for c in df.columns if c.startswith(prefix)
        }
        return df.withColumnsRenamed(renames)


# ---------------------------------------------------------------------------
# example-http connector
# ---------------------------------------------------------------------------


class ExampleHttpCatalog:
    """presto-example-http: tables are lists of CSV files behind URIs,
    declared by a metadata JSON document.

    Reference semantics (``ExampleClient.java:95-116``): the metadata URI
    yields ``{schema: [{name, columns: [{name, type}], sources: [...]}]}``
    with source URIs resolved against the metadata URI;
    ``ExampleRecordCursor.java:41,96`` splits lines on ``','`` with
    trimmed fields and parses by declared column type
    (Boolean/Long/Double.parse, varchar as-is); ``ExampleSplitManager``
    makes one split per source URI.

    Spark mapping: one RDD partition per source URI, fetched ON THE
    EXECUTOR (urllib handles http/https/file), parsed with the cursor's
    exact trim/parse rules — the reference's split-per-URL fan-out, so a
    1000-file table reads 1000-way parallel.  This is the one justified
    RDD use in the repo: per-partition imperative fetch of a remote
    byte source that Spark has no native reader for.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        # schema → table → (columns [(name, presto type)], source uris)
        self.schemas: dict[str, dict] = {}

    def configure(self, metadata_uri: str) -> None:
        import json
        import urllib.parse
        import urllib.request

        with urllib.request.urlopen(metadata_uri) as fh:
            doc = json.loads(fh.read().decode("utf-8"))
        schemas: dict[str, dict] = {}
        for schema, tables in doc.items():
            out = {}
            for t in tables:
                cols = [(c["name"], c["type"].lower()) for c in t["columns"]]
                sources = [
                    urllib.parse.urljoin(metadata_uri, s)
                    for s in t["sources"]
                ]
                out[t["name"].lower()] = (cols, sources)
            schemas[schema.lower()] = out
        self.schemas = schemas

    def list_tables(self, schema: str | None) -> list[str]:
        if schema is not None:
            return sorted(self.schemas.get(schema, {}))
        return sorted(t for s in self.schemas.values() for t in s)

    def read(self, schema: str, table: str) -> DataFrame:
        if table not in self.schemas.get(schema, {}):
            raise ValueError(
                f"Table example.{schema}.{table} does not exist"
            )
        cols, sources = self.schemas[schema][table]
        types = [_parse_presto_type(t)[1] for _n, t in cols]

        def parse_cell(text: str | None, spark_type: str):
            # ExampleRecordCursor: trimmed fields, Java parse semantics
            if text is None:
                return None
            text = text.strip()
            if spark_type in ("bigint", "int", "smallint", "tinyint"):
                return int(text)
            if spark_type in ("double", "float"):
                return float(text)
            if spark_type == "boolean":
                return text.lower() == "true"
            return text

        def fetch_split(uris):
            import urllib.request

            n = len(types)
            for uri in uris:
                with urllib.request.urlopen(uri) as fh:
                    for line in fh.read().decode("utf-8").splitlines():
                        if not line.strip():
                            continue
                        parts = line.split(",")
                        # extra fields ignored, missing fields NULL —
                        # the cursor reads only declared ordinals
                        parts = parts[:n] + [None] * (n - len(parts))
                        yield tuple(
                            parse_cell(p, st)
                            for p, st in zip(parts, types)
                        )

        ddl = ", ".join(f"`{n}` {st}" for (n, _t), st in zip(cols, types))
        rdd = self.spark.sparkContext.parallelize(
            sources, max(len(sources), 1)
        ).mapPartitions(fetch_split)
        return self.spark.createDataFrame(rdd, ddl)


# ---------------------------------------------------------------------------
# jmx connector
# ---------------------------------------------------------------------------


class _MBeanServerHandle:
    """Typed calls on the platform MBeanServer through the public
    interface, reflected JVM-side (see JmxCatalog note)."""

    def __init__(self, jvm, gw, mbs):
        self.jvm, self.gw, self.mbs = jvm, gw, mbs
        cls = jvm.java.lang.Class.forName("javax.management.MBeanServer")
        self._methods = {}
        for name, sig in (
            ("queryNames", ["javax.management.ObjectName",
                            "javax.management.QueryExp"]),
            ("getMBeanInfo", ["javax.management.ObjectName"]),
            ("getAttribute", ["javax.management.ObjectName",
                              "java.lang.String"]),
        ):
            types = gw.new_array(jvm.java.lang.Class, len(sig))
            for i, t in enumerate(sig):
                types[i] = jvm.java.lang.Class.forName(t)
            self._methods[name] = cls.getMethod(name, types)

    def _invoke(self, name: str, *args):
        jargs = self.gw.new_array(self.jvm.java.lang.Object, len(args))
        for i, a in enumerate(args):
            jargs[i] = a
        return self._methods[name].invoke(self.mbs, jargs)

    def query_names(self):
        wildcard = self.jvm.javax.management.ObjectName("*:*")
        it = self._invoke("queryNames", wildcard, None).iterator()
        out = []
        while it.hasNext():
            out.append(it.next())
        return out

    def mbean_info(self, object_name):
        return self._invoke("getMBeanInfo", object_name)

    def attribute(self, object_name, attr: str):
        return self._invoke("getAttribute", object_name, attr)


class JmxCatalog:
    """``jmx.current.*`` / ``jmx.history.*`` over the live JVM's platform
    MBean server (presto-jmx).

    Reference semantics mirrored from ``JmxMetadata.java``: a table name
    is an ObjectName matched case-insensitively against canonical names,
    ``*`` wildcards expand to multi-mbean tables (``toPattern``, :147);
    columns are ``node`` + ``object_name`` + the union of readable
    attributes across the matched mbeans, deduplicated and sorted by name
    (:143-148); attribute types map boolean→boolean, integral→bigint,
    float/double→double, everything else→varchar via toString with
    ``Arrays.toString`` for arrays (:264-:300,
    ``JmxRecordSetProvider.java:117-145``).  ``jmx.history.<t>`` adds a
    leading ``timestamp`` column (:119) filled by a periodic sampler that
    rounds to the dump period so rows group/join across tables
    (``JmxPeriodicSampler.java:105``); the ring buffer keeps
    ``max-entries`` dumps (``JmxConnectorConfig``).

    This is real JMX — the MBean server of the single local JVM — read
    driver-side (metadata-sized: one row per matched mbean, exactly the
    reference's one-row-per-node-per-mbean shape with one node).
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.history_tables: list[str] = []
        self.dump_period_s = 10.0  # JmxConnectorConfig default
        self.max_entries = 86400
        self._history: dict[str, list] = {}
        self._timer = None

    # -- config (jmx.dump-tables / dump-period / max-entries) ---------------

    def configure(self, dump_tables: list[str], dump_period_s: float = 10.0,
                  max_entries: int = 86400) -> None:
        self.history_tables = [t.lower() for t in dump_tables]
        self.dump_period_s = dump_period_s
        self.max_entries = max_entries
        self._history = {t: [] for t in self.history_tables}

    # -- mbean access --------------------------------------------------------
    #
    # The platform MBeanServer's implementing class lives in a
    # non-exported JDK package, so py4j cannot reflect on it directly.
    # All calls go through the PUBLIC javax.management.MBeanServer
    # interface via JVM-side java.lang.reflect (interface-method invoke
    # is legal regardless of the implementation class's visibility).

    def _server(self):
        jvm = self.spark._jvm
        gw = self.spark.sparkContext._gateway
        mbs = (jvm.java.lang.management.ManagementFactory
               .getPlatformMBeanServer())
        return _MBeanServerHandle(jvm, gw, mbs)

    def _matched(self, server, table: str) -> list:
        """ObjectNames whose canonical name matches the table pattern."""
        table = table.lower()
        parts = [re.escape(p) for p in table.split("*")]
        pattern = re.compile(".*".join(parts) + "$")
        out = []
        for on in server.query_names():
            if pattern.match(on.getCanonicalName().lower()):
                out.append(on)
        return sorted(out, key=lambda o: o.getCanonicalName())

    @staticmethod
    def _column_type(java_type: str) -> str:
        if java_type in ("boolean", "java.lang.Boolean"):
            return "boolean"
        if java_type in ("byte", "java.lang.Byte", "short",
                         "java.lang.Short", "int", "java.lang.Integer",
                         "long", "java.lang.Long"):
            return "bigint"
        if java_type in ("float", "java.lang.Float", "double",
                         "java.lang.Double"):
            return "double"
        return "string"

    def _value(self, jvm, raw, spark_type: str, java_type: str):
        if raw is None:
            return None
        if spark_type == "boolean":
            return bool(raw)
        if spark_type == "bigint":
            return int(raw)
        if spark_type == "double":
            return float(raw)
        if isinstance(raw, (str, int, float, bool)):
            return str(raw)
        if java_type.startswith("[") or java_type.endswith("[]"):
            try:
                return jvm.java.util.Arrays.toString(raw)
            except Exception:  # noqa: BLE001 — deep arrays etc.
                pass
        return raw.toString()

    def list_tables(self) -> list[str]:
        server = self._server()
        return sorted(
            on.getCanonicalName().lower() for on in server.query_names()
        )

    def _snapshot(self, table: str) -> tuple[list[str], list[str], list]:
        """(column names, spark types, rows) for a current-schema read."""
        server = self._server()
        jvm = server.jvm
        matched = self._matched(server, table)
        if not matched:
            raise ValueError(f"Table jmx.current.{table} does not exist")
        # union of readable attributes, deduped, sorted (JmxMetadata:143)
        attr_types: dict[str, str] = {}
        readables: list[dict[str, str]] = []
        for on in matched:
            attrs = server.mbean_info(on).getAttributes()
            readable = {
                a.getName().lower(): a.getName()
                for a in attrs if a.isReadable()
            }
            readables.append(readable)
            for a in attrs:
                if a.isReadable() and a.getName().lower() not in attr_types:
                    attr_types[a.getName().lower()] = a.getType()
        names = sorted(attr_types)
        node = self.spark.sparkContext.applicationId
        rows = []
        for on, readable in zip(matched, readables):
            row = [node, on.getCanonicalName()]
            for n in names:
                if n not in readable:
                    row.append(None)
                    continue
                jt = attr_types[n]
                st = self._column_type(jt)
                try:
                    raw = server.attribute(on, readable[n])
                    row.append(self._value(jvm, raw, st, jt))
                except Exception:  # noqa: BLE001 — unsupported attribute
                    row.append(None)
            rows.append(row)
        cols = ["node", "object_name"] + names
        types = ["string", "string"] + [
            self._column_type(attr_types[n]) for n in names
        ]
        return cols, types, rows

    def read_current(self, table: str) -> DataFrame:
        cols, types, rows = self._snapshot(table)
        ddl = ", ".join(f"`{c}` {t}" for c, t in zip(cols, types))
        return local_dataframe(self.spark, rows, ddl)

    # -- history (JmxPeriodicSampler / JmxHistoricalData) --------------------

    def sample(self, at: float | None = None) -> None:
        """One dump of every configured history table; timestamps round
        to the dump period (JmxPeriodicSampler.java:105)."""
        if at is None:
            at = time.time()
        period = max(self.dump_period_s, 1e-9)
        rounded = round(at / period) * period
        for table in self.history_tables:
            cols, types, rows = self._snapshot(table)
            entries = self._history.setdefault(table, [])
            entries.append((rounded, cols, types, rows))
            del entries[:-self.max_entries]

    def start_sampler(self) -> None:
        import threading

        def tick():
            self.sample()
            self._timer = threading.Timer(self.dump_period_s, tick)
            self._timer.daemon = True
            self._timer.start()

        self.stop_sampler()
        tick()

    def stop_sampler(self) -> None:
        if self._timer is not None:
            self._timer.cancel()
            self._timer = None

    def read_history(self, table: str) -> DataFrame:
        import datetime as dt

        table = table.lower()
        if table not in self.history_tables:
            raise ValueError(f"Table jmx.history.{table} does not exist")
        entries = self._history.get(table, [])
        if not entries:
            cols, types, _rows = self._snapshot(table)
            rows: list = []
        else:
            _ts, cols, types, _r = entries[-1]
            # aware instants: Arrow would read a naive datetime as UTC,
            # not as the local wall-clock fromtimestamp(ts) names
            rows = [
                [dt.datetime.fromtimestamp(ts, dt.timezone.utc)] + row
                for ts, _c, _t, dump_rows in entries
                for row in dump_rows
            ]
        ddl = ", ".join(
            ["`timestamp` timestamp"]
            + [f"`{c}` {t}" for c, t in zip(cols, types)]
        )
        return local_dataframe(self.spark, rows, ddl)


# ---------------------------------------------------------------------------
# session-scoped registry + statement handlers
# ---------------------------------------------------------------------------


class ConnectorCatalogs:
    def __init__(self, spark: SparkSession):
        self.memory = MemoryCatalog(spark)
        self.blackhole = BlackHoleCatalog(spark)
        self.localfile = LocalFileCatalog(spark)
        self.jmx = JmxCatalog(spark)
        self.example = ExampleHttpCatalog(spark)
        self.tpch = TpchCatalog(spark)


# keyed weakly on the session object, not on ``id(spark)``: a collected
# session's id can be reused by a new one; entries are created under a
# lock because protocol-server request threads reach this concurrently
_CATALOGS: "weakref.WeakKeyDictionary[SparkSession, ConnectorCatalogs]" = (
    weakref.WeakKeyDictionary())
_CATALOGS_LOCK = threading.Lock()


def get_catalogs(spark: SparkSession) -> ConnectorCatalogs:
    """One connector-state registry per SparkSession — connector tables
    outlive any single engine instance, like the reference's
    coordinator-held connector metadata."""
    with _CATALOGS_LOCK:
        if spark not in _CATALOGS:
            _CATALOGS[spark] = ConnectorCatalogs(spark)
        return _CATALOGS[spark]


def parse_props(text: str | None) -> dict:
    """WITH (...) list: scalars, 'strings', and ARRAY['a','b']."""
    props: dict = {}
    if not text:
        return props
    for m in re.finditer(
        r"(\w+)\s*=\s*(ARRAY\s*\[[^\]]*\]|'[^']*'|[^,]+)", text, re.I
    ):
        k = m.group(1).lower()
        v = m.group(2).strip()
        if v.upper().startswith("ARRAY"):
            props[k] = re.findall(r"'([^']*)'", v)
        elif v.startswith("'") and v.endswith("'"):
            props[k] = v[1:-1]
        else:
            try:
                props[k] = int(v)
            except ValueError:
                props[k] = v
    return props


def parse_columns(text: str) -> list:
    """A CREATE TABLE column list → [(name, presto base, spark type,
    varchar length)]; names are unquoted and lower-cased like the
    reference's identifiers."""
    cols = []
    for part in split_text(text):
        name, _sp, tp = part.partition(" ")
        cols.append((name.strip('"').lower(),) + _parse_presto_type(tp))
    return cols


# -- statement handlers (engine._HANDLERS routes memory/blackhole/jmx/tpch
# statements here) -----------------------------------------------------------


def rename_schema(engine, stmt) -> DataFrame:
    """ALTER SCHEMA memory.a RENAME TO memory.b: the tables move along."""
    mem = get_catalogs(engine.spark).memory
    old_s, new_s = stmt.schema, stmt.args[-1].lower()
    if old_s not in mem.schemas:
        raise ValueError(f"Schema [{old_s}] does not exist")
    if new_s in mem.schemas:
        raise ValueError(f"Schema [{new_s}] already exists")
    mem.schemas.discard(old_s)
    mem.schemas.add(new_s)
    for s, t in [(s, t) for (s, t) in mem.tables if s == old_s]:
        mem.rename(s, t, new_s, t)
    return engine.ok()


def show_tables(engine, stmt) -> DataFrame | None:
    """SHOW TABLES FROM jmx.current|history / tpch.<schema>."""
    cats = get_catalogs(engine.spark)
    if stmt.catalog == "jmx" and stmt.schema == "current":
        names = cats.jmx.list_tables()
    elif stmt.catalog == "jmx" and stmt.schema == "history":
        names = sorted(cats.jmx.history_tables)
    elif stmt.catalog == "tpch" and stmt.schema is not None:
        cats.tpch.schema_dir(stmt.schema)  # validates the scale factor
        names = sorted(cats.tpch.TABLES)
    else:
        return None
    return local_dataframe(engine.spark, [(n,) for n in names], "`Table` string")


def show_catalogs(engine, stmt) -> DataFrame | None:
    # ShowQueriesRewrite.visitShowCatalogs — LIKE maps % and _
    m = re.fullmatch(r"(?:LIKE\s+'([^']*)')?", stmt.body, re.I)
    if m is None:
        return None
    names = ["blackhole", "example", "hive", "jmx", "localfile",
             "memory", "spark", "system", "tpch"]
    if m.group(1) is not None:
        pat = re.compile(
            "^" + re.escape(m.group(1))
            .replace("%", ".*").replace("_", ".") + "$"
        )
        names = [n for n in names if pat.match(n)]
    return local_dataframe(engine.spark, [(n,) for n in names], "`Catalog` string")


def create_table_as(engine, stmt) -> DataFrame:
    query, no_data = split_with_data(stmt.body)
    df = engine._sql_inner(query)
    if no_data:
        df = df.limit(0)
    props = parse_props(stmt.props)
    if_not_exists = "if_not_exists" in stmt.flags
    if stmt.catalog == "memory":
        if props:
            raise ValueError("memory connector tables take no properties")
        n = get_catalogs(engine.spark).memory.create(
            stmt.schema, stmt.table, df, if_not_exists)
    else:
        n = get_catalogs(engine.spark).blackhole.create_from_query(
            stmt.schema, stmt.table, df, props, if_not_exists)
    return engine.row_count(n)


def create_table(engine, stmt) -> DataFrame:
    columns = parse_columns(stmt.columns)
    props = parse_props(stmt.props)
    if_not_exists = "if_not_exists" in stmt.flags
    if stmt.catalog == "blackhole":
        get_catalogs(engine.spark).blackhole.create(
            stmt.schema, stmt.table, columns, props, if_not_exists)
    else:
        if props:
            raise ValueError("memory connector tables take no properties")
        ddl = ", ".join(f"`{n}` {st}" for n, _b, st, _l in columns)
        empty = local_dataframe(engine.spark, [], ddl)
        get_catalogs(engine.spark).memory.create(
            stmt.schema, stmt.table, empty, if_not_exists)
    return engine.ok()


def insert(engine, stmt) -> DataFrame:
    spark = engine.spark
    cats = get_catalogs(spark)
    schema, table = stmt.schema, stmt.table
    df = engine._sql_inner(stmt.body)
    if stmt.columns is not None:
        # explicit column list (InsertInto grammar): name the query's
        # positional output, letting insert() align by position with
        # the target after NULL-filling unmentioned columns
        names = column_names(stmt.columns)
        df = df.toDF(*names)
        if stmt.catalog == "memory" and (schema, table) in cats.memory.tables:
            target = spark.table(cats.memory.tables[(schema, table)])
            missing = [c for c in target.columns if c not in names]
            for c in missing:
                df = df.withColumn(
                    c, F.lit(None).cast(target.schema[c].dataType)
                )
            df = df.select(*target.columns)
    if stmt.catalog == "memory":
        n = cats.memory.insert(schema, table, df)
    else:
        n = cats.blackhole.write_rowcount(schema, table, df)
    return engine.row_count(n)


def resolve(engine, refs) -> list[str]:
    """The Spark name of each memory/blackhole/localfile/example/tpch/
    jmx reference (``statements.Reference``); registers the temp view a
    read needs just-in-time."""
    cats = get_catalogs(engine.spark)
    return [_resolve_one(engine.spark, cats, *ref.parts) for ref in refs]


def _resolve_one(spark: SparkSession, cats: ConnectorCatalogs, cat: str,
                 schema: str, *table_parts: str) -> str:
    table = ".".join(table_parts)
    view = f"{cat}_{schema}_{table}"
    if cat == "memory":
        if (schema, table) not in cats.memory.tables:
            raise ValueError(f"Table memory.{schema}.{table} does not exist")
        return cats.memory.tables[(schema, table)]
    if cat == "blackhole":
        df = cats.blackhole.generate(schema, table)
    elif cat == "example":
        df = cats.example.read(schema, table)
    elif cat == "jmx":
        view = "jmx_" + schema + "__" + re.sub(r"\W+", "_", table)
        df = (cats.jmx.read_current(table) if schema == "current"
              else cats.jmx.read_history(table))
    elif cat == "tpch":
        # defer to a session-registered schema of the same name
        # (engine.register_schema / the test corpora's dbgen `tiny`)
        # — a live registration outranks the connector's dataset,
        # exactly as only ONE catalog named tpch can exist at a time
        try:
            if spark.catalog.databaseExists(schema):
                return f"{schema}.{table}"
        except Exception:  # noqa: BLE001 — catalog probe only
            pass
        df = cats.tpch.read(schema, table)
    elif (schema, table) != (
        LocalFileCatalog.SCHEMA_NAME, LocalFileCatalog.TABLE_NAME
    ):
        raise ValueError(f"Table localfile.{schema}.{table} does not exist")
    else:
        df = cats.localfile.read()
    df.createOrReplaceTempView(view)
    return view


# ---------------------------------------------------------------------------
# driver queries — each exercises one connector end-to-end on the SQL path
# ---------------------------------------------------------------------------


def _engine(spark: SparkSession, sf_dir: str):
    from facebook_presto_spark.engine import PrestoSparkEngine

    return PrestoSparkEngine.for_dir(sf_dir, spark=spark)


def connector_memory_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE SCHEMA → CTAS → INSERT → aggregate read-back, all through
    the memory catalog (TestMemorySmoke.testCreateAndDropTable/testSelect
    shapes)."""
    eng = _engine(spark, sf_dir)
    eng.sql("CREATE SCHEMA IF NOT EXISTS memory.sales")
    eng.sql("DROP TABLE IF EXISTS memory.sales.big_orders")
    eng.sql("""
        CREATE TABLE memory.sales.big_orders AS
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        FROM orders WHERE o_totalprice > 150000.0
    """)
    eng.sql("""
        INSERT INTO memory.sales.big_orders
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        FROM orders
        WHERE o_totalprice <= 150000.0 AND o_orderpriority = '1-URGENT'
    """)
    return eng.sql("""
        SELECT o_orderpriority, count(*) AS n,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM memory.sales.big_orders
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """)


ORACLE_MEMORY = """
SELECT o_orderpriority, count(*) AS n,
       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
FROM orders
WHERE o_totalprice > 150000.0
   OR (o_totalprice <= 150000.0 AND o_orderpriority = '1-URGENT')
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def connector_blackhole_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property-driven synthetic scan + discarded write: 4 splits × 3
    pages × 250 rows of all-zero values, '*'-padded varchars truncated at
    field_length; an INSERT of real orders rows must not change what the
    table reads back."""
    eng = _engine(spark, sf_dir)
    eng.sql("DROP TABLE IF EXISTS blackhole.default.load_gen")
    eng.sql("""
        CREATE TABLE blackhole.default.load_gen (
            seq bigint, flag boolean, price double,
            sym varchar(5), tag varchar, ts timestamp, d date)
        WITH (split_count = 4, pages_per_split = 3, rows_per_page = 250,
              field_length = 8)
    """)
    eng.sql("""
        INSERT INTO blackhole.default.load_gen
        SELECT o_orderkey, false, o_totalprice, 'xxxxx', 'yyyy',
               TIMESTAMP '2020-01-01 00:00:00', DATE '2020-01-01'
        FROM orders
    """)
    return eng.sql("""
        SELECT count(*) AS n, min(seq) AS min_seq, max(seq) AS max_seq,
               bool_or(flag) AS any_flag, sum(price) AS total_price,
               min(sym) AS sym, min(tag) AS tag,
               count(DISTINCT sym) AS nsym, min(ts) AS min_ts,
               count_if(d = DATE '1970-01-01') AS d_epoch_rows
        FROM blackhole.default.load_gen
    """)


ORACLE_BLACKHOLE = """
SELECT CAST(3000 AS BIGINT) AS n, CAST(0 AS BIGINT) AS min_seq,
       CAST(0 AS BIGINT) AS max_seq, false AS any_flag,
       0.0 AS total_price, '*****' AS sym, '********' AS tag,
       CAST(1 AS BIGINT) AS nsym,
       TIMESTAMP '1970-01-01 00:00:00' AS min_ts,
       CAST(3000 AS BIGINT) AS d_epoch_rows
"""


# deterministic request-log derivation shared by the fixture writer (Spark)
# and the oracle (DuckDB re-derives from events directly)
def _http_log_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    method = F.element_at(
        F.array(F.lit("GET"), F.lit("POST"), F.lit("PUT"), F.lit("DELETE")),
        (F.col("event_id") % 4 + 1).cast("int"),
    )
    return events.select(
        F.concat(F.lit("srv-"), (F.col("event_id") % 8).cast("string"))
        .alias("server_address"),
        F.date_format(F.date_trunc("second", "ts"), _LOG_TS_FORMAT)
        .alias("timestamp"),
        F.concat(F.lit("10.0."), (F.col("user_id") % 256).cast("string"),
                 F.lit("."), (F.col("event_id") % 256).cast("string"))
        .alias("client_address"),
        method.alias("method"),
        F.concat(F.lit("/"), F.col("event_type")).alias("request_uri"),
        F.concat(F.lit("user_"), F.col("user_id").cast("string"))
        .alias("user"),
        F.concat(F.lit("agent/"), (F.col("user_id") % 5).cast("string"))
        .alias("agent"),
        (F.lit(200) + (F.col("event_id") % 4) * 100).alias("response_code"),
        (F.col("event_id") % 1000).alias("request_size"),
        F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 100).cast("bigint")
        .alias("response_size"),
        (F.col("event_id") % 97).alias("time_to_last_byte"),
        F.concat(F.lit("tt-"), F.col("event_id").cast("string"))
        .alias("trace_token"),
    )


def write_http_log_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Write the TSV request log the connector will read (distributed
    csv write — the fixture generation itself never collects)."""
    import os
    import shutil

    path = os.path.join("/root/repo/.scratch",
                        f"http_log_{os.path.basename(sf_dir.rstrip('/'))}")
    if os.path.exists(path):
        shutil.rmtree(path)
    _http_log_frame(spark, sf_dir).write.option("sep", "\t").csv(path)
    return path


def connector_localfile_http_log(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Read the TSV http_request_log through the localfile catalog and
    aggregate — ISO timestamp parsing, the full 12-column schema, and
    grouping all exercised."""
    eng = _engine(spark, sf_dir)
    get_catalogs(spark).localfile.configure(
        write_http_log_fixture(spark, sf_dir)
    )
    return eng.sql("""
        SELECT method, response_code, count(*) AS n,
               sum(response_size) AS bytes,
               max(time_to_last_byte) AS max_ttlb,
               count(DISTINCT server_address) AS servers,
               max("timestamp") AS max_ts
        FROM localfile.logs.http_request_log
        GROUP BY method, response_code
        ORDER BY method, response_code
    """)


ORACLE_LOCALFILE = """
WITH log AS (
    SELECT CASE CAST(event_id % 4 AS INTEGER)
               WHEN 0 THEN 'GET' WHEN 1 THEN 'POST'
               WHEN 2 THEN 'PUT' ELSE 'DELETE' END AS method,
           200 + (event_id % 4) * 100 AS response_code,
           CAST(round(coalesce(value, 0.0) * 100) AS BIGINT)
               AS response_size,
           event_id % 97 AS time_to_last_byte,
           'srv-' || CAST(event_id % 8 AS VARCHAR) AS server_address,
           date_trunc('second', ts) AS log_ts
    FROM events
)
SELECT method, CAST(response_code AS BIGINT) AS response_code,
       count(*) AS n, CAST(sum(response_size) AS BIGINT) AS bytes,
       CAST(max(time_to_last_byte) AS BIGINT) AS max_ttlb,
       CAST(count(DISTINCT server_address) AS BIGINT) AS servers,
       max(log_ts) AS max_ts
FROM log GROUP BY method, response_code
ORDER BY method, response_code
"""


def write_example_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Write the example-http catalog: nation as two CSV source files +
    the metadata JSON document, exactly the reference's test layout
    (example-metadata.json with relative source URIs)."""
    import glob
    import json
    import os
    import shutil

    base = os.path.join("/root/repo/.scratch",
                        f"example_http_{os.path.basename(sf_dir.rstrip('/'))}")
    if os.path.exists(base):
        shutil.rmtree(base)
    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    nation.select("n_nationkey", "n_name", "n_regionkey") \
        .repartition(2).write.csv(base)
    sources = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(base, "part-*"))
    )
    doc = {"geo": [{
        "name": "nations",
        "columns": [
            {"name": "n_nationkey", "type": "BIGINT"},
            {"name": "n_name", "type": "VARCHAR"},
            {"name": "n_regionkey", "type": "BIGINT"},
        ],
        "sources": sources,
    }]}
    meta = os.path.join(base, "example-metadata.json")
    with open(meta, "w") as fh:
        json.dump(doc, fh)
    return "file://" + meta


def connector_example_http(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the URI-backed CSV table through the example catalog (one
    split per source file) and join it against a parquet dim."""
    eng = _engine(spark, sf_dir)
    get_catalogs(spark).example.configure(
        write_example_fixture(spark, sf_dir)
    )
    return eng.sql("""
        SELECT r_name, count(*) AS n, sum(n_nationkey) AS key_sum
        FROM example.geo.nations e
        JOIN region r ON e.n_regionkey = r.r_regionkey
        GROUP BY r_name ORDER BY r_name
    """)


ORACLE_EXAMPLE = """
SELECT r_name, count(*) AS n,
       CAST(sum(n_nationkey) AS BIGINT) AS key_sum
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


def connector_tpch_tiny(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's canonical smoke query shape over the tpch catalog
    (tiny = scale factor 0.01, unprefixed TPC-H column names)."""
    eng = _engine(spark, sf_dir)
    return eng.sql("""
        SELECT orderstatus, count(*) AS n,
               sum(CAST(round(totalprice * 100) AS BIGINT)) AS cents
        FROM tpch.tiny.orders
        GROUP BY orderstatus ORDER BY orderstatus
    """)


ORACLE_TPCH_TINY = """
SELECT o_orderstatus AS orderstatus, count(*) AS n,
       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def connector_jmx_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the JVM Memory MBean through jmx.current — the projection is
    limited to the deterministic surface (object name, attribute
    presence/typing) so the oracle can pin it; the live values themselves
    are exercised by tests/test_connectors.py."""
    eng = _engine(spark, sf_dir)
    return eng.sql("""
        SELECT object_name, count(*) AS n,
               bool_and(heapmemoryusage IS NOT NULL) AS has_heap,
               bool_and(objectpendingfinalizationcount >= 0) AS fin_ok,
               bool_and(verbose IN (true, false)) AS verbose_bool
        FROM jmx.current."java.lang:type=memory"
        GROUP BY object_name
    """)


ORACLE_JMX = """
SELECT 'java.lang:type=Memory' AS object_name, CAST(1 AS BIGINT) AS n,
       true AS has_heap, true AS fin_ok, true AS verbose_bool
"""


QUERIES = {
    "connector_memory_roundtrip": connector_memory_roundtrip,
    "connector_blackhole_scan": connector_blackhole_scan,
    "connector_localfile_http_log": connector_localfile_http_log,
    "connector_jmx_memory": connector_jmx_memory,
    "connector_example_http": connector_example_http,
    "connector_tpch_tiny": connector_tpch_tiny,
}

ORACLE = {
    "connector_example_http": ORACLE_EXAMPLE,
    "connector_tpch_tiny": ORACLE_TPCH_TINY,
    "connector_memory_roundtrip": ORACLE_MEMORY,
    "connector_blackhole_scan": ORACLE_BLACKHOLE,
    "connector_localfile_http_log": ORACLE_LOCALFILE,
    "connector_jmx_memory": ORACLE_JMX,
}
