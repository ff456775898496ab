"""Catalog: schema-on-read registration of parquet tables.

Mirrors the reference's Catalog → Schema → Table model
(presto-spi/.../connector/ConnectorMetadata.java:56 — listSchemaNames /
getTableHandle / getColumnHandles) on Spark's catalog: each parquet file
becomes a temp view; `spark.read.parquet` is the ConnectorPageSource
(TableScanOperator, presto-main/.../operator/TableScanOperator.java:42) —
Spark's DataSource V2 gives us split generation, predicate pushdown and
column pruning for free.
"""

from __future__ import annotations

import os
import re
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every star-schema table under ``sf_dir`` as a DataFrame.

    Scans stay lazy — Catalyst prunes columns and pushes filters into the
    parquet reader at plan time, so loading "all tables" costs nothing.
    """
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = (
                events_table(spark, sf_dir) if name == "events"
                else spark.read.parquet(path)
            )
    return out


def events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load ``events`` with its nanosecond-precision timestamp column.

    The driver's events.parquet stores ``ts`` as parquet TIMESTAMP(NANOS).
    Spark 4 reads that natively as a micro-truncated TIMESTAMP_NTZ — the
    same truncation DuckDB applies.  But parquet schema inference is cached
    per path AND the streaming mirror sets the session-global
    ``nanosAsLong`` legacy flag (its readStream path needs a fixed LONG
    schema), so depending on what ran first in the session the same read
    can come back BIGINT (nanos-since-epoch).  Dispatch on the observed
    dtype rather than assuming either.
    """
    from pyspark.sql import functions as F

    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    if dict(df.dtypes)["ts"] == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


_REGISTERED: dict[tuple[int, str], dict[str, DataFrame]] = {}


def register_schema(spark: SparkSession, schema: str, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register ``sf_dir`` as a named schema of persistent parquet views,
    so qualified identifiers resolve: ``schema.table`` directly, and
    ``catalog.schema.table`` after the front-end strips the catalog
    qualifier (the reference's Catalog → Schema → Table model,
    ConnectorMetadata.java:56 — Spark's session catalog provides the
    schema level; the catalog level is a name prefix).
    """
    if not re.fullmatch(r"[A-Za-z_]\w*", schema):
        raise ValueError(f"invalid schema name: {schema}")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {schema}")
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        if name == "events":
            # TIMESTAMP(NANOS) physical type: normalize ts like events_table,
            # dispatching on whichever dtype the (possibly cached /
            # legacy-flag) parquet schema yields in this session.
            probe = spark.read.parquet(path)
            if dict(probe.dtypes)["ts"] == "bigint":
                body = (
                    "SELECT event_id, timestamp_micros(ts div 1000) AS ts, "
                    "user_id, event_type, value, props "
                    f"FROM parquet.`{path}`"
                )
            else:
                body = f"SELECT * FROM parquet.`{path}`"
        else:
            body = f"SELECT * FROM parquet.`{path}`"
        spark.sql(f"CREATE OR REPLACE VIEW {schema}.{name} AS {body}")


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register each table as a temp view so ``spark.sql`` sees the catalog.

    Memoized per (session, sf_dir): repeated queries through the SQL
    front-end must not re-read parquet footers and re-infer schemas — the
    reference resolves tables against cached connector metadata the same
    way (ConnectorMetadata.getTableHandle against the metastore cache).
    """
    key = (id(spark), sf_dir)
    if key in _REGISTERED:
        cached = _REGISTERED[key]
        # trust the memo only while the views still exist AND still carry
        # the memoized schema — callers (and tests) may drop temp views,
        # or SHADOW a name with a different relation entirely (the
        # product-test fixtures register an unprefixed `orders`, for
        # example); existence alone would silently resolve to the
        # impostor.  spark.table() resolves against the in-catalog plan,
        # so this never re-reads parquet footers.
        try:
            ok = all(
                spark.catalog.tableExists(name)
                and spark.table(name).schema == df.schema
                for name, df in cached.items()
            )
        except Exception:
            ok = False
        if ok:
            return cached
        del _REGISTERED[key]
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    _REGISTERED[key] = dfs
    return dfs


# -- catalog listing ----------------------------------------------------------
#
# The reference's metadata listings (ConnectorMetadata.listSchemaNames /
# listTables / getColumnHandles) answer from the metastore without touching a
# worker.  PySpark's ``spark.catalog.listDatabases/listTables/listColumns``
# run a JVM ``toLocalIterator`` (one Spark job each) and then one py4j round
# trip per field of every listed object; a ``SHOW DATABASES`` / ``SHOW
# TABLES`` command runs no job but still costs 15-40 ms of parsing, planning
# and result transfer.  These read the session catalog directly, a handful of
# round trips per call: names, and each relation's stored schema with its
# partition/bucket column names (what ``listColumns`` reports), without
# re-analyzing a view (a view over a parquet path would infer its schema
# with a Spark job).


class Relation(NamedTuple):
    """One listed table or view; ``database`` is '' for a temp view."""

    database: str
    name: str

    @property
    def is_temp(self) -> bool:
        return not self.database


class ColumnInfo(NamedTuple):
    name: str
    data_type: str          # Spark simpleString ("decimal(12,2)", …)
    nullable: bool
    is_partition: bool
    is_bucket: bool


def list_databases(spark: SparkSession) -> list[str]:
    """Names of the session catalog's databases."""
    return _strings(_session_catalog(spark).listDatabases())


def list_tables(spark: SparkSession, database: str | None = None) -> list[Relation]:
    """What ``SHOW TABLES IN database`` reports (default: the current
    database): the database's tables and views, then the session's temp
    views."""
    cat = _session_catalog(spark)
    db = database or cat.getCurrentDatabase()
    return [
        Relation(db, name) for name in _names(cat.listTables(db, "*", False))
    ] + [Relation("", name) for name in _names(cat.listLocalTempViews("*"))]


def list_columns(spark: SparkSession, table: str | Relation) -> list[ColumnInfo]:
    """Columns of ``table`` (a SQL name, or a listed ``Relation``) in
    schema order, from the session catalog's metadata."""
    import json

    from pyspark.sql.types import StructType

    if isinstance(table, Relation):
        table = ".".join(_quote(p) for p in table if p)
    state = spark._jsparkSession.sessionState()
    ident = state.sqlParser().parseTableIdentifier(table)
    meta = state.catalog().getTempViewOrPermanentTableMetadata(ident)
    schema = StructType.fromJson(json.loads(meta.schema().json()))
    parts = set(_strings(meta.partitionColumnNames()))
    bucket_spec = meta.bucketSpec()
    buckets = (
        set(_strings(bucket_spec.get().bucketColumnNames()))
        if bucket_spec.isDefined() else set()
    )
    return [
        ColumnInfo(f.name, f.dataType.simpleString(), f.nullable,
                   f.name in parts, f.name in buckets)
        for f in schema.fields
    ]


def _session_catalog(spark: SparkSession):
    return spark._jsparkSession.sessionState().catalog()


def _strings(jseq) -> list[str]:
    text = jseq.mkString("\n")
    return text.split("\n") if text else []


# one backquoted part of a TableIdentifier's quoted form, "`db`.`t`"
_QUOTED_PART = re.compile(r"`((?:[^`]|``)*)`(\.?)")


def _names(jidentifiers) -> list[str]:
    """The table names of a JVM Seq of TableIdentifiers."""
    return [
        m.group(1).replace("``", "`")
        for m in _QUOTED_PART.finditer(jidentifiers.mkString("\n"))
        if not m.group(2)
    ]


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"
