"""Hive-style partitioned-table catalog: ``hive.<schema>.<table>``.

Reference surface — presto-hive, the reference's primary production
connector (~47k LoC):

- ``HiveTableProperties.java:44-49`` — the table-property names this
  module accepts: ``format``, ``partitioned_by``, ``bucketed_by``,
  ``bucket_count``, ``sorted_by``, ``external_location``.
- ``HiveMetadata.java:1868`` — "Partition keys must be the last columns
  in the table and in the same order as the table properties" (enforced
  here with the same message).
- ``HiveMetadata.java:299-360`` — the ``"t$partitions"`` system table:
  one row per partition, columns = the typed partition keys.
- ``HiveUtil.java:867`` — partition columns carry the extra info
  ``partition key`` (surfaced via information_schema.columns).
- ``HivePartitionManager.java:98`` — partition pruning derived from the
  predicate TupleDomain.  In this engine the equivalent pruning is the
  Spark catalog file index's ``PartitionFilters`` (static elimination)
  PLUS dynamic partition pruning from a joined dimension filter — a
  Spark-3 advantage the reference lacks (SURVEY §4.2) — both asserted
  in ``tools/plan_audit.py``.

Spark-first design: a hive schema maps to a Spark catalog database
(``hive.sales`` → database ``hive_sales``); tables are catalog tables
written with ``partitionBy``, i.e. real ``key=value`` directory layouts
under the warehouse.  All pruning, partition discovery, and DPP come
from Catalyst — no custom scan code.

Scale notes: partition pruning is THE first-order 100-TB lever — a
date-partitioned fact table turns a full-corpus scan into a
few-directories scan before a single row is read.  Static elimination
happens at plan time from literal predicates; DPP covers the
star-schema case where the partition filter only exists on a joined
dimension (dim filter → broadcast → fact directory skip).  Writes use
dynamic partitioning, so INSERT cost is proportional to the partitions
touched, never table size.

``HiveCatalog`` owns the partition decision: it lists a table's partition
columns (``partition_columns``) and partitions (``partitions``, the only
``SHOW PARTITIONS`` reader), ``partition_values`` decodes a ``k=v/k2=v2``
partition name and ``partition_spec`` renders the ``ADD/DROP PARTITION``
spec of one partition.  DELETE, ``"t$partitions"``, SHOW STATS, the
``create_empty_partition`` procedure and the transaction undo log all
go through them.
"""

from __future__ import annotations

import threading
from urllib.parse import unquote

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from facebook_presto_spark import catalog as spark_catalog
from facebook_presto_spark.connectors import (
    _parse_presto_type,
    parse_columns,
    parse_props,
)
from facebook_presto_spark.session import local_dataframe
from facebook_presto_spark.sqlfront import translate
from facebook_presto_spark.statements import column_names, split_with_data

_FORMATS = {
    # HiveStorageFormat.java names → Spark datasource
    "PARQUET": "parquet",
    "ORC": "orc",
    "JSON": "json",
    "CSV": "csv",
    "TEXTFILE": "text",
}

HIDDEN_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _strip(name: str) -> str:
    return name.strip().strip('"').lower()


def partition_values(name: str, columns: list[str]) -> tuple:
    """The values of the partition named ``k=v/k2=v2``, in ``columns``
    order.  Names carry Hive's directory escaping (%XX for quotes,
    spaces, '/', ...), and ``__HIVE_DEFAULT_PARTITION__`` is NULL."""
    values = {}
    for piece in name.split("/"):
        k, eq, v = piece.partition("=")
        if eq:
            values[k] = None if v == HIDDEN_NULL_PARTITION else unquote(v)
    return tuple(values.get(c) for c in columns)


def partition_spec(columns: list[str], values) -> str:
    """The ``ALTER TABLE … ADD/DROP PARTITION (<spec>)`` spec of one
    partition.  Spark's lexer reads backslash escapes inside string
    literals, so each value is double-quoted with ``\\`` and ``"``
    escaped; a quote or backslash cannot break or reshape the spec.
    NULL is ``__HIVE_DEFAULT_PARTITION__``."""
    def lit(value) -> str:
        s = HIDDEN_NULL_PARTITION if value is None else str(value)
        return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'

    return ", ".join(f"`{c}` = {lit(v)}" for c, v in zip(columns, values))


class HiveCatalog:
    """Partitioned/bucketed catalog tables in Spark databases.

    Presto error surfaces mirrored from HiveMetadata: create into a
    missing schema, duplicate tables, dropping a non-empty schema, and
    the partition-column ordering rule (HiveMetadata.java:1868).
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.spark.sql("CREATE DATABASE IF NOT EXISTS hive_default")
        # (schema, table) → parsed WITH-properties (for SHOW CREATE etc.)
        self.table_props: dict[tuple[str, str], dict] = {}

    # -- name mapping --------------------------------------------------

    @staticmethod
    def db_name(schema: str) -> str:
        return f"hive_{schema}"

    def qualified(self, schema: str, table: str) -> str:
        return f"{self.db_name(schema)}.{table}"

    def _check_schema(self, schema: str) -> None:
        if not self.spark.catalog.databaseExists(self.db_name(schema)):
            raise ValueError(f"Schema {schema} not found")

    def _exists(self, schema: str, table: str) -> bool:
        return self.spark.catalog.tableExists(self.qualified(schema, table))

    def _clear_orphan_location(self, schema: str, table: str) -> None:
        """The session catalog is per-process but warehouse directories
        persist; a data dir without a catalog entry is an orphan from a
        previous process and must not block CREATE."""
        import shutil

        warehouse = self.spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        path = f"{warehouse}/{self.db_name(schema)}.db/{table}"
        shutil.rmtree(path, ignore_errors=True)

    # -- schema DDL ------------------------------------------------------

    def create_schema(self, schema: str, if_not_exists: bool) -> None:
        if self.spark.catalog.databaseExists(self.db_name(schema)):
            if if_not_exists:
                return
            raise ValueError(f"Schema [{schema}] already exists")
        self.spark.sql(f"CREATE DATABASE {self.db_name(schema)}")

    def _db_tables(self, db: str) -> list[str]:
        # list_tables(db) also reports session temp views — keep only
        # the database's own catalog tables
        return sorted(
            rel.name for rel in spark_catalog.list_tables(self.spark, db)
            if not rel.is_temp
        )

    def drop_schema(self, schema: str, if_exists: bool) -> None:
        db = self.db_name(schema)
        if not self.spark.catalog.databaseExists(db):
            if if_exists:
                return
            raise ValueError(f"Schema [{schema}] does not exist")
        if self._db_tables(db):
            raise ValueError(f"Schema not empty: {schema}")
        self.spark.sql(f"DROP DATABASE {db}")

    def list_schemas(self) -> list[str]:
        return sorted(
            d[len("hive_"):]
            for d in spark_catalog.list_databases(self.spark)
            if d.startswith("hive_")
        )

    def list_tables(self, schema: str | None) -> list[str]:
        schemas = [schema] if schema else self.list_schemas()
        out: list[str] = []
        for s in schemas:
            self._check_schema(s)
            out += self._db_tables(self.db_name(s))
        return sorted(out)

    # -- table DDL/DML ---------------------------------------------------

    def _writer(self, df: DataFrame, props: dict):
        """Apply HiveTableProperties to a DataFrameWriter; returns
        (writer, partition_cols)."""
        fmt = str(props.get("format", "PARQUET")).upper()
        if fmt not in _FORMATS:
            raise ValueError(f"Hive storage format {fmt} is not supported")
        parts = [_strip(c) for c in props.get("partitioned_by", [])]
        unknown = set(props) - {
            "format", "partitioned_by", "bucketed_by", "bucket_count",
            "sorted_by", "external_location",
        }
        if unknown:
            raise ValueError(
                f"unsupported hive table properties: {sorted(unknown)}"
            )
        if parts:
            # HiveMetadata.java:1868 — partition keys must be the last
            # columns, in property order
            if [c.lower() for c in df.columns[-len(parts):]] != parts:
                raise ValueError(
                    "Partition keys must be the last columns in the table "
                    f"and in the same order as the table properties: {parts}"
                )
        writer = df.write.format(_FORMATS[fmt])
        if parts:
            writer = writer.partitionBy(*parts)
        buckets = [_strip(c) for c in props.get("bucketed_by", [])]
        if buckets:
            count = int(props.get("bucket_count", 0))
            if count <= 0:
                raise ValueError("bucket_count must be specified with bucketed_by")
            writer = writer.bucketBy(count, *buckets)
            sort = [_strip(c) for c in props.get("sorted_by", [])]
            if sort:
                writer = writer.sortBy(*sort)
        elif props.get("bucket_count"):
            raise ValueError("bucketed_by must be specified with bucket_count")
        return writer, parts

    def create_as(self, schema: str, table: str, df: DataFrame,
                  props: dict, if_not_exists: bool) -> int:
        self._check_schema(schema)
        if self._exists(schema, table):
            if if_not_exists:
                return 0
            raise ValueError(f"Table [{schema}.{table}] already exists")
        if "external_location" in props:
            raise ValueError(
                "external_location cannot be used with CREATE TABLE AS"
            )
        # single-pass row count: an observed metric rides along with the
        # write action instead of a separate df.count() that would execute
        # the CTAS source twice (at 100 TB, twice the most expensive
        # write-path operation — and a count that can disagree with what
        # was written for non-deterministic inputs)
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        writer, _parts = self._writer(df, props)
        self._clear_orphan_location(schema, table)
        writer.mode("overwrite").saveAsTable(self.qualified(schema, table))
        self.table_props[(schema, table)] = dict(props)
        return obs.get["n"]

    def create_empty(self, schema: str, table: str, columns: list,
                     props: dict, if_not_exists: bool) -> None:
        self._check_schema(schema)
        if self._exists(schema, table):
            if if_not_exists:
                return
            raise ValueError(f"Table [{schema}.{table}] already exists")
        loc = props.get("external_location")
        if loc is not None:
            # register existing key=value directories (external table) +
            # partition discovery, the Presto external-table flow
            fmt = _FORMATS[str(props.get("format", "PARQUET")).upper()]
            qualified = self.qualified(schema, table)
            ddl_cols = ", ".join(f"`{n}` {st}" for n, _b, st, _l in columns)
            parts = [_strip(c) for c in props.get("partitioned_by", [])]
            part_clause = (
                " PARTITIONED BY (" + ", ".join(f"`{p}`" for p in parts) + ")"
                if parts else ""
            )
            self.spark.sql(
                f"CREATE TABLE {qualified} ({ddl_cols}) USING {fmt}"
                f"{part_clause} LOCATION '{loc}'"
            )
            if parts:
                self.spark.catalog.recoverPartitions(qualified)
            self.table_props[(schema, table)] = dict(props)
            return
        ddl = ", ".join(f"`{n}` {st}" for n, _b, st, _l in columns)
        empty = local_dataframe(self.spark, [], ddl)
        writer, _parts = self._writer(empty, props)
        self._clear_orphan_location(schema, table)
        writer.mode("overwrite").saveAsTable(self.qualified(schema, table))
        self.table_props[(schema, table)] = dict(props)

    def insert(self, schema: str, table: str, df: DataFrame,
               column_list: list[str] | None = None) -> int:
        if not self._exists(schema, table):
            raise ValueError(f"Table hive.{schema}.{table} does not exist")
        qualified = self.qualified(schema, table)
        target = self.spark.table(qualified)
        if column_list:
            df = df.toDF(*column_list)
            for c in target.columns:
                if c not in column_list:
                    df = df.withColumn(
                        c, F.lit(None).cast(target.schema[c].dataType)
                    )
            df = df.select(*target.columns)
        if len(df.columns) != len(target.columns):
            raise ValueError(
                f"INSERT has {len(df.columns)} columns; table "
                f"{schema}.{table} has {len(target.columns)}"
            )
        # positional alignment + dynamic partitioning: only the
        # partitions present in df are written (append); the row count
        # is an observed metric on the same pass (no double execution)
        obs = Observation()
        df = df.toDF(*target.columns).observe(
            obs, F.count(F.lit(1)).alias("n")
        )
        df.write.insertInto(qualified)
        return obs.get["n"]

    def drop(self, schema: str, table: str, if_exists: bool) -> None:
        if not self._exists(schema, table):
            if if_exists:
                return
            raise ValueError(f"Table hive.{schema}.{table} does not exist")
        self.spark.sql(f"DROP TABLE {self.qualified(schema, table)}")
        self.table_props.pop((schema, table), None)

    def rename(self, schema: str, table: str,
               new_schema: str, new_table: str) -> None:
        if not self._exists(schema, table):
            raise ValueError(f"Table hive.{schema}.{table} does not exist")
        self._check_schema(new_schema)
        if self._exists(new_schema, new_table):
            raise ValueError(
                f"Table [{new_schema}.{new_table}] already exists"
            )
        if new_schema != schema:
            # Spark's session catalog cannot move a managed table between
            # databases as a metadata-only op
            raise ValueError(
                "Hive table rename across schemas is not supported here"
            )
        part_cols = self.partition_columns(schema, table)
        self.spark.sql(
            f"ALTER TABLE {self.qualified(schema, table)} "
            f"RENAME TO {self.qualified(new_schema, new_table)}"
        )
        if part_cols:
            # RENAME TO moves the table directory but partition metadata
            # keeps the old per-partition locations — rediscover them
            self.spark.catalog.recoverPartitions(
                self.qualified(new_schema, new_table)
            )
        props = self.table_props.pop((schema, table), None)
        if props is not None:
            self.table_props[(new_schema, new_table)] = props

    # -- column DDL (HiveMetadata.java:845-871 addColumn/renameColumn/
    # dropColumn + metastore/MetastoreUtil.java:237-248,
    # FileHiveMetastore.java:489 error surfaces) -------------------------

    def _columns(self, schema: str, table: str):
        if not self._exists(schema, table):
            raise ValueError(f"Table hive.{schema}.{table} does not exist")
        return spark_catalog.list_columns(
            self.spark, self.qualified(schema, table)
        )

    def partition_columns(self, schema: str, table: str) -> list[str]:
        """The table's partition columns, in partition order."""
        return [c.name for c in self._columns(schema, table) if c.is_partition]

    def partitions(self, schema: str, table: str) -> list[tuple]:
        """Every partition's values (``partition_values``) in
        ``partition_columns`` order; [] for an unpartitioned table."""
        part_cols = self.partition_columns(schema, table)
        if not part_cols:
            return []
        return [
            partition_values(r["partition"], part_cols)
            for r in self.spark.sql(
                f"SHOW PARTITIONS {self.qualified(schema, table)}"
            ).collect()
        ]

    def add_column(self, schema: str, table: str, col: str,
                   presto_type: str) -> None:
        """ADD COLUMN is METADATA-ONLY (HiveMetadata.addColumn →
        metastore.addColumn): Spark appends to the table's dataSchema,
        so partition keys stay last and no file is touched — the
        scale-correct way to evolve a 100-TB table."""
        cols = self._columns(schema, table)
        if any(c.name == col for c in cols):
            raise ValueError(f"Column '{col}' already exists")
        _base, spark_type, _len = _parse_presto_type(presto_type)
        self.spark.sql(
            f"ALTER TABLE {self.qualified(schema, table)} "
            f"ADD COLUMNS (`{col}` {spark_type})"
        )

    def rename_column(self, schema: str, table: str,
                      old: str, new: str) -> None:
        cols = self._columns(schema, table)
        by_name = {c.name: c for c in cols}
        if new in by_name:
            # FileHiveMetastore.renameColumn ALREADY_EXISTS text
            raise ValueError(f"Column already exists: {new}")
        if old not in by_name:
            raise ValueError(f"Column '{old}' does not exist")
        if by_name[old].is_partition:
            raise ValueError("Renaming partition columns is not supported")

        def fix_props(props: dict) -> dict:
            for key in ("bucketed_by", "sorted_by"):
                if key in props:
                    props[key] = [
                        new if _strip(c) == old else c for c in props[key]
                    ]
            return props

        self._rewrite(
            schema, table, lambda df: df.withColumnRenamed(old, new),
            fix_props,
        )

    def drop_column(self, schema: str, table: str, col: str) -> None:
        cols = self._columns(schema, table)
        by_name = {c.name: c for c in cols}
        if col not in by_name:
            raise ValueError(f"Column '{col}' does not exist")
        if by_name[col].is_partition:
            # MetastoreUtil.verifyCanDropColumn texts
            raise ValueError("Cannot drop partition columns")
        if sum(1 for c in cols if not c.is_partition) <= 1:
            raise ValueError(
                "Cannot drop the only non-partition column in a table"
            )
        self._rewrite(schema, table, lambda df: df.drop(col))

    def _effective_props(self, schema: str, table: str) -> dict:
        """Stored WITH-properties, or recovered from the live catalog
        (partition/bucket layout survives process restarts even though
        table_props is in-memory)."""
        props = dict(self.table_props.get((schema, table), {}))
        if "partitioned_by" not in props:
            parts = self.partition_columns(schema, table)
            if parts:
                props["partitioned_by"] = parts
        if "bucketed_by" not in props:
            buckets = [
                c.name for c in self._columns(schema, table) if c.is_bucket
            ]
            if buckets:
                props["bucketed_by"] = buckets
                ext = self._describe_extended(schema, table)
                if ext.get("Num Buckets"):
                    props["bucket_count"] = int(ext["Num Buckets"])
        return props

    def _describe_extended(self, schema: str, table: str) -> dict:
        return {
            r["col_name"]: r["data_type"]
            for r in self.spark.sql(
                f"DESCRIBE TABLE EXTENDED {self.qualified(schema, table)}"
            ).collect()
        }

    def _rewrite(self, schema: str, table: str, transform,
                 props_transform=None) -> None:
        """Column rename/drop rebuild the table through its stored
        layout (partitioning/bucketing preserved).  This is a REWRITE,
        not metadata: Spark's v1 parquet tables bind data by column
        name, so a metastore-only rename (the reference's move,
        HiveMetadata.java:854) would silently NULL the renamed column
        in every existing file — rewriting preserves the data instead.
        Scale note: prefer additive evolution (ADD COLUMN is
        metadata-only); renames on a 100-TB table cost a full rewrite
        on ANY parquet engine that wants the old rows readable."""
        qualified = self.qualified(schema, table)
        df = transform(self.spark.table(qualified))
        props = self._effective_props(schema, table)
        if props_transform is not None:
            props = props_transform(props)
        props.pop("external_location", None)
        writer, _parts = self._writer(df, props)
        tmp = f"{table}__altered"
        self._clear_orphan_location(schema, tmp)
        writer.mode("overwrite").saveAsTable(self.qualified(schema, tmp))
        self.spark.sql(f"DROP TABLE {qualified}")
        self.spark.sql(
            f"ALTER TABLE {self.qualified(schema, tmp)} RENAME TO {qualified}"
        )
        if props.get("partitioned_by"):
            # RENAME TO moves the table directory but partition metadata
            # still points at the old per-partition locations — rediscover
            self.spark.catalog.recoverPartitions(qualified)
        self.table_props[(schema, table)] = props

    # -- metadata-only statistics (HiveMetadata.getTableStatistics:
    # basic stats come from the metastore, never a scan) ------------------

    def metadata_stats(self, schema: str, table: str):
        """(total_rows, {partition_col: (data_size, ndv, nulls_fraction,
        low, high)}) computed ONLY from partition directory names and
        parquet footers — SHOW STATS on a hive table never reads a data
        page (at 100 TB: a metastore lookup, not a full-table scan;
        the reference serves the same numbers from metastore basic
        stats, HiveMetadata.getTableStatistics)."""
        import os

        import pyarrow.parquet as pq

        loc = self._describe_extended(schema, table).get("Location", "")
        loc = loc.removeprefix("file:")
        part_cols = self.partition_columns(schema, table)
        per_part: dict[tuple, int] = {}
        total = 0
        for root, _dirs, files in os.walk(loc):
            n = 0
            for f in files:
                if f.endswith(".parquet"):
                    n += pq.ParquetFile(
                        os.path.join(root, f)
                    ).metadata.num_rows
            if not n:
                continue
            key = partition_values(os.path.relpath(root, loc), part_cols)
            per_part[key] = per_part.get(key, 0) + n
            total += n
        dtypes = {
            f.name: f.dataType.simpleString()
            for f in self.spark.table(self.qualified(schema, table)).schema.fields
        }

        def typed(col: str, v: str):
            t = dtypes.get(col, "string")
            if t in ("int", "bigint", "smallint", "tinyint"):
                return int(v)
            if t in ("double", "float") or t.startswith("decimal"):
                return float(v)
            return v  # date/timestamp/string ISO-sort as text

        stats: dict[str, tuple] = {}
        for i, col in enumerate(part_cols):
            vals = [(k[i], n) for k, n in per_part.items()]
            null_rows = sum(n for v, n in vals if v is None)
            present = sorted({typed(col, v) for v, _n in vals if v is not None})
            data_size = (
                float(sum(len(v) * n for v, n in vals if v is not None))
                if dtypes.get(col) == "string" else None
            )
            stats[col] = (
                data_size,
                float(len(present)),
                (null_rows / total) if total else 0.0,
                str(present[0]) if present else None,
                str(present[-1]) if present else None,
            )
        return total, stats

    # -- metadata DELETE (MetadataDeleteOperator / MetadataDelete-
    # Optimizer.java:92 + HiveMetadata.java:1417) ------------------------

    def delete(self, schema: str, table: str, pred: str | None) -> int:
        """DELETE FROM hive.s.t [WHERE <partition-key predicate>].

        The reference's hive connector supports DELETE only when whole
        partitions are deleted (MetadataDeleteOptimizer routes the plan
        to MetadataDeleteOperator; anything else raises
        HiveMetadata.java:1417's NOT_SUPPORTED).  Here the predicate is
        evaluated against the $partitions metadata rows — never the
        data — and matching partitions are dropped as directories:
        at 100 TB the operation is proportional to the partition COUNT,
        not the data size (the returned row count is a partition-pruned
        count over only the dropped directories).  ``pred`` is Presto
        text: it is translated like any other statement and picks the
        victims from the ``"t$partitions"`` local relation, with no Spark
        job."""
        qualified = self.qualified(schema, table)
        part_cols = self.partition_columns(schema, table)
        if pred is None:
            n = self.spark.table(qualified).count()
            self.spark.sql(f"TRUNCATE TABLE {qualified}")
            return n
        from facebook_presto_spark.sqlfront.tokens import tokenize

        toks = tokenize(pred)
        non_partition = [
            t.text for i, t in enumerate(toks)
            if t.kind == "ident"
            and t.text.lower() not in part_cols
            and t.upper not in (
                "AND", "OR", "NOT", "IN", "IS", "NULL", "TRUE", "FALSE",
                "BETWEEN", "LIKE", "DATE", "TIMESTAMP", "INTERVAL",
            )
            and not (i + 1 < len(toks) and toks[i + 1].text == "(")
        ]
        if not part_cols or non_partition:
            raise ValueError(
                "This connector only supports delete where one or more "
                "partitions are deleted entirely"
            )
        victims = self.spark.sql(translate(
            f"SELECT * FROM {self.partitions_view(schema, table)} WHERE {pred}"
        )).collect()
        if not victims:
            return 0
        # partition-pruned count of the rows being dropped (reads only
        # the victim directories' footers)
        cond = None
        for v in victims:
            this = None
            for c in part_cols:
                eq = (
                    F.col(c).isNull() if v[c] is None else (F.col(c) == v[c])
                )
                this = eq if this is None else (this & eq)
            cond = this if cond is None else (cond | this)
        n = self.spark.table(qualified).filter(cond).count()
        for v in victims:
            spec = partition_spec(part_cols, [v[c] for c in part_cols])
            self.spark.sql(f"ALTER TABLE {qualified} DROP PARTITION ({spec})")
        return n

    # -- $partitions (HiveMetadata.java:299-360) -------------------------

    def partitions_table(self, schema: str, table: str) -> DataFrame:
        """One row per partition; columns = the typed partition keys.

        A local relation of the decoded values, cast to the keys' types:
        the casts fold into it, so the plan roots at a
        ``LocalTableScanExec`` and reading it runs no Spark job."""
        keys = [c for c in self._columns(schema, table) if c.is_partition]
        if not keys:
            raise ValueError(
                f"Table hive.{schema}.{table} does not have partition columns"
            )
        strings = local_dataframe(
            self.spark, self.partitions(schema, table),
            ", ".join(f"`{c.name}` string" for c in keys),
        )
        return strings.select(
            *[F.col(c.name).cast(c.data_type).alias(c.name) for c in keys]
        )

    def partitions_view(self, schema: str, table: str) -> str:
        """Register ``partitions_table`` as a global temp view, which no
        table listing shows; returns its qualified name."""
        view = f"hive_{schema}__{table}__partitions"
        self.partitions_table(schema, table).createOrReplaceGlobalTempView(view)
        return f"{self.spark.conf.get('spark.sql.globalTempDatabase')}.{view}"


# one catalog per application; created under a lock because
# protocol-server request threads reach this concurrently
_CATALOGS: dict[str, HiveCatalog] = {}
_CATALOGS_LOCK = threading.Lock()


def get_catalog(spark: SparkSession) -> HiveCatalog:
    key = spark.sparkContext.applicationId
    with _CATALOGS_LOCK:
        if key not in _CATALOGS:
            _CATALOGS[key] = HiveCatalog(spark)
        return _CATALOGS[key]


# ---------------------------------------------------------------------------
# hive.* statements: engine._HANDLERS routes writes and column DDL here
# (schema and table DDL it serves itself over HiveCatalog's methods);
# ``resolve`` names the tables reads reference on the translate path
# ---------------------------------------------------------------------------


def alter_column(engine, stmt) -> DataFrame:
    """ADD / RENAME / DROP COLUMN on a hive table."""
    cat, args = get_catalog(engine.spark), [_strip(a) for a in stmt.args]
    if stmt.kind == "add_column":
        cat.add_column(stmt.schema, stmt.table, args[0], stmt.body)
    elif stmt.kind == "rename_column":
        cat.rename_column(stmt.schema, stmt.table, *args)
    else:
        cat.drop_column(stmt.schema, stmt.table, args[0])
    return engine.ok()


def delete(engine, stmt) -> DataFrame:
    n = get_catalog(engine.spark).delete(stmt.schema, stmt.table, stmt.body)
    return engine.row_count(n)


def create_table_as(engine, stmt) -> DataFrame:
    query, no_data = split_with_data(stmt.body)
    df = engine._sql_inner(query)
    if no_data:
        df = df.limit(0)
    n = get_catalog(engine.spark).create_as(
        stmt.schema, stmt.table, df, parse_props(stmt.props),
        "if_not_exists" in stmt.flags,
    )
    return engine.row_count(n)


def create_table(engine, stmt) -> DataFrame:
    get_catalog(engine.spark).create_empty(
        stmt.schema, stmt.table, parse_columns(stmt.columns),
        parse_props(stmt.props), "if_not_exists" in stmt.flags,
    )
    return engine.ok()


def insert(engine, stmt) -> DataFrame:
    df = engine._sql_inner(stmt.body)
    cols = column_names(stmt.columns) if stmt.columns is not None else None
    n = get_catalog(engine.spark).insert(stmt.schema, stmt.table, df, cols)
    return engine.row_count(n)


def resolve(engine, refs) -> list[str]:
    """The session-catalog name of each ``hive.schema.table`` reference
    (``statements.Reference``); a ``"t$partitions"`` system table
    registers as a global temp view just-in-time."""
    cat = get_catalog(engine.spark)
    out = []
    for _hive, schema, table in (ref.parts for ref in refs):
        if table.endswith("$partitions"):
            out.append(cat.partitions_view(schema, table[:-len("$partitions")]))
        elif cat._exists(schema, table):
            out.append(cat.qualified(schema, table))
        else:
            raise ValueError(f"Table hive.{schema}.{table} does not exist")
    return out


# ---------------------------------------------------------------------------
# driver queries — partition pruning exercised end-to-end on the SQL path
# ---------------------------------------------------------------------------


def _engine(spark: SparkSession, sf_dir: str):
    from facebook_presto_spark.engine import PrestoSparkEngine

    return PrestoSparkEngine.for_dir(sf_dir, spark=spark)


def _make_orders_part(eng, table: str) -> None:
    eng.sql("CREATE SCHEMA IF NOT EXISTS hive.sales")
    eng.sql(f"DROP TABLE IF EXISTS hive.sales.{table}")
    eng.sql(f"""
        CREATE TABLE hive.sales.{table}
        WITH (format = 'PARQUET', partitioned_by = ARRAY['o_orderpriority'])
        AS SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        FROM orders WHERE o_totalprice > 150000.0
    """)
    eng.sql(f"""
        INSERT INTO hive.sales.{table}
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        FROM orders
        WHERE o_totalprice <= 150000.0 AND o_orderpriority = '1-URGENT'
    """)


def connector_hive_partitioned_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CTAS partitioned by o_orderpriority (real key=value directories),
    INSERT into existing partitions, then read back through a partition
    filter — the scan must list only the two matching directories
    (static partition elimination asserted in tools/plan_audit.py)."""
    eng = _engine(spark, sf_dir)
    _make_orders_part(eng, "orders_part")
    return eng.sql("""
        SELECT o_orderpriority, count(*) AS n,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM hive.sales.orders_part
        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """)


ORACLE_ROUNDTRIP = """
SELECT o_orderpriority, count(*) AS n,
       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
FROM orders
WHERE (o_totalprice > 150000.0
   OR (o_totalprice <= 150000.0 AND o_orderpriority = '1-URGENT'))
  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def connector_hive_partitions_metadata(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The "t$partitions" system table (HiveMetadata.java:299-360): one
    typed row per partition, read without touching any data file."""
    eng = _engine(spark, sf_dir)
    _make_orders_part(eng, "orders_partmeta")
    return eng.sql("""
        SELECT * FROM hive.sales."orders_partmeta$partitions"
        ORDER BY o_orderpriority
    """)


ORACLE_PARTITIONS = """
SELECT DISTINCT o_orderpriority
FROM orders WHERE o_totalprice > 150000.0
   OR (o_totalprice <= 150000.0 AND o_orderpriority = '1-URGENT')
ORDER BY o_orderpriority
"""


def connector_hive_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema partition skip: the partition filter exists only on a
    joined dimension, so static elimination cannot fire — dynamic
    partition pruning must (dim filter → broadcast → fact directory
    skip; `dynamicpruningexpression` asserted in tools/plan_audit.py).
    The reference has no DPP (SURVEY §4.2) — its HivePartitionManager
    prunes only from literal predicates."""
    eng = _engine(spark, sf_dir)
    _make_orders_part(eng, "orders_dpp")
    # a file-backed dimension, as in a real star schema: an inline
    # VALUES relation would constant-fold away the selective filter
    # before Spark's PartitionPruning rule runs, and the rule only
    # fires for "likely selective" predicates (=, IN, LIKE prefix)
    eng.sql("DROP TABLE IF EXISTS hive.sales.prio_dim")
    eng.sql("""
        CREATE TABLE hive.sales.prio_dim AS
        SELECT * FROM (
            VALUES ('1-URGENT', 'keep'), ('2-HIGH', 'keep'),
                   ('3-MEDIUM', 'drop'), ('4-NOT SPECIFIED', 'drop'),
                   ('5-LOW', 'drop')
        ) AS d(prio, tag)
    """)
    return eng.sql("""
        SELECT f.o_orderpriority, count(*) AS n,
               sum(CAST(round(f.o_totalprice * 100) AS BIGINT)) AS cents
        FROM hive.sales.orders_dpp f
        JOIN hive.sales.prio_dim d ON f.o_orderpriority = d.prio
        WHERE d.tag = 'keep'
        GROUP BY f.o_orderpriority ORDER BY f.o_orderpriority
    """)


ORACLE_DPP = """
SELECT f.o_orderpriority, count(*) AS n,
       CAST(sum(CAST(round(f.o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
FROM (
    SELECT * FROM orders
    WHERE o_totalprice > 150000.0
       OR (o_totalprice <= 150000.0 AND o_orderpriority = '1-URGENT')
) f
JOIN (
    VALUES ('1-URGENT', 'keep'), ('2-HIGH', 'keep'),
           ('3-MEDIUM', 'drop'), ('4-NOT SPECIFIED', 'drop'),
           ('5-LOW', 'drop')
) AS d(prio, tag) ON f.o_orderpriority = d.prio
WHERE d.tag = 'keep'
GROUP BY f.o_orderpriority ORDER BY f.o_orderpriority
"""


def connector_hive_partition_delete(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Metadata-only DELETE (MetadataDeleteOperator parity): the WHERE
    touches only partition keys, so whole directories drop without
    reading a data row; the read-back aggregate proves exactly the
    matching partitions are gone."""
    eng = _engine(spark, sf_dir)
    _make_orders_part(eng, "orders_del")
    eng.sql("""
        DELETE FROM hive.sales.orders_del
        WHERE o_orderpriority IN ('3-MEDIUM', '5-LOW')
    """)
    return eng.sql("""
        SELECT o_orderpriority, count(*) AS n,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM hive.sales.orders_del
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """)


ORACLE_DELETE = """
SELECT o_orderpriority, count(*) AS n,
       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
FROM orders
WHERE (o_totalprice > 150000.0
   OR (o_totalprice <= 150000.0 AND o_orderpriority = '1-URGENT'))
  AND o_orderpriority NOT IN ('3-MEDIUM', '5-LOW')
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


QUERIES = {
    "connector_hive_partitioned_roundtrip": connector_hive_partitioned_roundtrip,
    "connector_hive_partitions_metadata": connector_hive_partitions_metadata,
    "connector_hive_dpp_join": connector_hive_dpp_join,
    "connector_hive_partition_delete": connector_hive_partition_delete,
}

ORACLE = {
    "connector_hive_partitioned_roundtrip": ORACLE_ROUNDTRIP,
    "connector_hive_partitions_metadata": ORACLE_PARTITIONS,
    "connector_hive_dpp_join": ORACLE_DPP,
    "connector_hive_partition_delete": ORACLE_DELETE,
}
