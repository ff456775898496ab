"""DDL/DML: CREATE TABLE AS, INSERT, DELETE, SHOW/DESCRIBE.

Reference surface:

- TableWriterOperator (presto-main/.../operator/TableWriterOperator.java:58)
  + TableFinishOperator (TableFinishOperator.java) — CTAS/INSERT pages flow
  into a ConnectorPageSink and a coordinator-side commit finalizes them.
  Spark's write path (FileFormatWriter + commit protocol) is the same
  two-phase design; ``df.write`` is the whole mapping.
- DeleteOperator / MetadataDeleteOperator (DeleteOperator.java:39) — Presto
  row-level DELETE marks row positions for the connector; on plain parquet
  the scalable equivalent is copy-on-write: rewrite surviving rows, swap.
  (Delta/Iceberg would do this natively; parquet is what the environment
  ships.)
- DDL tasks (execution/CreateTableTask.java, DropTableTask.java …) —
  short-circuit metadata ops → spark.catalog calls.

Scale notes: CTAS/INSERT inherit the source DataFrame's partitioning — at
100 TB callers should ``partition_by`` a natural key (date) so downstream
scans prune; DELETE's rewrite cost is proportional to the *partitions
touched*, not table size, when the predicate aligns with partitioning
(partition-pruned scan → only matching directories rewritten).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from facebook_presto_spark.catalog import list_tables


def create_table_as(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    *,
    partition_by: list[str] | None = None,
    mode: str = "errorifexists",
) -> DataFrame:
    """CTAS onto parquet at ``path``; returns the (re-read) table."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return spark.read.parquet(path)


def create_bucketed_table(
    spark: SparkSession,
    name: str,
    df: DataFrame,
    *,
    bucket_by: list[str],
    bucket_count: int,
    sort_by: list[str] | None = None,
    mode: str = "errorifexists",
) -> DataFrame:
    """CTAS with hash bucketing — the reference's Hive-connector
    ``WITH (bucketed_by = ARRAY[...], bucket_count = N)`` table properties
    (presto-hive/.../HiveTableProperties.java; grouped/bucketed execution
    per SURVEY.md §4.3).

    At scale this is the shuffle-elimination primitive: two tables
    bucketed on the join key with equal bucket counts sort-merge-join
    with NO Exchange on either side (asserted in tests/test_bucketing.py)
    — the co-located join the reference gets from Hive bucketing.
    Catalog tables (saveAsTable) rather than path writes because bucket
    metadata lives in the catalog.
    """
    writer = df.write.mode(mode).bucketBy(bucket_count, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.format("parquet").saveAsTable(name)
    return spark.table(name)


def insert_into(spark: SparkSession, path: str, df: DataFrame) -> DataFrame:
    """INSERT INTO an existing parquet table (append, schema-by-name)."""
    existing = spark.read.parquet(path)
    aligned = df.select(*[F.col(c) for c in existing.columns])
    aligned.write.mode("append").parquet(path)
    return spark.read.parquet(path)


def delete_where(spark: SparkSession, path: str, predicate: Column | str) -> int:
    """DELETE FROM table WHERE predicate; returns rows deleted.

    Copy-on-write: surviving rows are rewritten to a sibling directory and
    atomically swapped in (rename).  The anti-filter is a parquet-pushed
    scan, so partitions with no matches are pure read-through; on a real
    lake format this becomes a metadata-only operation for aligned
    predicates.
    """
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    src = spark.read.parquet(path)
    deleted = src.filter(pred).count()
    if deleted == 0:
        return 0
    tmp = f"{path}.__rewrite_{uuid.uuid4().hex[:8]}"
    # DELETE removes only rows where the predicate is TRUE; rows where it
    # evaluates to NULL must survive the rewrite (plain ~pred would drop
    # them, since both pred and ~pred are NULL there).
    src.filter(~F.coalesce(pred, F.lit(False))).write.parquet(tmp)
    old = f"{path}.__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return deleted


def alter_table(spark: SparkSession, table: str, action: str, **kw) -> None:
    """ALTER TABLE — the four grammar alternatives (SqlBase.g4:52-58;
    execution/RenameTableTask / RenameColumnTask / DropColumnTask /
    AddColumnTask).

    Catalog tables go through Spark's native ALTER where it exists; our
    registered temp views (and column ops v1 parquet tables can't do
    in-place) re-register the transformed DataFrame under the same name —
    a metadata-only operation either way (the underlying files are
    untouched; only the view definition changes).
    """
    is_temp = any(
        rel.name == table.split(".")[-1] and rel.is_temp
        for rel in list_tables(spark)
    )
    if action == "rename_table":
        target = kw["to"]
        if is_temp:
            df = spark.table(table)
            df.createOrReplaceTempView(target)
            spark.catalog.dropTempView(table)
        else:
            spark.sql(f"ALTER TABLE {table} RENAME TO {target}")
        return
    df = spark.table(table)
    if action == "add_column":
        df = df.withColumn(kw["column"], F.lit(None).cast(kw["dtype"]))
    elif action == "drop_column":
        df = df.drop(kw["column"])
    elif action == "rename_column":
        df = df.withColumnRenamed(kw["column"], kw["to"])
    else:
        raise ValueError(f"unknown ALTER TABLE action: {action}")
    if is_temp:
        df.createOrReplaceTempView(table)
    else:
        # v1 parquet catalog tables only support ADD COLUMNS natively;
        # rewrite-and-replace covers the rest uniformly
        df.write.mode("overwrite").saveAsTable(f"{table}__altered")
        spark.sql(f"DROP TABLE {table}")
        spark.sql(f"ALTER TABLE {table}__altered RENAME TO {table}")


def show_tables(spark: SparkSession) -> list[str]:
    """SHOW TABLES (execution/ShowTablesTask-equivalent via ShowQueriesRewrite)."""
    return sorted(rel.name for rel in list_tables(spark))


def describe_table(spark: SparkSession, name: str) -> list[Row]:
    """DESCRIBE table → (col_name, data_type) rows, Presto SHOW COLUMNS shape."""
    return spark.sql(f"DESCRIBE TABLE {name}").collect()


def explain_analyze(df: DataFrame) -> str:
    """EXPLAIN ANALYZE (ExplainAnalyzeOperator): run, then formatted plan.

    Spark's formatted explain carries per-node statistics once the query
    has executed under AQE (final plan + runtime shuffle metrics).
    """
    import contextlib
    import io

    df.count()  # execute so AQE finalizes the plan
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ---------------------------------------------------------------------------
# driver queries: verifiable write→read round-trips
# ---------------------------------------------------------------------------

_SCRATCH = "/root/repo/.scratch"


def _scratch(name: str) -> str:
    os.makedirs(_SCRATCH, exist_ok=True)
    path = os.path.join(_SCRATCH, name)
    if os.path.exists(path):
        shutil.rmtree(path)
    return path


def ddl_ctas_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTAS a filtered+projected orders slice, partitioned by priority, and
    aggregate the re-read table — verifies the full write/commit/read path."""
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    slice_df = orders.filter(F.col("o_totalprice") > 100000.0).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    table = create_table_as(
        spark, _scratch("ctas_orders"), slice_df,
        partition_by=["o_orderpriority"], mode="overwrite",
    )
    return (
        table.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_CTAS = """
SELECT o_orderpriority, count(*) AS n,
       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
FROM orders WHERE o_totalprice > 100000.0
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def ddl_insert_delete_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTAS low-balance customers, INSERT the high-balance rest, DELETE the
    negative balances; equivalent to SELECT ... WHERE c_acctbal >= 0."""
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet")).select(
        "c_custkey", "c_acctbal", "c_nationkey"
    )
    path = _scratch("dml_customer")
    create_table_as(spark, path, cust.filter(F.col("c_acctbal") < 5000.0))
    insert_into(spark, path, cust.filter(F.col("c_acctbal") >= 5000.0))
    delete_where(spark, path, F.col("c_acctbal") < 0.0)
    table = spark.read.parquet(path)
    return table.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias("bal_cents"),
    ).orderBy("c_nationkey")


ORACLE_DML = """
SELECT c_nationkey, count(*) AS n,
       CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) AS bal_cents
FROM customer WHERE c_acctbal >= 0.0
GROUP BY c_nationkey ORDER BY c_nationkey
"""


def ddl_txn_rollback_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction staging end-to-end (transactions.stage —
    the undo-log analogue of SemiTransactionalHiveMetastore
    staging): CTAS nation into hive, then inside an explicit
    transaction DELETE a slice, INSERT duplicates, ADD a column, and
    RENAME the table — and ROLLBACK.  The returned relation is the
    RESTORED table; the oracle is plain nation, so the driver's hash
    compare proves rollback restored schema, rows, and name exactly."""
    from facebook_presto_spark.catalog import register_views
    from facebook_presto_spark.engine import PrestoSparkEngine

    eng = PrestoSparkEngine.for_dir(sf_dir, spark=spark)
    register_views(spark, sf_dir)
    eng.sql("CREATE SCHEMA IF NOT EXISTS hive.txnq")
    eng.sql("DROP TABLE IF EXISTS hive.txnq.nation_rt")
    eng.sql("DROP TABLE IF EXISTS hive.txnq.nation_rt2")
    eng.sql("CREATE TABLE hive.txnq.nation_rt "
            "WITH (partitioned_by = ARRAY['n_regionkey']) AS "
            "SELECT n_nationkey, n_name, n_regionkey FROM nation")
    eng.sql("START TRANSACTION")
    # hive DELETE must drop whole partitions (HiveMetadata's
    # "only supports delete where one or more partitions are deleted
    # entirely") — n_regionkey is the partition key
    eng.sql("DELETE FROM hive.txnq.nation_rt WHERE n_regionkey = 0")
    eng.sql("INSERT INTO hive.txnq.nation_rt "
            "SELECT n_nationkey, n_name, n_regionkey FROM nation")
    eng.sql("ALTER TABLE hive.txnq.nation_rt ADD COLUMN extra DOUBLE")
    eng.sql("ALTER TABLE hive.txnq.nation_rt RENAME TO hive.txnq.nation_rt2")
    eng.sql("ROLLBACK")
    return eng.sql(
        "SELECT n_nationkey, n_regionkey, n_name FROM hive.txnq.nation_rt "
        "ORDER BY n_nationkey")


ORACLE_TXN = """
SELECT n_nationkey, n_regionkey, n_name FROM nation ORDER BY n_nationkey
"""


QUERIES = {
    "ddl_ctas_roundtrip": ddl_ctas_roundtrip,
    "ddl_insert_delete_roundtrip": ddl_insert_delete_roundtrip,
    "ddl_txn_rollback_roundtrip": ddl_txn_rollback_roundtrip,
}

ORACLE = {
    "ddl_ctas_roundtrip": ORACLE_CTAS,
    "ddl_insert_delete_roundtrip": ORACLE_DML,
    "ddl_txn_rollback_roundtrip": ORACLE_TXN,
}
