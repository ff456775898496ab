"""SparkSession factory tuned for this engine.

The reference hand-implements memory pools, spill, exchanges, and codegen
(presto-main/.../memory/, spiller/, operator/ExchangeOperator.java:36,
sql/gen/ExpressionCompiler.java:55).  On Spark all of that is built in; the
session factory's job is only to pick configs that hold at scale:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast switching) — strictly dominates the reference's static CBO.
- shuffle.partitions sized to cores locally; on a real cluster AQE's
  coalescing makes the initial number far less sensitive.
- Arrow enabled so any pandas-UDF fallback is vectorized batch transfer.
- UTC session timezone for deterministic date/timestamp semantics
  (the reference's timestamp is zone-less; see SURVEY.md §1.2).
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession

_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "facebook_presto_spark", cpus: str | int | None = None) -> SparkSession:
    """Return (creating if needed) the tuned SparkSession.

    In local mode the driver is the only JVM, so ``spark.driver.memory`` is
    the single memory knob.  On a cluster, the same configs apply per
    executor and AQE handles the rest.
    """
    cpus = str(cpus or _DEFAULT_CPUS)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # --- shuffle & adaptive execution -------------------------------
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- scan sizing: 128MB splits = good parallelism at TB scale ---
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- python interop: Arrow batches, never per-row pickle --------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- semantics ---------------------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # Presto's TIME type (StandardTypes.java:35) maps to Spark 4.1's
        # TimeType, which is still flag-gated
        .config("spark.sql.timeType.enabled", "true")
        # ANSI off matches the reference's permissive double arithmetic;
        # our try()/try_cast helpers provide the safe variants explicitly.
        .config("spark.sql.ansi.enabled", "false")
        # --- robustness under CPU starvation ------------------------------
        # The sandbox shows multi-minute CPU-steal freezes; with the 10s
        # default heartbeat RPC timeout the local executor gives up after
        # 60 failed sends ("Exit as unable to send heartbeats") and kills
        # the context mid-suite.  A longer interval and network timeout
        # are also sane on a real cluster (guide §7.4 first remedy for
        # spurious executor loss); network.timeout must exceed the
        # heartbeat interval.
        .config("spark.executor.heartbeatInterval", "30s")
        .config("spark.network.timeout", "600s")
        # --- local-mode memory ------------------------------------------
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@functools.lru_cache(maxsize=64)
def _ddl_schemas(ddl: str):
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(ddl)
    return struct, to_arrow_schema(struct)


def local_dataframe(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """A small driver-built result (``rows`` of tuples matching the DDL
    schema ``ddl``) as a DataFrame over a ``LocalRelation``.

    ``createDataFrame(list)`` parallelizes its rows into an RDD, so every
    read of the result runs Spark jobs.  From a pyarrow table below
    ``spark.sql.execution.arrow.localRelationThreshold`` Spark keeps the
    rows in the plan instead: the physical root is a ``LocalTableScanExec``
    and ``collect()`` answers without a job (see ``server.result_rows``).
    """
    import pyarrow as pa

    struct, arrow = _ddl_schemas(ddl)
    columns = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema=struct)


def global_local_view(spark: SparkSession, name: str, rows, ddl: str) -> str:
    """Register ``rows`` (as ``local_dataframe``) as the global temp view
    ``name`` and return its qualified name for statement text.

    Global temp views are shared by every session of the application
    and are never listed by ``SHOW TABLES`` / ``SHOW SCHEMAS`` or the
    catalog listings, and a query over one still plans as a
    ``LocalTableScanExec`` (no Spark job).
    """
    local_dataframe(spark, rows, ddl).createOrReplaceGlobalTempView(name)
    return f"{spark.conf.get('spark.sql.globalTempDatabase')}.{name}"


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
