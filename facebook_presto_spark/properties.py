"""Session properties: the reference's tuning surface mapped to Spark conf.

Reference: presto-main/.../SystemSessionProperties.java (names at lines
58-112) exposed via ``SET SESSION <name> = <value>``.  Each supported
property maps onto the Spark conf that controls the equivalent behavior;
properties whose behavior Spark subsumes (spill, partial aggregation,
hash generation…) are accepted as no-ops so reference workloads run
unchanged, and unknown names raise — same as the reference's validation.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import SparkSession


def _set_conf(key: str, transform: Callable[[str], str] = str):
    def apply(spark: SparkSession, value: str) -> None:
        # SET SESSION values arrive as SQL literals — unquote strings
        spark.conf.set(key, transform(value.strip().strip("'\"")))

    return apply


def _join_distribution(spark: SparkSession, value: str) -> None:
    v = value.strip().strip("'\"").upper()
    if v == "PARTITIONED":
        # never broadcast — force shuffle joins
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    elif v in ("AUTOMATIC", "BROADCAST"):
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")
    else:
        raise ValueError(f"join_distribution_type: unknown value {value!r}")


def _join_reordering(spark: SparkSession, value: str) -> None:
    v = value.strip().strip("'\"").upper()
    if v == "AUTOMATIC":
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    elif v in ("NONE", "ELIMINATE_CROSS_JOINS"):
        # Catalyst always eliminates cross joins when equi-conditions exist;
        # NONE disables the CBO reorder only.
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
    else:
        raise ValueError(f"join_reordering_strategy: unknown value {value!r}")


def _noop(_spark: SparkSession, _value: str) -> None:
    return None


# property name (SystemSessionProperties.java) → applier
PROPERTIES: dict[str, Callable[[SparkSession, str], None]] = {
    # distribution / parallelism
    "hash_partition_count": _set_conf("spark.sql.shuffle.partitions"),
    "join_distribution_type": _join_distribution,
    "distributed_join": lambda s, v: _join_distribution(
        s, "PARTITIONED" if v.strip().lower() in ("true", "1") else "AUTOMATIC"
    ),
    "join_reordering_strategy": _join_reordering,
    "reorder_joins": lambda s, v: _join_reordering(
        s, "AUTOMATIC" if v.strip().lower() in ("true", "1") else "NONE"
    ),
    # limits Spark enforces through its own memory manager — accepted, no-op
    "query_max_memory": _noop,
    "query_max_total_memory": _noop,
    "query_max_run_time": _noop,
    "query_max_execution_time": _noop,
    # features Spark always provides (spiller/, MemoryRevokingScheduler …)
    "spill_enabled": _noop,
    "optimize_hash_generation": _noop,
    "push_aggregation_through_join": _noop,
    "push_partial_aggregation_through_join": _noop,
    "dictionary_aggregation": _noop,
    "fast_inequality_joins": _noop,
    "colocated_join": _noop,
    "redistribute_writes": _noop,
    "scale_writers": _noop,
    # execution knobs with direct Spark twins
    "task_concurrency": _set_conf("spark.sql.shuffle.partitions"),
    "execution_policy": _noop,
    "join_max_broadcast_table_size": _set_conf(
        "spark.sql.autoBroadcastJoinThreshold"
    ),
    "max_reordered_joins": _set_conf("spark.sql.cbo.joinReorder.dp.threshold"),
    "enable_stats_calculator": _set_conf("spark.sql.cbo.enabled"),
    "optimize_metadata_queries": _set_conf("spark.sql.optimizer.metadataOnly"),
    # row_number() <= k heap pushdown (WindowFilterPushDown.java ↔ Spark's
    # InferWindowGroupLimit): false disables via threshold -1
    "optimize_top_n_row_number": lambda s, v: s.conf.set(
        "spark.sql.optimizer.windowGroupLimitThreshold",
        "1000" if v.strip().strip("'\"").lower() in ("true", "1") else "-1",
    ),
}

# The remainder of SystemSessionProperties.java (lines 58-112): behaviors
# Spark subsumes (its optimizer always applies the rewrite, its scheduler
# / memory manager owns the resource), validation-only limits, or legacy
# toggles with no Spark analogue.  Accepted as no-ops so reference
# workloads run unchanged — same contract as the spill/pushdown no-ops
# above; unknown names still raise.
# Engine-extension properties (NOT in SystemSessionProperties.java):
# grant enforcement for the SQL path (access.enforce — the reference
# does this through AccessControl plugins with connector identities).
PROPERTIES["enforce_access_control"] = _set_conf("spark.fps.enforceAccessControl")
PROPERTIES["session_user"] = _set_conf("spark.fps.sessionUser")


_SUBSUMED = (
    "distributed_index_join", "grouped_execution_for_aggregation",
    "dynamic_schedule_for_grouped_execution", "prefer_streaming_operators",
    "task_writer_count", "task_share_index_loading", "resource_overcommit",
    "query_max_cpu_time", "query_max_stage_count", "writer_min_size",
    "push_table_write_through_union", "plan_with_table_node_partitioning",
    "spatial_join", "spatial_partitioning_table_name",
    "concurrent_lifespans_per_task", "initial_splits_per_node",
    "split_concurrency_adjustment_interval", "query_priority",
    "aggregation_operator_unspill_memory_limit",
    "optimize_mixed_distinct_aggregations", "legacy_row_field_ordinal_access",
    "iterative_optimizer_enabled", "iterative_optimizer_timeout",
    "exchange_compression", "legacy_timestamp",
    "enable_intermediate_aggregations", "parse_decimal_literals_as_double",
    "force_single_node_output", "filter_and_project_min_output_page_size",
    "filter_and_project_min_output_page_row_count", "distributed_sort",
    "use_mark_distinct", "prefer_partial_aggregation", "max_grouping_sets",
    "legacy_unnest", "statistics_cpu_timer_enabled",
    "ignore_stats_calculator_failures", "max_drivers_per_task",
    "default_filter_factor_enabled",
)
for _name in _SUBSUMED:
    PROPERTIES[_name] = _noop


# Spark confs each property may have touched, for RESET SESSION
_PROPERTY_CONFS: dict[str, tuple[str, ...]] = {
    "enforce_access_control": ("spark.fps.enforceAccessControl",),
    "session_user": ("spark.fps.sessionUser",),
    "hash_partition_count": ("spark.sql.shuffle.partitions",),
    "task_concurrency": ("spark.sql.shuffle.partitions",),
    "join_distribution_type": ("spark.sql.autoBroadcastJoinThreshold",),
    "distributed_join": ("spark.sql.autoBroadcastJoinThreshold",),
    "join_reordering_strategy": (
        "spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled",
    ),
    "reorder_joins": (
        "spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled",
    ),
    "join_max_broadcast_table_size": ("spark.sql.autoBroadcastJoinThreshold",),
    "max_reordered_joins": ("spark.sql.cbo.joinReorder.dp.threshold",),
    "enable_stats_calculator": ("spark.sql.cbo.enabled",),
    "optimize_metadata_queries": ("spark.sql.optimizer.metadataOnly",),
    "optimize_top_n_row_number": (
        "spark.sql.optimizer.windowGroupLimitThreshold",
    ),
}


def snapshot_confs(spark: SparkSession, names) -> dict[str, str | None]:
    """Current values (None = unset) of every Spark conf the given
    session-property names may touch — taken BEFORE applying them, so a
    statement-scoped property can be rolled back (the reference applies
    X-Presto-Session per request: Session.java builds a fresh session
    from headers for each statement, nothing leaks across clients)."""
    snap: dict[str, str | None] = {}
    for name in names:
        for conf in _PROPERTY_CONFS.get(name.strip().lower(), ()):
            if conf not in snap:
                try:
                    snap[conf] = spark.conf.get(conf)
                except Exception:
                    snap[conf] = None
    return snap


def restore_confs(spark: SparkSession, snap: dict[str, str | None]) -> None:
    for conf, value in snap.items():
        try:
            if value is None:
                spark.conf.unset(conf)
            else:
                spark.conf.set(conf, value)
        except Exception:
            pass


def set_session_property(spark: SparkSession, name: str, value: str) -> None:
    key = name.strip().lower()
    if key not in PROPERTIES:
        raise ValueError(f"unknown session property: {name}")
    PROPERTIES[key](spark, value)


def reset_session_property(spark: SparkSession, name: str) -> None:
    """RESET SESSION <name> (SqlBase.g4:89) — restore the default by
    unsetting whichever Spark confs the property maps onto."""
    key = name.strip().lower()
    if key not in PROPERTIES:
        raise ValueError(f"unknown session property: {name}")
    for conf in _PROPERTY_CONFS.get(key, ()):
        try:
            spark.conf.unset(conf)
        except Exception:
            pass


def parse_set_session(sql: str) -> tuple[str, str] | None:
    """Return (name, value) if ``sql`` is a SET SESSION statement."""
    from facebook_presto_spark.statements import classify

    stmt = classify(sql)
    if stmt.kind != "set_session":
        return None
    return ".".join(stmt.name), stmt.body
