"""Connector procedure registry + the CALL statement.

Reference surface:

- ``presto-spi/.../procedure/Procedure.java`` — a procedure is a
  (schema, name, typed argument list, method handle) registered by a
  connector.
- ``presto-main/.../metadata/ProcedureRegistry.java:77`` — resolution
  by (connector, schema.name); "Procedure not registered: <name>".
- ``presto-main/.../execution/CallTask.java`` — the binding rules and
  their error texts: no CALL inside an explicit transaction, named and
  positional arguments cannot be mixed, duplicate/unknown named
  arguments, too many / too few arguments; argument expressions are
  evaluated as constants.
- ``presto-hive/.../CreateEmptyPartitionProcedure.java`` (registered by
  ``HiveProcedureModule.java`` as ``hive.system.create_empty_partition``)
  — begins an insert to resolve the actual partition columns, rejects a
  mismatched ``partition_columns`` argument (INVALID_PROCEDURE_ARGUMENT)
  and an existing partition (ALREADY_EXISTS), then commits an empty
  partition at the standard ``key=value`` location.

Spark-first: the procedure body is metadata work against the session
catalog — ``ALTER TABLE ... ADD PARTITION`` creates the empty
``key=value`` directory and registers it in the metastore in one step,
which is exactly the reference's finishInsert of a zero-row
PartitionUpdate.  Argument expressions are evaluated through the
engine's own SQL front-end (``SELECT <expr>``), so every constant form
the reference accepts (``ARRAY['a','b']``, string/number literals,
arithmetic) evaluates with Presto semantics.
"""

from __future__ import annotations

import re

from facebook_presto_spark.sqlfront.tokens import split_text

# system.runtime.kill_query('<query id>'[, '<message>'])
# (KillQueryProcedure.java:53-76 — systemtables.py serves the registry)
_KILL_ARGS_RE = re.compile(r"\(\s*'([^']*)'\s*(?:,\s*'([^']*)')?\s*\)")
_NAMED_RE = re.compile(r"\s*([A-Za-z_]\w*)\s*=>\s*(.*)$", re.S)

# catalogs the engine serves (systemtables.refresh_metadata's registry)
_KNOWN_CATALOGS = {
    "spark", "memory", "blackhole", "localfile", "jmx", "example",
    "tpch", "hive", "system",
}


# --- hive.system.create_empty_partition ------------------------------------

def _hive_create_empty_partition(engine, args: dict) -> None:
    """CreateEmptyPartitionProcedure.createEmptyPartition (:88-130)."""
    from facebook_presto_spark.hive_catalog import get_catalog, partition_spec

    cat = get_catalog(engine.spark)
    schema = args["schema_name"]
    table = args["table_name"]
    part_cols = args["partition_columns"]
    part_vals = args["partition_values"]
    for name in ("schema_name", "table_name", "partition_columns",
                 "partition_values"):
        if args[name] is None:
            raise ValueError(f"Procedure argument cannot be null: {name}")
    if not cat._exists(schema, table):
        # beginInsert → TableNotFoundException text shape
        raise ValueError(f"Table hive.{schema}.{table} does not exist")
    actual = cat.partition_columns(schema, table)
    if list(part_cols) != actual or len(part_vals) != len(actual):
        # CreateEmptyPartitionProcedure.java:98 (INVALID_PROCEDURE_ARGUMENT)
        raise ValueError(
            "input partition column names doesn't match actual partition "
            "column names"
        )
    values = tuple(str(v) for v in part_vals)
    if values in cat.partitions(schema, table):
        # CreateEmptyPartitionProcedure.java:106 (ALREADY_EXISTS)
        raise ValueError("Partition already exists")
    engine.spark.sql(f"ALTER TABLE {cat.qualified(schema, table)} "
                     f"ADD PARTITION ({partition_spec(actual, values)})")


# registry: (catalog, schema, procedure) → (ordered argument names, body)
REGISTRY = {
    ("hive", "system", "create_empty_partition"): (
        ("schema_name", "table_name", "partition_columns",
         "partition_values"),
        _hive_create_empty_partition,
    ),
}


def call(engine, stmt):
    """Execute a CALL statement.  Raises the CallTask/ProcedureRegistry
    error texts for every failure mode, so nothing CALL-shaped falls
    through to a translation error."""
    args = stmt.body
    if tuple(p.lower() for p in stmt.name) == ("system", "runtime", "kill_query"):
        m = _KILL_ARGS_RE.fullmatch(args)
        if m is not None:
            engine.runtime.kill_query(m.group(1), m.group(2))
            return engine.ok()
    if not (stmt.name and len(stmt.name) <= 3 and args.startswith("(")
            and args.endswith(")")):
        raise ValueError(f"Invalid CALL statement: {stmt.sql.strip()}")
    if engine.transaction is not None:
        # CallTask.java:73 (NOT_SUPPORTED)
        raise ValueError(
            "Procedures cannot be called within a transaction "
            "(use autocommit mode)"
        )
    if len(stmt.name) != 3:
        # createQualifiedObjectName: session catalog/schema would fill
        # in — the engine requires the fully qualified form
        raise ValueError(
            f"Procedure name must be fully qualified: {'.'.join(stmt.name)}"
        )
    catalog, schema, proc = (p.lower() for p in stmt.name)
    if catalog not in _KNOWN_CATALOGS:
        # CallTask.java:79 (MISSING_CATALOG)
        raise ValueError(f"Catalog {catalog} does not exist")
    entry = REGISTRY.get((catalog, schema, proc))
    if entry is None:
        # ProcedureRegistry.resolve (:86)
        raise ValueError(f"Procedure not registered: {schema}.{proc}")
    arg_names, body = entry

    raw = split_text(args[1:-1])
    named = [_NAMED_RE.match(a) for a in raw]
    if any(named) and not all(named):
        raise ValueError("Named and positional arguments cannot be mixed")
    bound: dict[str, str] = {}
    for i, (a, nm) in enumerate(zip(raw, named)):
        if nm is not None:
            name = nm.group(1).lower()
            if name in bound:
                raise ValueError(f"Duplicate procedure argument: {name}")
            if name not in arg_names:
                raise ValueError(f"Unknown argument name: {name}")
            bound[name] = nm.group(2)
        elif i < len(arg_names):
            bound[arg_names[i]] = a
        else:
            raise ValueError("Too many arguments for procedure")
    if len(bound) < len(arg_names):
        raise ValueError("Too few arguments for procedure")

    # constant-expression evaluation through the engine's front-end
    # (CallTask evaluateConstantExpression)
    values = {}
    for name, expr in bound.items():
        row = engine._sql_inner(f"SELECT {expr} AS v").collect()
        values[name] = row[0]["v"] if row else None
    body(engine, values)
    return engine.ok()
