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
from urllib.parse import unquote

_CALL_RE = re.compile(
    r"\s*CALL\s+(?P<name>(?:\"[^\"]+\"|[\w$]+)(?:\s*\.\s*(?:\"[^\"]+\"|[\w$]+)){0,2})"
    r"\s*\((?P<args>.*)\)\s*;?\s*$",
    re.I | re.S,
)
_NAMED_RE = re.compile(r"\s*([A-Za-z_]\w*)\s*=>\s*(.*)$", re.S)

# catalogs the engine serves (systemtables.refresh_metadata's registry)
_KNOWN_CATALOGS = {
    "spark", "memory", "blackhole", "localfile", "jmx", "example",
    "tpch", "hive", "system",
}


def _split_args(text: str) -> list[str]:
    """Split the CALL argument list on top-level commas (quote- and
    bracket-aware)."""
    parts, depth, cur, quote = [], 0, [], None
    i = 0
    while i < len(text):
        ch = text[i]
        if quote:
            cur.append(ch)
            if ch == quote:
                if i + 1 < len(text) and text[i + 1] == quote:
                    cur.append(text[i + 1])
                    i += 1
                else:
                    quote = None
        elif ch in "'\"":
            quote = ch
            cur.append(ch)
        elif ch in "([":
            depth += 1
            cur.append(ch)
        elif ch in ")]":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    tail = "".join(cur).strip()
    if tail:
        parts.append(tail)
    return parts


# --- hive.system.create_empty_partition ------------------------------------

def _hive_create_empty_partition(engine, args: dict) -> None:
    """CreateEmptyPartitionProcedure.createEmptyPartition (:88-130)."""
    from facebook_presto_spark.catalog import list_columns
    from facebook_presto_spark.hive_catalog import get_catalog

    spark = engine.spark
    cat = get_catalog(spark)
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
    qualified = cat.qualified(schema, table)
    actual = [
        c.name for c in list_columns(spark, qualified) if c.is_partition
    ]
    if list(part_cols) != actual or len(part_vals) != len(actual):
        # CreateEmptyPartitionProcedure.java:98 (INVALID_PROCEDURE_ARGUMENT)
        raise ValueError(
            "input partition column names doesn't match actual partition "
            "column names"
        )
    existing = set()
    for r in spark.sql(f"SHOW PARTITIONS {qualified}").collect():
        vals = []
        for piece in r["partition"].split("/"):
            _k, _eq, v = piece.partition("=")
            vals.append(unquote(v))
        existing.add(tuple(vals))
    if tuple(str(v) for v in part_vals) in existing:
        # CreateEmptyPartitionProcedure.java:106 (ALREADY_EXISTS)
        raise ValueError("Partition already exists")
    spec = ", ".join(
        "`%s`='%s'" % (c, str(v).replace("'", "\\'"))
        for c, v in zip(actual, part_vals)
    )
    spark.sql(f"ALTER TABLE {qualified} ADD PARTITION ({spec})")


# registry: (catalog, schema, procedure) → (ordered argument names, body)
REGISTRY = {
    ("hive", "system", "create_empty_partition"): (
        ("schema_name", "table_name", "partition_columns",
         "partition_values"),
        _hive_create_empty_partition,
    ),
}


def dispatch(engine, sql: str):
    """Execute a CALL statement; None = not a CALL.  Raises the
    CallTask/ProcedureRegistry error texts for every failure mode, so
    nothing CALL-shaped falls through to a generic rejection."""
    m = _CALL_RE.match(sql)
    if m is None:
        if re.match(r"\s*CALL\b", sql, re.I):
            raise ValueError(f"Invalid CALL statement: {sql.strip()}")
        return None
    if engine.current_transaction() is not None:
        # CallTask.java:73 (NOT_SUPPORTED)
        raise ValueError(
            "Procedures cannot be called within a transaction "
            "(use autocommit mode)"
        )
    parts = [p.strip().strip('"') for p in re.split(r"\s*\.\s*", m.group("name"))]
    if len(parts) != 3:
        # createQualifiedObjectName: session catalog/schema would fill
        # in — the engine requires the fully qualified form
        raise ValueError(
            f"Procedure name must be fully qualified: {m.group('name')}"
        )
    catalog, schema, proc = (p.lower() for p in parts)
    if catalog not in _KNOWN_CATALOGS:
        # CallTask.java:79 (MISSING_CATALOG)
        raise ValueError(f"Catalog {catalog} does not exist")
    entry = REGISTRY.get((catalog, schema, proc))
    if entry is None:
        # ProcedureRegistry.resolve (:86)
        raise ValueError(f"Procedure not registered: {schema}.{proc}")
    arg_names, body = entry

    raw = _split_args(m.group("args"))
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
        row = engine.sql(f"SELECT {expr} AS v").collect()
        values[name] = row[0]["v"] if row else None
    body(engine, values)
    return engine.spark.sql("SELECT true AS ok WHERE false")
