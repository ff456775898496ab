"""Session transaction context — START TRANSACTION / COMMIT / ROLLBACK.

Reference surface:

- ``presto-parser/.../SqlBase.g4:90-92`` — the three statement
  alternatives and the transaction modes (``ISOLATION LEVEL`` ×4,
  ``READ ONLY`` / ``READ WRITE``).
- ``StartTransactionTask.java`` — nested transactions rejected
  ("Nested transactions not supported"), duplicate modes rejected
  ("Multiple transaction isolation levels specified" / "Multiple
  transaction read modes specified").
- ``CommitTask.java`` / ``RollbackTask.java`` — "No transaction in
  progress" outside a transaction.
- ``InMemoryTransactionManager.java:456`` — READ_ONLY_VIOLATION:
  "Cannot execute write in a read-only transaction";
  ``TransactionManager.java:30-31`` — defaults READ UNCOMMITTED /
  read-write; ``TransactionId.create`` — a random UUID.
- ``TransactionsSystemTable.java:61-68`` — the
  ``system.runtime.transactions`` row shape.
- ``PrestoHeaders.java:35-37`` — the protocol headers the JDBC/CLI
  clients drive this with: ``X-Presto-Transaction-Id`` (request),
  ``X-Presto-Started-Transaction-Id`` / ``X-Presto-Clear-Transaction-Id``
  (response) — wired in server.py.

Spark-first semantics: Spark commits every write per statement (one
two-phase-commit job each), so a transaction here is a session-scoped
CONTEXT — it carries the isolation level and access mode, REJECTS
writes in READ ONLY transactions with the reference's message, lists
live transactions in ``system.runtime.transactions``, and round-trips
the protocol headers.  Since round 8, hive/memory CTAS/INSERT/DELETE
inside an explicit transaction register compensating actions in an
undo log (``stage`` below), so ROLLBACK restores the
pre-transaction table state — the file-retention analogue of the
reference's SemiTransactionalHiveMetastore staging.  Writes stay
visible between statements (READ UNCOMMITTED is the engine default,
like the reference's TransactionManager.java:30) and within the
transaction (read-your-writes).  Since round 9 metadata statements
stage too (ALTER TABLE RENAME TO / ADD COLUMN / RENAME
COLUMN / DROP COLUMN, DROP TABLE, CREATE/DROP VIEW — the same set
SemiTransactionalHiveMetastore queues).  The remaining
single-statement residual is session/authorization state (GRANT/
REVOKE, SET SESSION, schema CREATE/DROP) — documented in COVERAGE.md.
"""

from __future__ import annotations

import datetime as dt
import re
import threading
import uuid

ISOLATION_LEVELS = (
    "READ UNCOMMITTED", "READ COMMITTED", "REPEATABLE READ", "SERIALIZABLE"
)
DEFAULT_ISOLATION = "READ UNCOMMITTED"  # TransactionManager.java:30


class TransactionInfo:
    __slots__ = ("tid", "isolation", "read_only", "auto_commit",
                 "create_time", "last_active", "written_catalog", "catalogs",
                 "undo", "backup_dirs", "rolling_back")

    def __init__(self, tid: str, isolation: str, read_only: bool,
                 auto_commit: bool = False):
        self.tid = tid
        self.isolation = isolation
        self.read_only = read_only
        self.auto_commit = auto_commit
        self.create_time = dt.datetime.now()
        self.last_active = self.create_time
        self.written_catalog: str | None = None
        self.catalogs: list[str] = []
        # round 8: compensating actions for hive/memory writes staged
        # inside this transaction (stage), run in reverse on
        # ROLLBACK; backup_dirs holds the .txn_undo file retention
        self.undo: list = []
        self.backup_dirs: list[str] = []
        # set while ROLLBACK replays the undo log, so compensating
        # statements executed through engine.sql don't re-stage
        self.rolling_back = False


class TransactionManager:
    """In-memory registry of live transactions
    (InMemoryTransactionManager parity, minus the per-connector
    metadata handles Spark doesn't need)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._txns: dict[str, TransactionInfo] = {}

    def begin(self, isolation: str, read_only: bool) -> str:
        tid = str(uuid.uuid4())  # TransactionId.create
        with self._lock:
            self._txns[tid] = TransactionInfo(tid, isolation, read_only)
        return tid

    def get(self, tid: str) -> TransactionInfo:
        with self._lock:
            info = self._txns.get(tid)
        if info is None:
            # InMemoryTransactionManager.getTransactionInfo →
            # NotInTransactionException text
            raise ValueError(f"Unknown transaction ID: {tid}")
        return info

    def touch(self, tid: str, catalog: str | None = None,
              wrote: bool = False) -> None:
        info = self.get(tid)
        info.last_active = dt.datetime.now()
        if catalog and catalog not in info.catalogs:
            info.catalogs.append(catalog)
        if wrote and catalog:
            info.written_catalog = catalog

    def end(self, tid: str) -> None:
        with self._lock:
            self._txns.pop(tid, None)

    def rows(self) -> list[tuple]:
        """system.runtime.transactions rows
        (TransactionsSystemTable.java:61-68 column order)."""
        now = dt.datetime.now()
        with self._lock:
            infos = list(self._txns.values())
        return [
            (
                t.tid, t.isolation, t.read_only, t.auto_commit,
                t.create_time,
                int((now - t.last_active).total_seconds()),
                t.written_catalog, list(t.catalogs),
            )
            for t in infos
        ]


# ---------------------------------------------------------------------------
# statement handlers and the transaction guard
# ---------------------------------------------------------------------------

_MODE_RE = re.compile(
    r"ISOLATION\s+LEVEL\s+(READ\s+UNCOMMITTED|READ\s+COMMITTED|"
    r"REPEATABLE\s+READ|SERIALIZABLE)|READ\s+(ONLY|WRITE)",
    re.I,
)

# statement verbs that write through a connector or the catalog — the
# set the READ ONLY check guards (InMemoryTransactionManager.
# checkConnectorWrite fires for any metadata/data mutation)
_WRITE_VERBS = frozenset({
    "INSERT", "DELETE", "UPDATE", "CREATE", "DROP", "ALTER", "TRUNCATE",
    "GRANT", "REVOKE", "ANALYZE", "REFRESH",
})
# kinds whose target table's catalog is recorded on the transaction
_TABLE_KINDS = frozenset({
    "insert", "delete", "create_table", "create_table_as", "drop_table",
    "rename_table", "add_column", "rename_column", "drop_column",
})
# session and transaction-control statements are not transactional work
_CONTROL_KINDS = frozenset({
    "set_session", "reset_session", "use",
    "start_transaction", "commit", "rollback",
})


def _parse_modes(text: str) -> tuple[str, bool]:
    """(isolation, read_only) from the START TRANSACTION mode list;
    duplicate-kind modes raise the reference's texts
    (StartTransactionTask.extractIsolationLevel/extractReadOnly)."""
    isolations: list[str] = []
    access: list[bool] = []
    rest = text
    for m in _MODE_RE.finditer(text):
        if m.group(1):
            isolations.append(re.sub(r"\s+", " ", m.group(1).upper()))
        else:
            access.append(m.group(2).upper() == "ONLY")
    rest = _MODE_RE.sub("", text).replace(",", "").strip()
    if rest:
        raise ValueError(f"Invalid transaction mode: {rest}")
    if len(isolations) > 1:
        raise ValueError("Multiple transaction isolation levels specified")
    if len(access) > 1:
        raise ValueError("Multiple transaction read modes specified")
    return (
        isolations[0] if isolations else DEFAULT_ISOLATION,
        access[0] if access else False,
    )


def start(engine, stmt):
    """START TRANSACTION [modes]: the new id becomes the session's
    ``engine.transaction``."""
    if engine.transaction is not None:
        raise ValueError("Nested transactions not supported")
    isolation, read_only = _parse_modes(stmt.body)
    engine.transaction = engine.transactions.begin(isolation, read_only)
    return engine.ok()


def commit(engine, stmt):
    return _finish(engine, rollback=False)


def rollback(engine, stmt):
    return _finish(engine, rollback=True)


def _finish(engine, rollback: bool):
    tid = engine.transaction
    if tid is None:
        # CommitTask.java / RollbackTask.java — NOT_IN_TRANSACTION
        raise ValueError("No transaction in progress")
    info = engine.transactions.get(tid)
    failures: list[Exception] = []
    retained: list[str] = []
    try:
        if rollback:
            # run the compensating actions in reverse statement order
            # (see stage) — the rollback path of the reference's
            # SemiTransactionalHiveMetastore.  One failing undo must NOT
            # abort the rest: every remaining compensation is still
            # attempted, and the failures are aggregated into the raised
            # error.
            info.rolling_back = True
            try:
                for undo in reversed(list(info.undo)):
                    try:
                        undo()
                    except Exception as exc:
                        failures.append(exc)
            finally:
                info.rolling_back = False
    finally:
        # a failing compensation must still TERMINATE the transaction
        # (the reference's rollback is terminal too) — otherwise the
        # session is stuck inside a stale transaction.  But when any undo
        # failed, KEEP the .txn_undo retention: it is the only material
        # for repairing the part-rolled-back table state, and discarding
        # it would destroy the evidence.
        if failures:
            retained = list(info.backup_dirs)
            info.undo.clear()
            info.backup_dirs.clear()
        else:
            _discard_staging(info)
        engine.transactions.end(tid)
        engine.transaction = None
    if failures:
        msgs = "; ".join(f"{type(e).__name__}: {e}" for e in failures)
        raise RuntimeError(
            f"rollback: {len(failures)} compensating action(s) failed "
            f"({msgs}); transaction terminated, file retention kept at "
            f"{retained}") from failures[0]
    return engine.ok()


def guard(engine, stmt) -> None:
    """Inside an explicit transaction: READ_ONLY_VIOLATION
    (InMemoryTransactionManager.java:456) for a write in a READ ONLY
    transaction, activity/written-catalog stamps on the live
    transaction, and the statement's compensating action (``stage``)."""
    tid = engine.transaction
    if tid is None or stmt.kind in _CONTROL_KINDS:
        return
    info = engine.transactions.get(tid)
    is_write = stmt.verb in _WRITE_VERBS
    if is_write and info.read_only:
        raise ValueError("Cannot execute write in a read-only transaction")
    first = stmt.name[0].lower() if (
        stmt.kind in _TABLE_KINDS and len(stmt.name) > 1) else None
    catalog = first if first in ("hive", "memory", "blackhole", "tpch") else "spark"
    engine.transactions.touch(tid, catalog=catalog, wrote=is_write)
    if not info.rolling_back:
        stage(engine, stmt, info)


# ---------------------------------------------------------------------------
# write staging (round 8) — undo log per transaction
#
# Reference: the hive connector stages writes in
# SemiTransactionalHiveMetastore (presto-hive/.../metastore/
# SemiTransactionalHiveMetastore.java) — data lands immediately, the
# metastore mutations queue until commit, and rollback discards them
# with the written files.  The Spark-first equivalent is an UNDO LOG:
# each CTAS/INSERT/DELETE against hive.* or memory.* inside an explicit
# transaction registers a compensating action, executed in reverse on
# ROLLBACK.  Writes stay immediately visible (READ UNCOMMITTED — the
# engine's default isolation, TransactionManager.java:30 — and
# read-your-writes inside the transaction), and the compensation is
# metadata-proportional, never data-proportional:
#
# - CTAS/CREATE → drop the created table;
# - hive INSERT → delete the files the insert added (parquet part
#   files are append-only and uniquely named) and drop any partitions
#   it created — an O(new files) directory operation;
# - hive DELETE → hard-link every live data file into a warehouse-side
#   .txn_undo staging dir first (zero-copy on the same filesystem, the
#   same retention cost class as the reference keeping replaced files
#   until commit), then restore links + re-register partitions on
#   rollback;
# - memory INSERT → re-pin the pre-insert cached DataFrame
#   (localCheckpoint keeps it materialized after the view re-pins).
# ---------------------------------------------------------------------------

def _local_path(uri: str):
    from urllib.parse import unquote, urlparse

    p = urlparse(uri)
    if p.scheme not in ("", "file"):
        return None
    return unquote(p.path)


def _retain(cat, schema: str, table: str, info: TransactionInfo):
    """Hard-link every current data file of the hive table into a
    .txn_undo staging dir (recorded on ``info`` for cleanup) and return
    the function that restores those files and re-registers the current
    partitions.  Same-filesystem links are O(1) per file; cross-device
    (external locations) falls back to a copy."""
    import os
    import uuid as _uuid

    from facebook_presto_spark.hive_catalog import partition_spec

    spark, qualified = cat.spark, cat.qualified(schema, table)
    part_cols = cat.partition_columns(schema, table)
    parts = cat.partitions(schema, table)
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    wh = _local_path(warehouse) or warehouse
    bdir = os.path.join(wh, ".txn_undo", _uuid.uuid4().hex)
    backup = {}
    for uri in spark.table(qualified).inputFiles():
        path = _local_path(uri)
        if path is None or not os.path.exists(path):
            continue
        backup[path] = dst = os.path.join(bdir, path.lstrip("/"))
        _link(path, dst)
    if backup:
        info.backup_dirs.append(bdir)

    def restore():
        for orig, bk in backup.items():
            if not os.path.exists(orig):
                _link(bk, orig)
        if parts:
            now = set(cat.partitions(schema, table))
            for values in parts:
                if values not in now:
                    spark.sql(f"ALTER TABLE {qualified} ADD PARTITION "
                              f"({partition_spec(part_cols, values)})")
        spark.catalog.refreshTable(qualified)

    return restore


def _link(src: str, dst: str) -> None:
    import os
    import shutil

    os.makedirs(os.path.dirname(dst), exist_ok=True)
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def _stage_write(engine, stmt, info: TransactionInfo) -> None:
    """Compensating action for a hive.*/memory.* CTAS/INSERT/DELETE."""
    op = stmt.kind
    schema, table = stmt.schema, stmt.table
    spark = engine.spark

    if stmt.catalog == "memory":
        from facebook_presto_spark.connectors import get_catalogs

        mem = get_catalogs(spark).memory
        if op.startswith("create_table"):
            if (schema, table) not in mem.tables:
                info.undo.append(
                    lambda: mem.drop(schema, table, if_exists=True)
                )
        elif op == "insert" and (schema, table) in mem.tables:
            view = mem.tables[(schema, table)]
            prev = spark.table(view).localCheckpoint(eager=True)

            def undo_mem_insert():
                if mem.tables.get((schema, table)) != view:
                    return
                spark.catalog.uncacheTable(view)
                mem._pin(view, prev)

            info.undo.append(undo_mem_insert)
        return

    from facebook_presto_spark.hive_catalog import get_catalog, partition_spec

    cat = get_catalog(spark)
    if op.startswith("create_table"):
        if not cat._exists(schema, table):
            info.undo.append(lambda: cat.drop(schema, table, if_exists=True))
        return
    if not cat._exists(schema, table):
        return  # the statement itself will fail; nothing to compensate
    qualified = cat.qualified(schema, table)
    if op == "delete":
        # retain the current files via hard links
        info.undo.append(_retain(cat, schema, table, info))
        return
    part_cols = cat.partition_columns(schema, table)
    parts_before = set(cat.partitions(schema, table))
    files_before = set(spark.table(qualified).inputFiles())

    def undo_insert():
        import os

        spark.catalog.refreshTable(qualified)
        for uri in set(spark.table(qualified).inputFiles()) - files_before:
            path = _local_path(uri)
            if path and os.path.exists(path):
                os.remove(path)
        for values in set(cat.partitions(schema, table)) - parts_before:
            spark.sql(f"ALTER TABLE {qualified} DROP PARTITION "
                      f"({partition_spec(part_cols, values)})")
        spark.catalog.refreshTable(qualified)

    info.undo.append(undo_insert)


# ---------------------------------------------------------------------------
# metadata-statement staging (round 9) — DDL joins the undo log
#
# The reference's SemiTransactionalHiveMetastore stages renames and
# drops too (setTableStatistics/renameTable/dropTable queue until
# commit).  Compensations stay metadata- or O(files)-proportional:
#
# - ALTER TABLE … RENAME TO         → rename back (pure metadata);
# - ALTER TABLE … ADD COLUMN        → restore the pre-ALTER dataSchema
#   through ExternalCatalog.alterTableDataSchema (pure metadata — the
#   exact inverse of Spark's metadata-only ADD COLUMNS);
# - ALTER … RENAME/DROP COLUMN, DROP TABLE hive.* → table snapshot:
#   capture the re-executable SHOW CREATE text + partition specs and
#   hard-link the live files into .txn_undo (zero-copy); rollback drops
#   whatever exists, re-runs the CREATE, restores links, re-registers
#   partitions;
# - DROP TABLE memory.*             → re-pin the checkpointed DataFrame;
# - CREATE [OR REPLACE] VIEW / DROP VIEW → drop the created view, or
#   re-run the recorded Presto-dialect definition.
# ---------------------------------------------------------------------------

def _snapshot_hive_table(engine, schema: str, table: str,
                         info: TransactionInfo) -> None:
    """Full-compensation snapshot for destructive hive DDL: the
    re-executable SHOW CREATE text (round-5 surface), the partition
    specs, and hard links to every live data file."""
    spark = engine.spark
    from facebook_presto_spark.hive_catalog import get_catalog

    cat = get_catalog(spark)
    create_sql = engine._sql_inner(
        f"SHOW CREATE TABLE hive.{schema}.{table}").collect()[0][0]
    restore = _retain(cat, schema, table, info)

    def undo():
        get_catalog(spark).drop(schema, table, if_exists=True)
        engine._sql_inner(create_sql).collect()
        restore()

    info.undo.append(undo)


def stage(engine, stmt, info: TransactionInfo) -> None:
    """Register the compensating action for ``stmt`` on the transaction:
    hive/memory writes (``_stage_write``), and metadata statements (ALTER/
    DROP TABLE, schema DDL, GRANT/REVOKE, CREATE/DROP VIEW) per
    SemiTransactionalHiveMetastore's staged renames and drops.  Other
    statements keep single-statement semantics."""
    spark = engine.spark
    kind, schema, table = stmt.kind, stmt.schema, stmt.table
    hive_or_memory = stmt.catalog in ("hive", "memory")
    if stmt.catalog == "hive":
        from facebook_presto_spark.hive_catalog import get_catalog

        cat = get_catalog(spark)
    elif stmt.catalog == "memory":
        from facebook_presto_spark.connectors import get_catalogs

        mem = get_catalogs(spark).memory

    if kind in ("create_table", "create_table_as", "insert", "delete"):
        if hive_or_memory:
            _stage_write(engine, stmt, info)
    elif kind in ("grant", "revoke"):
        # GRANT/REVOKE: the reference buffers grantTablePrivileges /
        # revokeTablePrivileges as exclusive operations
        # (SemiTransactionalHiveMetastore.java:777, setExclusive) — COMMIT
        # applies, ROLLBACK discards.  The grant registry is a small
        # in-memory dict, so the compensation is a snapshot-restore.
        import copy

        snapshot = copy.deepcopy(engine.grants._grants)

        def undo_grants():
            engine.grants._grants.clear()
            engine.grants._grants.update(snapshot)

        info.undo.append(undo_grants)
    elif kind in ("create_schema", "drop_schema") and hive_or_memory:
        # schema DDL: the reference BUFFERS createDatabase/dropDatabase as
        # exclusive operations that execute only at COMMIT
        # (SemiTransactionalHiveMetastore.java:283-290, setExclusive:1519)
        # — on ROLLBACK the mutation never happens.  The compensating-undo
        # equivalent: CREATE SCHEMA undoes with a drop (tables created
        # inside the transaction are undone first, reverse order), DROP
        # SCHEMA — which only ever succeeds on an EMPTY schema — undoes
        # by re-creating it.  (SET SESSION is deliberately NOT staged: the
        # reference applies session properties to the session
        # unconditionally — SetSessionTask.java:90 — so they survive
        # ROLLBACK there too.)
        target = cat if stmt.catalog == "hive" else mem
        exists = schema in (
            cat.list_schemas() if stmt.catalog == "hive" else mem.schemas)
        if kind == "create_schema" and not exists:
            info.undo.append(lambda: target.drop_schema(schema, True))
        elif kind == "drop_schema" and exists:
            info.undo.append(lambda: target.create_schema(schema, True))
    elif kind == "rename_table" and hive_or_memory:
        nschema, ntable = stmt.new_table
        if stmt.catalog == "hive":
            if cat._exists(schema, table):
                info.undo.append(
                    lambda: get_catalog(spark).rename(
                        nschema, ntable, schema, table))
        elif (schema, table) in mem.tables:
            info.undo.append(lambda: mem.rename(nschema, ntable, schema, table))
    elif kind == "add_column" and stmt.catalog == "hive":
        if not cat._exists(schema, table):
            return
        db = cat.db_name(schema)
        jcat = spark._jsparkSession.sessionState().catalog()
        jident = spark._jvm.org.apache.spark.sql.catalyst.TableIdentifier(
            table, spark._jvm.scala.Some(db))
        pre_schema = jcat.getTableMetadata(jident).dataSchema().json()

        def undo_addcol():
            # the metadata-only inverse of ADD COLUMNS; SessionCatalog's
            # public path refuses dropped columns, the external catalog
            # applies the recorded pre-ALTER schema verbatim
            jc = spark._jsparkSession.sessionState().catalog()
            jc.externalCatalog().alterTableDataSchema(
                db, table,
                spark._jvm.org.apache.spark.sql.types.DataType.fromJson(
                    pre_schema))
            spark.catalog.refreshTable(f"{db}.{table}")

        info.undo.append(undo_addcol)
    elif kind in ("rename_column", "drop_column", "drop_table") and hive_or_memory:
        if stmt.catalog == "hive":
            if cat._exists(schema, table):
                _snapshot_hive_table(engine, schema, table, info)
        elif kind == "drop_table" and (schema, table) in mem.tables:
            view = mem.tables[(schema, table)]
            prev = spark.table(view).localCheckpoint(eager=True)

            def undo_mem_drop():
                mem.tables[(schema, table)] = view
                mem._pin(view, prev)

            info.undo.append(undo_mem_drop)
    elif kind in ("create_view", "drop_view"):
        name = table
        prev = engine._views.get(name)

        def undo_view():
            if prev is not None:
                spark.sql(engine.translate(
                    f"CREATE OR REPLACE VIEW {name} AS {prev}"))
                engine._views[name] = prev
                return
            try:
                spark.catalog.dropTempView(name)
            except Exception:
                pass
            engine._views.pop(name, None)

        if kind == "create_view" or prev is not None:
            info.undo.append(undo_view)


def _discard_staging(info: TransactionInfo) -> None:
    """Drop the undo log and its file retention (COMMIT, or after a
    completed ROLLBACK)."""
    import shutil

    info.undo.clear()
    for d in info.backup_dirs:
        shutil.rmtree(d, ignore_errors=True)
    info.backup_dirs.clear()
