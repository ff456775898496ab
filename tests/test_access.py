"""GRANT / REVOKE / SHOW GRANTS surface (access.py) — GrantTask.java /
RevokeTask.java validation, ShowQueriesRewrite.visitShowGrants shape,
information_schema.table_privileges feed."""

import pytest


@pytest.fixture()
def engine(spark):
    from facebook_presto_spark.engine import PrestoSparkEngine

    return PrestoSparkEngine.for_dir("/root/testdata/sf0.001", spark=spark)


def test_grant_show_revoke_roundtrip(engine):
    engine.sql("GRANT SELECT, INSERT ON nation TO alice").collect()
    engine.sql("GRANT ALL PRIVILEGES ON region TO bob WITH GRANT OPTION").collect()
    rows = engine.sql("SHOW GRANTS ON nation").collect()
    # ShowQueriesRewrite aliased shape: Grantee/Catalog/Schema/Table/
    # Privilege/Grantable
    assert rows[0].__fields__ == [
        "Grantee", "Catalog", "Schema", "Table", "Privilege", "Grantable"
    ]
    assert {(r["Grantee"], r["Privilege"]) for r in rows} == {
        ("alice", "SELECT"), ("alice", "INSERT")
    }
    assert all(r["Grantable"] is False for r in rows)
    rows = engine.sql("SHOW GRANTS ON region").collect()
    assert {r["Privilege"] for r in rows} == {
        "SELECT", "INSERT", "DELETE", "UPDATE"
    }
    assert all(r["Grantable"] is True for r in rows)
    # SHOW GRANTS without ON lists everything
    assert len(engine.sql("SHOW GRANTS").collect()) == 6
    # revoke one privilege; GRANT OPTION FOR keeps the privilege
    engine.sql("REVOKE INSERT ON nation FROM alice").collect()
    engine.sql("REVOKE GRANT OPTION FOR SELECT ON region FROM bob").collect()
    rows = {(r["Grantee"], r["Table"], r["Privilege"], r["Grantable"])
            for r in engine.sql("SHOW GRANTS").collect()}
    assert ("alice", "nation", "INSERT", False) not in {
        (g, t, p, o) for g, t, p, o in rows
    }
    assert ("bob", "region", "SELECT", False) in rows


def test_grants_feed_information_schema(engine):
    engine.sql("GRANT DELETE ON supplier TO carol").collect()
    rows = engine.sql(
        "SELECT grantee, table_name, privilege_type, is_grantable "
        "FROM information_schema.table_privileges WHERE grantee = 'carol'"
    ).collect()
    assert [(r[0], r[1], r[2], r[3]) for r in rows] == [
        ("carol", "supplier", "DELETE", False)
    ]


def test_grant_validation_errors(engine):
    with pytest.raises(ValueError, match="Unknown privilege"):
        engine.sql("GRANT FLY ON nation TO alice")
    with pytest.raises(ValueError, match="does not exist"):
        engine.sql("GRANT SELECT ON no_such_table TO alice")


def test_transactions_session_context(engine):
    """START TRANSACTION/COMMIT/ROLLBACK as session-scoped contexts
    (round 6, transactions.py): reference error surfaces from
    StartTransactionTask/CommitTask/InMemoryTransactionManager."""
    # COMMIT/ROLLBACK outside a transaction (CommitTask.java)
    for q in ("COMMIT", "ROLLBACK", "COMMIT WORK"):
        with pytest.raises(ValueError, match="No transaction in progress"):
            engine.sql(q)
    # plain begin/commit round-trip
    engine.sql("START TRANSACTION")
    with pytest.raises(ValueError, match="Nested transactions not supported"):
        engine.sql("START TRANSACTION")
    engine.sql("COMMIT")
    # read-only transaction rejects writes with the reference text
    # (InMemoryTransactionManager.java:456); reads still run
    engine.sql("START TRANSACTION READ ONLY, ISOLATION LEVEL SERIALIZABLE")
    assert engine.sql("SELECT 1 AS x").collect()[0].x == 1
    with pytest.raises(ValueError, match="Cannot execute write in a read-only"):
        engine.sql("CREATE TABLE memory.default.t_txn AS SELECT 1 AS x")
    with pytest.raises(ValueError, match="Cannot execute write in a read-only"):
        engine.sql("INSERT INTO memory.default.t_txn VALUES (2)")
    # the live transaction shows in system.runtime.transactions
    row = engine.sql(
        "SELECT isolation_level, read_only FROM system.runtime.transactions"
    ).collect()
    assert [(r.isolation_level, r.read_only) for r in row] == [
        ("SERIALIZABLE", True)
    ]
    engine.sql("ROLLBACK")
    assert engine.sql(
        "SELECT count(*) AS n FROM system.runtime.transactions"
    ).collect()[0].n == 0
    # duplicate modes (StartTransactionTask.extract*)
    with pytest.raises(ValueError, match="Multiple transaction isolation"):
        engine.sql(
            "START TRANSACTION ISOLATION LEVEL READ COMMITTED, "
            "ISOLATION LEVEL SERIALIZABLE"
        )
    with pytest.raises(ValueError, match="Multiple transaction read modes"):
        engine.sql("START TRANSACTION READ ONLY, READ WRITE")
    # read-write transaction allows writes, records the written catalog
    engine.sql("START TRANSACTION READ WRITE")
    engine.sql("CREATE TABLE memory.default.t_txn2 AS SELECT 1 AS x")
    row = engine.sql(
        "SELECT written_catalog, catalogs FROM system.runtime.transactions"
    ).collect()
    assert row[0].written_catalog == "memory"
    assert "memory" in row[0].catalogs
    engine.sql("COMMIT")
    engine.sql("DROP TABLE memory.default.t_txn2")


def test_set_path_and_current_path(engine):
    """SET PATH (SetPathTask.java) as session state + the current_path
    session function (round 6)."""
    assert engine.sql("SELECT current_path AS p").collect()[0].p == ""
    engine.sql("SET PATH spark.default, extra_schema")
    assert engine.sql("SELECT current_path AS p").collect()[0].p == \
        "spark.default, extra_schema"
    # function-call spelling resolves too
    assert engine.sql("SELECT current_path() AS p").collect()[0].p == \
        "spark.default, extra_schema"
    with pytest.raises(ValueError, match="expecting path"):
        engine.sql("SET PATH 'not an identifier'")
    engine.path = ""


def test_call_fails_loudly(engine):
    # CALL system.runtime.kill_query is a real procedure
    # (systemtables.py, round 4): unknown ids get the reference's
    # NOT_FOUND error; unregistered connector procedures raise the
    # ProcedureRegistry.resolve text (procedures.py, round 8)
    with pytest.raises(ValueError, match="Target query not found"):
        engine.sql("CALL system.runtime.kill_query('x')")
    with pytest.raises(ValueError, match="Procedure not registered"):
        engine.sql("CALL hive.system.sync_partition_metadata('a', 'b', 'c')")
    with pytest.raises(ValueError, match="Catalog nope does not exist"):
        engine.sql("CALL nope.system.create_empty_partition('a', 'b')")


def test_enforcement_denies_and_allows(engine):
    """SET SESSION enforce_access_control = true (round 4, access.enforce):
    AccessDeniedException-style denials for SELECT/INSERT/DELETE against
    the grant store; default-off behavior untouched; admin bypasses."""
    eng = engine
    # default off: anyone reads anything
    assert eng.sql("SELECT count(*) AS n FROM nation").collect()[0].n > 0
    eng.sql("GRANT SELECT ON nation TO alice")
    eng.sql("SET SESSION enforce_access_control = true")
    eng.sql("SET SESSION session_user = 'alice'")
    try:
        # granted table reads fine
        assert eng.sql("SELECT count(*) AS n FROM nation").collect()[0].n > 0
        # ungranted read denied with the reference's message shape
        with pytest.raises(PermissionError, match="Access Denied: Cannot select from table orders"):
            eng.sql("SELECT count(*) FROM orders")
        # join pulls in a second table: denied on the ungranted side
        with pytest.raises(PermissionError, match="Cannot select from table region"):
            eng.sql("SELECT count(*) FROM nation JOIN region ON n_regionkey = r_regionkey")
        # write privileges are separate from SELECT
        with pytest.raises(PermissionError, match="Cannot insert into table nation"):
            eng.sql("INSERT INTO nation SELECT * FROM nation")
        with pytest.raises(PermissionError, match="Cannot delete from table nation"):
            eng.sql("DELETE FROM nation WHERE n_nationkey = 0")
        # CTE names are not tables; subqueries don't leak FROM targets
        assert eng.sql(
            "WITH x AS (SELECT n_nationkey FROM nation) SELECT count(*) AS n FROM x"
        ).collect()[0].n > 0
        # metadata schemas stay readable (operators must be able to look)
        eng.sql("SELECT * FROM system.runtime.nodes").collect()
        # admin (the grantor identity) bypasses
        eng.sql("SET SESSION session_user = 'admin'")
        assert eng.sql("SELECT count(*) AS n FROM orders").collect()[0].n > 0
    finally:
        eng.sql("RESET SESSION enforce_access_control")
        eng.sql("RESET SESSION session_user")
    # off again: alice reads orders freely
    assert eng.sql("SELECT count(*) AS n FROM orders").collect()[0].n > 0
