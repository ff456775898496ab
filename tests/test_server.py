"""The /v1/statement HTTP protocol (server.py) driven like a client.

Mirrors StatementClientV1's loop: POST the SQL, read columns+data,
follow nextUri until it disappears; errors come back in the
QueryResults.error field; DELETE cancels.
"""

import json
import urllib.request

import pytest


@pytest.fixture(scope="module")
def server(spark):
    from facebook_presto_spark.engine import PrestoSparkEngine
    from facebook_presto_spark.server import serve

    eng = PrestoSparkEngine.for_dir("/root/testdata/sf0.001", spark=spark)
    srv = serve(eng)
    yield srv
    srv.shutdown()


def _post(server, sql: str) -> dict:
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.server_port}/v1/statement",
        data=sql.encode(),
        method="POST",
        headers={"X-Presto-User": "test"},
    )
    with urllib.request.urlopen(req) as r:
        return json.load(r)


def _post_headers(server, sql: str, headers: dict) -> tuple[dict, dict]:
    """(payload, response headers) for transaction-header round-trips."""
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.server_port}/v1/statement",
        data=sql.encode(),
        method="POST",
        headers={"X-Presto-User": "test", **headers},
    )
    with urllib.request.urlopen(req) as r:
        return json.load(r), dict(r.headers)


def _drain(server, first: dict) -> list:
    rows = list(first.get("data") or [])
    nxt = first.get("nextUri")
    while nxt:
        with urllib.request.urlopen(nxt) as r:
            page = json.load(r)
        rows += page.get("data") or []
        nxt = page.get("nextUri")
    return rows


def test_statement_roundtrip(server):
    res = _post(server, "SELECT n_name FROM nation ORDER BY n_nationkey LIMIT 3")
    assert res["stats"]["state"] == "FINISHED" and res["error"] is None
    assert [c["name"] for c in res["columns"]] == ["n_name"]
    assert res["columns"][0]["type"] == "varchar"
    assert len(_drain(server, res)) == 3


def test_paging_follows_next_uri(server):
    res = _post(server, "SELECT o_orderkey FROM orders")
    rows = _drain(server, res)
    assert len(rows) > 1000  # crossed at least one page boundary
    assert res["stats"]["state"] == "RUNNING" and "nextUri" in res


def test_presto_dialect_through_protocol(server):
    res = _post(
        server,
        "SELECT strpos(n_name, 'A') AS p, approx_distinct(n_regionkey) AS d "
        "FROM nation GROUP BY n_name ORDER BY n_name LIMIT 1",
    )
    # strpos maps to Spark instr (INTEGER where Presto says BIGINT — the
    # documented integer-width difference); the dialect call itself and
    # the Presto-named aggregate both resolve through the protocol
    assert res["error"] is None
    assert res["columns"][0]["type"] in ("integer", "bigint")
    assert res["columns"][1]["type"] == "bigint"


def test_error_in_query_results_error_field(server):
    res = _post(server, "SELECT no_such_column FROM nation")
    assert res["stats"]["state"] == "FAILED"
    assert res["error"]["errorType"] == "USER_ERROR"
    assert "no_such_column" in res["error"]["message"]


def test_delete_cancels(server):
    res = _post(server, "SELECT o_orderkey FROM orders")
    qid = res["id"]
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.server_port}/v1/statement/{qid}/1",
        method="DELETE",
    )
    with urllib.request.urlopen(req) as r:
        assert r.status == 204
    # the paging state is gone
    with pytest.raises(urllib.error.HTTPError):
        urllib.request.urlopen(
            f"http://127.0.0.1:{server.server_port}/v1/statement/{qid}/1"
        )


def test_session_property_header(server):
    res = _post(server, "SELECT 1 AS x")  # header-less baseline works
    assert res["error"] is None


def test_large_result_streams_pages(server):
    """Pages are produced lazily from toLocalIterator — the server never
    holds the whole result.  Asserted structurally: the paging state
    retains only the current page, and draining still sees every row."""
    res = _post(server, "SELECT l_orderkey, l_partkey FROM lineitem")
    qid = res["id"]
    q = server.engine.runtime.get(qid)
    # after the POST only page 0 is buffered
    assert q._page_no == 0 and len(q._page) <= 1000
    rows = _drain(server, res)
    assert len(rows) > 5000  # crossed many page boundaries
    # the streaming buffer never grew past one page
    assert len(q._page) <= 1000


@pytest.mark.parametrize("sql", [
    "SHOW TABLES",
    "DESCRIBE nation",
    "SHOW FUNCTIONS",
    "SHOW SESSION",
    "SET SESSION hash_partition_count = 7",
    "EXPLAIN (TYPE VALIDATE) SELECT n_name FROM nation",
    "SHOW GRANTS",
    "SELECT * FROM system.runtime.nodes",
    "SELECT * FROM system.metadata.catalogs",
    "SELECT table_name FROM information_schema.tables WHERE table_schema = 'default'",
    "SHOW TABLES FROM information_schema",
    "SHOW SCHEMAS",
])
def test_metadata_statement_starts_no_spark_job(server, spark_jobs, sql):
    """Metadata answers from the driver, like the reference's
    coordinator-local ShowQueriesRewrite: the plan already holds its
    rows, so serving them over the protocol starts no Spark job."""
    from facebook_presto_spark.properties import restore_confs, snapshot_confs

    snap = snapshot_confs(server.engine.spark, ["hash_partition_count"])
    if sql == "SHOW GRANTS":  # a grant to list
        server.engine.sql("GRANT SELECT ON nation TO grants_probe")
    try:
        with spark_jobs() as jobs:
            res = _post(server, sql)
            rows = _drain(server, res)
    finally:
        restore_confs(server.engine.spark, snap)
        if sql == "SHOW GRANTS":
            server.engine.sql("REVOKE SELECT ON nation FROM grants_probe")
    assert res["error"] is None
    assert sql.startswith("SET") or rows
    assert jobs.count == 0


def test_driver_local_result_pages(server, spark_jobs):
    """A driver-local result longer than one page still pages through
    nextUri, in order, and is evicted after its last page."""
    values = ", ".join(f"({i}, 'r{i}')" for i in range(2500))
    with spark_jobs() as jobs:
        res = _post(server, f"SELECT * FROM (VALUES {values}) AS t(i, s)")
        qid = res["id"]
        assert len(res["data"]) == 1000 and "nextUri" in res
        assert server.engine.runtime.get(qid).pageable
        rows = _drain(server, res)
    assert rows == [[i, f"r{i}"] for i in range(2500)]
    assert not server.engine.runtime.get(qid).pageable
    assert jobs.count == 0


def test_non_finite_doubles_are_strict_json(server):
    """NaN and ±Infinity travel as the strings the reference writes
    (its client's FixJsonDataUtils parses them back): the body is strict
    JSON that Jackson-style parsers accept."""
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.server_port}/v1/statement",
        data=(
            b"SELECT nan() AS d_nan, infinity() AS d_inf, "
            b"-infinity() AS d_ninf, CAST(nan() AS REAL) AS r_nan, "
            b"CAST(infinity() AS REAL) AS r_inf, "
            b"CAST(-infinity() AS REAL) AS r_ninf"
        ),
        method="POST",
        headers={"X-Presto-User": "test"},
    )
    with urllib.request.urlopen(req) as r:
        body = r.read().decode()

    def reject(token):
        raise ValueError(f"non-standard JSON token {token}")

    res = json.loads(body, parse_constant=reject)
    assert res["error"] is None
    assert [c["type"] for c in res["columns"]] == ["double"] * 3 + ["real"] * 3
    assert res["data"] == [["NaN", "Infinity", "-Infinity"] * 2]


def test_finished_query_is_evicted(server):
    """The normal client loop (GET until nextUri disappears) frees the
    paging state without a DELETE."""
    res = _post(server, "SELECT o_orderkey FROM orders")
    qid = res["id"]
    assert server.engine.runtime.get(qid).pageable  # multi-page: alive after page 0
    _drain(server, res)
    assert not server.engine.runtime.get(qid).pageable
    # single-page results are evicted on the POST response itself
    res = _post(server, "SELECT 1 AS x")
    assert "nextUri" not in res and not server.engine.runtime.get(res["id"]).pageable


def test_session_property_scoped_to_statement(server):
    """X-Presto-Session applies to its statement only — the shared
    SparkSession's conf is restored afterwards (the reference builds a
    per-request Session from headers; nothing leaks across clients)."""
    spark_conf = server.engine.spark.conf
    before = spark_conf.get("spark.sql.shuffle.partitions")
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.server_port}/v1/statement",
        data=b"SELECT count(*) AS c FROM nation",
        method="POST",
        headers={
            "X-Presto-User": "test",
            "X-Presto-Session": "hash_partition_count=7",
        },
    )
    with urllib.request.urlopen(req) as r:
        res = json.load(r)
    assert res["error"] is None
    assert spark_conf.get("spark.sql.shuffle.partitions") == before


def test_set_and_reset_session_apply_to_their_statement(server):
    """SET SESSION and RESET SESSION over the protocol change only their
    own statement's session: the shared conf is as before, and the
    response tells the client what to replay (X-Presto-Set-Session /
    X-Presto-Clear-Session)."""
    spark_conf = server.engine.spark.conf
    before = spark_conf.get("spark.sql.shuffle.partitions")
    res, hdr = _post_headers(server, "SET SESSION hash_partition_count = 7", {})
    assert res["error"] is None
    assert hdr["X-Presto-Set-Session"] == "hash_partition_count=7"
    assert spark_conf.get("spark.sql.shuffle.partitions") == before
    res, hdr = _post_headers(
        server, "RESET SESSION hash_partition_count",
        {"X-Presto-Session": "hash_partition_count=7"})
    assert res["error"] is None
    assert hdr["X-Presto-Clear-Session"] == "hash_partition_count"
    assert spark_conf.get("spark.sql.shuffle.partitions") == before


def test_show_tables_answers_one_table_column(server):
    """SHOW TABLES with no catalog answers Presto's one ``Table``
    column, not Spark's namespace, tableName and isTemporary."""
    res = _post(server, "SHOW TABLES")
    assert res["columns"] == [{"name": "Table", "type": "varchar"}]
    assert ["nation"] in _drain(server, res)


def test_system_runtime_queries_and_kill(server):
    # a long (multi-page) query stays RUNNING in system.runtime.queries
    # while its pages are outstanding
    res = _post(server, "SELECT o_orderkey FROM orders")
    qid = res["id"]
    assert res["stats"]["state"] == "RUNNING"
    eng = server.engine
    running = {
        r.query_id: r.state
        for r in eng.sql(
            "SELECT query_id, state FROM system.runtime.queries"
        ).collect()
    }
    assert running.get(qid) == "RUNNING"

    # CALL system.runtime.kill_query poisons the paging state
    # (KillQueryProcedure.java:53-76) — the client's next poll gets
    # ADMINISTRATIVELY_KILLED and the query is evicted
    eng.sql(f"CALL system.runtime.kill_query('{qid}', 'test kill')")
    with urllib.request.urlopen(res["nextUri"]) as r:
        page = json.load(r)
    assert page["stats"]["state"] == "FAILED"
    assert page["error"]["errorName"] == "ADMINISTRATIVELY_KILLED"
    entry = eng.runtime.get(qid)
    assert entry.state == "FAILED" and "test kill" in entry.error

    # killing it again: no longer running (reference error text)
    import pytest as _pytest

    with _pytest.raises(Exception, match="not running"):
        eng.sql(f"CALL system.runtime.kill_query('{qid}', 'again')")
    with _pytest.raises(Exception, match="not found"):
        eng.sql("CALL system.runtime.kill_query('bogus_id', 'x')")

    # server-tracked user from the X-Presto-User header
    row = [
        r
        for r in eng.sql(
            "SELECT query_id, user, state FROM system.runtime.queries"
        ).collect()
        if r.query_id == qid
    ]
    assert row and row[0].user == "test" and row[0].state == "FAILED"


def test_system_runtime_nodes_and_tasks(server):
    eng = server.engine
    nodes = eng.sql(
        "SELECT node_id, node_version, coordinator, state FROM system.runtime.nodes"
    ).collect()
    assert len(nodes) == 1 and nodes[0].coordinator is True
    assert nodes[0].state == "active" and nodes[0].node_version.startswith("spark-")
    # tasks: schema matches TaskSystemTable.java:47-78's core columns;
    # a synchronous engine usually has no active stage at read time
    tasks = eng.sql("SELECT * FROM system.runtime.tasks")
    assert tasks.columns[:5] == ["node_id", "task_id", "stage_id", "query_id", "state"]
    tasks.collect()


def test_info_and_query_resources(server):
    # /v1/info (ServerInfoResource shape)
    with urllib.request.urlopen(
        f"http://127.0.0.1:{server.server_port}/v1/info"
    ) as r:
        info = json.load(r)
    assert info["coordinator"] is True and info["starting"] is False
    assert info["nodeVersion"]["version"].startswith("spark-")

    # /v1/query/{id} — the infoUri target resolves to basic query info
    res = _post(server, "SELECT n_nationkey FROM nation")
    _drain(server, res)
    with urllib.request.urlopen(res["infoUri"]) as r:
        qinfo = json.load(r)
    assert qinfo["queryId"] == res["id"]
    assert qinfo["state"] == "FINISHED"
    assert qinfo["session"]["user"] == "test"

    # DELETE /v1/query/{id} kills a running paged query (QueryResource
    # cancelQuery); idempotent on finished ones
    res2 = _post(server, "SELECT o_orderkey FROM orders")
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.server_port}/v1/query/{res2['id']}",
        method="DELETE",
    )
    with urllib.request.urlopen(req) as r:
        assert r.status == 204
    with urllib.request.urlopen(res2["nextUri"]) as r:
        page = json.load(r)
    assert page["error"]["errorName"] == "ADMINISTRATIVELY_KILLED"


def test_prepared_statement_headers(server):
    import urllib.parse

    # PREPARE echoes X-Presto-Added-Prepare (StatementClientV1 caches it)
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.server_port}/v1/statement",
        data=b"PREPARE hdr_q FROM SELECT n_name FROM nation WHERE n_nationkey = ?",
        method="POST",
    )
    with urllib.request.urlopen(req) as r:
        added = r.headers.get("X-Presto-Added-Prepare")
    assert added and added.startswith("hdr_q=")
    name, _, body = added.partition("=")
    assert "n_nationkey" in urllib.parse.unquote(body)

    # a STATELESS client replays the prepared statement via the request
    # header and EXECUTEs — the reference's session-rebuild contract
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.server_port}/v1/statement",
        data=b"EXECUTE replayed USING 3",
        method="POST",
        headers={
            "X-Presto-Prepared-Statement": "replayed="
            + urllib.parse.quote(
                "SELECT n_name FROM nation WHERE n_nationkey = ?", safe=""
            )
        },
    )
    with urllib.request.urlopen(req) as r:
        res = json.load(r)
    rows = _drain(server, res)
    assert len(rows) == 1 and rows[0][0].endswith("_3")

    # DEALLOCATE echoes X-Presto-Deallocated-Prepare
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.server_port}/v1/statement",
        data=b"DEALLOCATE PREPARE hdr_q",
        method="POST",
    )
    with urllib.request.urlopen(req) as r:
        assert r.headers.get("X-Presto-Deallocated-Prepare") == "hdr_q"


def test_header_prepared_statement_stays_in_its_request(server):
    """A prepared statement a client replays in its request header
    serves that request only: a later request without the header, from
    this client or another, does not find it."""
    import urllib.parse

    body = urllib.parse.quote(
        "SELECT n_name FROM nation WHERE n_nationkey = ?", safe="")
    res, _h = _post_headers(server, "EXECUTE leak_q USING 2",
                            {"X-Presto-Prepared-Statement": "leak_q=" + body})
    assert _drain(server, res)[0][0].endswith("_2")
    res, _h = _post_headers(server, "EXECUTE leak_q USING 2", {})
    assert res["stats"]["state"] == "FAILED"
    assert "Prepared statement not found" in res["error"]["message"]


def test_prepare_without_header_replay_is_not_kept(server):
    """PREPARE over the protocol registers the statement with the
    client (X-Presto-Added-Prepare), not with the server: an EXECUTE
    that does not replay it finds nothing."""
    res, hdr = _post_headers(
        server, "PREPARE noreplay_q FROM SELECT 1 AS x", {})
    assert res["error"] is None and hdr["X-Presto-Added-Prepare"]
    res, _h = _post_headers(server, "EXECUTE noreplay_q", {})
    assert res["stats"]["state"] == "FAILED"
    assert "Prepared statement not found" in res["error"]["message"]


def test_concurrent_requests_see_their_own_session(server, monkeypatch):
    """Requests in flight at once, each with its own X-Presto-Path and
    X-Presto-Transaction-Id, each run with their own values."""
    import sys
    import threading

    from facebook_presto_spark import engine as engine_mod

    n = 6  # more clients than cores
    tids = [_post_headers(server, "START TRANSACTION", {})[1]
            ["X-Presto-Started-Transaction-Id"] for _ in range(n)]
    resolve = engine_mod._RESOLVERS["current_path"]
    all_in_flight = threading.Barrier(n, timeout=60)
    seen = {}

    def spy(eng, refs):
        seen[eng.path] = eng.transaction
        all_in_flight.wait()
        return resolve(eng, refs)

    monkeypatch.setitem(engine_mod._RESOLVERS, "current_path", spy)
    answers = {}

    def client(i):
        res, _h = _post_headers(
            server, "SELECT current_path AS p",
            {"X-Presto-Path": f"memory.s{i}", "X-Presto-Transaction-Id": tids[i]})
        answers[i] = _drain(server, res)

    threads = [threading.Thread(target=client, args=(i,)) for i in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
        for tid in tids:
            _post_headers(server, "ROLLBACK", {"X-Presto-Transaction-Id": tid})
    assert not any(t.is_alive() for t in threads)
    assert answers == {i: [[f"memory.s{i}"]] for i in range(n)}
    assert seen == {f"memory.s{i}": tids[i] for i in range(n)}


def test_system_jdbc_metadata(server):
    """system.jdbc.* (connector/system/jdbc/*.java) — the JDBC driver's
    DatabaseMetaData source, served from the live catalog."""
    eng = server.engine
    cats = eng.sql("SELECT * FROM system.jdbc.catalogs").collect()
    assert [r.table_cat for r in cats] == ["spark"]
    types = {r.table_type for r in eng.sql("SELECT * FROM system.jdbc.table_types").collect()}
    assert types == {"TABLE", "VIEW"}
    cols = {
        r.column_name: (r.data_type, r.type_name)
        for r in eng.sql(
            "SELECT column_name, data_type, type_name FROM system.jdbc.columns "
            "WHERE table_name = 'nation'"
        ).collect()
    }
    # java.sql.Types codes: INTEGER=4, VARCHAR=12 (ColumnJdbcTable:169)
    assert cols["n_nationkey"] == (4, "integer")
    assert cols["n_name"] == (12, "varchar")
    tables = {
        r.table_name
        for r in eng.sql(
            "SELECT table_name FROM system.jdbc.tables WHERE table_schem = 'default'"
        ).collect()
    }
    assert {"nation", "orders", "lineitem"} <= tables


def test_transaction_header_roundtrip(server):
    """The JDBC client's transaction flow (PrestoHeaders.java:35-37 +
    StatementClientV1): START TRANSACTION returns
    X-Presto-Started-Transaction-Id; subsequent statements replay it as
    X-Presto-Transaction-Id; writes inside a READ ONLY transaction fail
    with InMemoryTransactionManager.java:456's message; COMMIT/ROLLBACK
    return X-Presto-Clear-Transaction-Id."""
    res, hdr = _post_headers(server, "START TRANSACTION READ ONLY", {})
    assert res["error"] is None
    tid = hdr["X-Presto-Started-Transaction-Id"]
    assert tid
    # a read inside the transaction works and shows in the system table
    res, _h = _post_headers(
        server,
        "SELECT transaction_id, read_only FROM system.runtime.transactions",
        {"X-Presto-Transaction-Id": tid},
    )
    rows = _drain(server, res)
    assert [tid, True] in rows
    # a write is rejected with the reference's READ_ONLY_VIOLATION text
    res, _h = _post_headers(
        server,
        "CREATE TABLE memory.default.txn_w AS SELECT 1 AS x",
        {"X-Presto-Transaction-Id": tid},
    )
    assert res["stats"]["state"] == "FAILED"
    assert "read-only transaction" in res["error"]["message"]
    # ROLLBACK clears: response carries the clear header, table empties
    res, hdr = _post_headers(
        server, "ROLLBACK", {"X-Presto-Transaction-Id": tid}
    )
    assert res["error"] is None
    assert hdr["X-Presto-Clear-Transaction-Id"] == "true"
    res, _h = _post_headers(
        server, "SELECT count(*) AS n FROM system.runtime.transactions", {}
    )
    assert _drain(server, res) == [[0]]
    # an unknown/expired id fails loudly, not silently autocommits
    res, _h = _post_headers(
        server, "SELECT 1", {"X-Presto-Transaction-Id": tid}
    )
    assert res["stats"]["state"] == "FAILED"
    assert "Unknown transaction ID" in res["error"]["message"]


def test_set_path_headers(server):
    """SET PATH answers X-Presto-Set-Path; the client replays it as
    X-Presto-Path (PrestoHeaders.java:22,29)."""
    res, hdr = _post_headers(server, "SET PATH memory.default", {})
    assert res["error"] is None
    assert hdr["X-Presto-Set-Path"] == "memory.default"
    res, _h = _post_headers(
        server, "SELECT current_path AS p",
        {"X-Presto-Path": "memory.default"},
    )
    assert _drain(server, res) == [["memory.default"]]
    # without the replayed header the path is session-default empty
    res, _h = _post_headers(server, "SELECT current_path AS p", {})
    assert _drain(server, res) == [[""]]


def test_system_metadata_and_transactions(server):
    """system.metadata.{catalogs,table_properties} (CatalogSystemTable,
    AbstractPropertiesSystemTable) + system.runtime.transactions
    (TransactionsSystemTable — empty outside an explicit transaction;
    the live-transaction rows are covered in
    test_transaction_header_roundtrip / test_access.py)."""
    eng = server.engine
    cats = {
        r.catalog_name: r.connector_id
        for r in eng.sql("SELECT * FROM system.metadata.catalogs").collect()
    }
    assert cats["spark"] == "spark"
    # every registered connector catalog is listed (CatalogSystemTable)
    assert cats["example"] == "example-http"
    for name in ("memory", "blackhole", "localfile", "jmx", "tpch",
                 "system"):
        assert cats[name] == name
    props = {
        r.property_name: r.type
        for r in eng.sql(
            "SELECT property_name, type FROM system.metadata.table_properties"
        ).collect()
    }
    assert props["format"] == "varchar" and props["bucket_count"] == "integer"
    tx = eng.sql("SELECT * FROM system.runtime.transactions")
    assert tx.columns[:4] == [
        "transaction_id", "isolation_level", "read_only", "auto_commit_context"
    ]
    assert tx.count() == 0


def test_concurrent_sessions_soak(server):
    """Concurrency soak (round 5): N client threads drive mixed queries
    through /v1/statement while system.runtime.queries is polled live
    and kill_query terminates a mid-flight paged query —
    KillQueryProcedure.java:53 semantics under real thread concurrency,
    not single-threaded sequencing."""
    import threading

    eng = server.engine
    errors: list = []
    done_counts: list = []

    STATEMENTS = [
        "SELECT count(*) AS n FROM lineitem",
        "SELECT n_name FROM nation ORDER BY n_nationkey LIMIT 5",
        "SELECT o_orderpriority, count(*) AS n FROM orders "
        "GROUP BY o_orderpriority ORDER BY 1",
        "SELECT r_regionkey + 1 AS k FROM region",
        "SELECT max(l_extendedprice) AS m FROM lineitem",
    ]

    def worker(seed: int) -> None:
        try:
            n_done = 0
            for i in range(5):
                sql = STATEMENTS[(seed + i) % len(STATEMENTS)]
                res = _post(server, sql)
                rows = _drain(server, res)
                assert rows, f"no rows for {sql!r}"
                n_done += 1
            done_counts.append(n_done)
        except Exception as exc:  # noqa: BLE001 — collected for the assert
            errors.append(exc)

    def monitor() -> None:
        try:
            for _ in range(8):
                rows = eng.sql(
                    "SELECT query_id, state FROM system.runtime.queries"
                ).collect()
                assert rows is not None
                eng.sql(
                    "SELECT count(*) AS n FROM system.runtime.tasks"
                ).collect()
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(s,)) for s in range(6)]
    threads.append(threading.Thread(target=monitor))

    # a paged query left mid-flight, killed while the workers hammer
    victim = _post(server, "SELECT o_orderkey FROM orders")
    assert victim["stats"]["state"] == "RUNNING"

    for t in threads:
        t.start()
    eng.sql(
        f"CALL system.runtime.kill_query('{victim['id']}', 'soak kill')"
    )
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads), "soak thread hung"

    assert errors == []
    assert done_counts == [5] * 6

    # the victim's next poll reports the administrative kill
    with urllib.request.urlopen(victim["nextUri"]) as r:
        page = json.load(r)
    assert page["stats"]["state"] == "FAILED"
    assert page["error"]["errorName"] == "ADMINISTRATIVELY_KILLED"

    # registry settled: no RUNNING leftovers from the soak (the
    # introspection statement itself legitimately snapshots as RUNNING)
    leftovers = [
        r.query
        for r in eng.sql(
            "SELECT query, state FROM system.runtime.queries"
        ).collect()
        if r.state == "RUNNING" and "system.runtime.queries" not in r.query
    ]
    assert leftovers == []


def _delete(url: str) -> None:
    with urllib.request.urlopen(urllib.request.Request(url, method="DELETE")) as r:
        assert r.status == 204


@pytest.mark.parametrize("how", ["kill", "cancel"])
def test_kill_or_cancel_while_planning(server, monkeypatch, how):
    """A statement killed (kill_query) or canceled (DELETE) while
    engine.sql is still planning it answers FAILED with no data: the POST
    reads the state of the statement's one registry entry."""
    eng = server.engine
    sql = f"SELECT o_orderkey FROM orders -- {how} while planning"
    plan = eng._sql_inner

    def planned_then_ended(text):
        df = plan(text)
        qid = next(r[0] for r in eng.runtime.rows()
                   if r[4] == sql and r[1] == "RUNNING")
        if how == "kill":
            eng.runtime.kill_query(qid, "while planning")
        else:
            _delete(f"http://127.0.0.1:{server.server_port}/v1/statement/{qid}/0")
        return df

    monkeypatch.setattr(eng, "_sql_inner", planned_then_ended)
    res = _post(server, sql)
    monkeypatch.undo()
    assert res["stats"]["state"] == "FAILED"
    assert "data" not in res and "nextUri" not in res
    name = {"kill": "ADMINISTRATIVELY_KILLED", "cancel": "USER_CANCELED"}[how]
    assert res["error"]["errorName"] == name
    message = {"kill": "Query killed. Message: while planning",
               "cancel": "Query was canceled"}[how]
    assert res["error"]["message"] == message
    states = {r.query_id: r.state for r in eng.sql(
        "SELECT query_id, state FROM system.runtime.queries").collect()}
    assert states[res["id"]] == "FAILED"
    with urllib.request.urlopen(res["infoUri"]) as r:
        assert json.load(r)["errorMessage"] == message


def test_cancel_shows_in_runtime_queries(server):
    res = _post(server, "SELECT o_orderkey FROM orders")
    assert "nextUri" in res
    _delete(res["nextUri"])
    rows = server.engine.sql(
        "SELECT query_id, state FROM system.runtime.queries").collect()
    assert [r.state for r in rows if r.query_id == res["id"]] == ["FAILED"]
    assert server.engine.runtime.get(res["id"]).error == "Query was canceled"


def test_registry_bounds_paging_state(server, monkeypatch):
    """Abandoned paged queries are bounded by the registry's
    MAX_ENTRIES: the evicted entry takes its paging state with it."""
    runtime = server.engine.runtime
    monkeypatch.setattr(runtime, "MAX_ENTRIES", 2)
    posted = [_post(server, "SELECT o_orderkey FROM orders") for _ in range(3)]
    assert all("nextUri" in res for res in posted)
    pageable = [e for e in list(runtime._entries.values()) if e.pageable]
    assert len(pageable) <= 2
    with pytest.raises(urllib.error.HTTPError) as err:
        urllib.request.urlopen(posted[0]["nextUri"])
    assert err.value.code == 404
    assert len(_drain(server, posted[2])) == 1500


def test_nested_statements_register_one_row(server):
    """A handler that runs a nested statement (EXECUTE, EXPLAIN ANALYZE,
    EXPLAIN VALIDATE, SHOW STATS over a query, a connector CTAS) adds no
    second row to system.runtime.queries."""
    eng = server.engine
    eng.sql("PREPARE one_row FROM SELECT n_name FROM nation WHERE n_nationkey = ?")
    for sql in ("EXECUTE one_row USING 1",
                "EXPLAIN ANALYZE SELECT count(*) FROM nation",
                "EXPLAIN (TYPE VALIDATE) SELECT n_name FROM nation",
                "SHOW STATS FOR (SELECT n_nationkey FROM nation)",
                "CREATE TABLE memory.default.one_row AS SELECT 1 AS x"):
        before = len(eng.runtime.rows())
        eng.sql(sql).collect()
        after = eng.runtime.rows()
        assert len(after) == before + 1 and after[-1][4] == sql
    eng.sql("DROP TABLE memory.default.one_row")


@pytest.mark.parametrize("catalog", ["hive", "memory"])
def test_write_reports_update_type_and_count(server, catalog):
    """A write answers Presto's updateType, and updateCount from its
    single bigint ``rows`` cell; a query keeps both null."""
    t = f"{catalog}.proto_w.t"
    _post(server, f"CREATE SCHEMA IF NOT EXISTS {catalog}.proto_w")
    try:
        statements = [
            (f"CREATE TABLE {t} AS SELECT n_nationkey, n_regionkey FROM nation",
             "CREATE TABLE", 25),
            (f"INSERT INTO {t} SELECT r_regionkey, r_regionkey FROM region",
             "INSERT", 5),
        ]
        if catalog == "hive":  # the memory connector has no DELETE
            statements.append((f"DELETE FROM {t}", "DELETE", 30))
        for sql, update_type, count in statements:
            res = _post(server, sql)
            assert res["error"] is None, res["error"]
            assert (res["updateType"], res["updateCount"]) == (update_type, count)
            assert res["data"] == [[count]]
        res = _post(server, f"SELECT count(*) AS n FROM {t}")
        assert (res["updateType"], res["updateCount"]) == (None, None)
    finally:
        _post(server, f"DROP TABLE IF EXISTS {t}")
        _post(server, f"DROP SCHEMA IF EXISTS {catalog}.proto_w")


def test_hive_write_results_start_no_spark_job(server, spark_jobs):
    """A hive write's row count and "t$partitions" are local relations:
    reading them starts no Spark job, and neither does a DELETE whose
    victim pick over "t$partitions" finds nothing to drop."""
    from facebook_presto_spark.server import result_rows

    eng = server.engine
    t = "hive.proto_j.t"
    eng.sql("CREATE SCHEMA IF NOT EXISTS hive.proto_j")
    try:
        for sql, count in [
            (f"CREATE TABLE {t} WITH (partitioned_by = ARRAY['k']) "
             "AS SELECT n_nationkey AS v, n_regionkey AS k FROM nation", 25),
            (f"INSERT INTO {t} SELECT r_regionkey, r_regionkey FROM region", 5),
            (f"DELETE FROM {t} WHERE k = 4", 6),
        ]:
            df = eng.sql(sql)
            with spark_jobs() as jobs:
                rows = list(result_rows(df))
            assert (rows, jobs.count) == ([(count,)], 0), sql
        for sql, expected in [
            (f"DELETE FROM {t} WHERE k = 99", [[0]]),
            ('SELECT * FROM hive.proto_j."t$partitions"',
             [[0], [1], [2], [3]]),
        ]:
            with spark_jobs() as jobs:
                res = _post(server, sql)
                rows = _drain(server, res)
            assert res["error"] is None, res["error"]
            assert (sorted(rows), jobs.count) == (expected, 0), sql
    finally:
        eng.sql(f"DROP TABLE IF EXISTS {t}")
        eng.sql("DROP SCHEMA IF EXISTS hive.proto_j")


def test_query_entry_ends_once_under_contention():
    """finish / fail / kill / cancel race on one entry from many threads:
    the first wins whole, so a FAILED entry's message and error name come
    from the same caller."""
    import sys
    import threading

    from facebook_presto_spark.systemtables import QueryEntry

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(200):
            entry = QueryEntry("q", "SELECT 1", "test", None)
            start = threading.Barrier(8)

            def end(i, entry=entry, start=start):
                start.wait()
                if i == 0:
                    entry.finish()
                else:
                    entry.fail(f"message {i}", f"NAME_{i}")

            threads = [threading.Thread(target=end, args=(i,)) for i in range(8)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=10)
            assert not any(t.is_alive() for t in threads)
            if entry.state == "FINISHED":
                assert (entry.error, entry.error_name) == (None, None)
            else:
                i = int(entry.error.split()[1])
                assert entry.state == "FAILED" and entry.error_name == f"NAME_{i}"
    finally:
        sys.setswitchinterval(switch)


def test_kill_while_planning_direct_path(server, monkeypatch):
    """``engine.sql`` without a server entry (the CLI, in-process callers)
    raises the entry's own message when kill_query ends the statement
    while it plans, instead of returning its rows."""
    eng = server.engine
    sql = "SELECT n_name FROM nation -- killed on the direct path"
    plan = eng._sql_inner

    def planned_then_killed(text):
        df = plan(text)
        qid = next(r[0] for r in eng.runtime.rows()
                   if r[4] == sql and r[1] == "RUNNING")
        eng.runtime.kill_query(qid, "while planning")
        return df

    monkeypatch.setattr(eng, "_sql_inner", planned_then_killed)
    with pytest.raises(Exception, match="^Query killed. Message: while planning$"):
        eng.sql(sql)
    monkeypatch.undo()
    states = [r[1] for r in eng.runtime.rows() if r[4] == sql]
    assert states == ["FAILED"]


# -- how rows leave Spark (server.result_rows) --------------------------------

def _arrow_spy(monkeypatch) -> list:
    """Record each result the Arrow batch reader serves."""
    from facebook_presto_spark import server as server_mod

    served, read = [], server_mod._arrow_rows

    def spy(df, schema):
        served.append(df.schema.simpleString())
        return read(df, schema)

    monkeypatch.setattr(server_mod, "_arrow_rows", spy)
    return served


def _row_path(monkeypatch) -> None:
    """Force every result through toLocalIterator (pickled Rows)."""
    from facebook_presto_spark import server as server_mod

    monkeypatch.setattr(server_mod, "_arrow_schema", lambda df: None)


# every type the engine emits, each NULL on the n_nationkey = 0 row
_WIRE_TYPES = {
    "bigint": "CAST(n_nationkey AS BIGINT)",
    "integer": "CAST(n_nationkey AS INTEGER)",
    "smallint": "CAST(n_nationkey AS SMALLINT)",
    "tinyint": "CAST(n_nationkey AS TINYINT)",
    "boolean": "n_nationkey > 1",
    "varchar": "n_name",
    "varbinary": "to_utf8(n_name)",
    "real": "CAST(n_nationkey / 3.0 AS REAL)",
    "double": "n_nationkey / 3.0e0",
    "nan": "nan()",
    "inf": "infinity()",
    "ninf": "-infinity()",
    "real_nan": "CAST(nan() AS REAL)",
    "decimal": "CAST(n_nationkey AS DECIMAL(12, 3)) / 7",
    "date": "DATE '2020-01-02'",
    "timestamp": "TIMESTAMP '2020-01-02 03:04:05.678'",
    "time": "TIME '01:02:03.456'",
    "interval": "INTERVAL '1 02:03:04.5' DAY TO SECOND",
    "array": "ARRAY[n_nationkey, NULL, 3]",
    "map": "MAP(ARRAY['b', 'a'], ARRAY[n_nationkey, NULL])",
    "row": "CAST(ROW(n_nationkey, n_name) AS ROW(k BIGINT, name VARCHAR))",
    "array_row": "ARRAY[ROW(n_nationkey, 'a'), NULL]",
    "map_array": "MAP(ARRAY['k', 'z'], "
                 "ARRAY[ARRAY[CAST(n_nationkey AS BIGINT), NULL], NULL])",
    # keys a Row and a tuple, bytearray and bytes, would print apart
    "map_row_key": "MAP(ARRAY[ROW(n_nationkey, 'a')], ARRAY[1])",
    "map_varbinary_key": "MAP(ARRAY[to_utf8(n_name)], ARRAY[n_nationkey])",
}


def test_arrow_reader_matches_row_path_on_the_wire(server, monkeypatch):
    """The Arrow batch reader and the pickled-Row path put the same
    ``data`` on the wire for every type the engine emits, NULLs included
    (a map's keys compare as a JSON object, order aside)."""
    sql = "SELECT n_nationkey, " + ", ".join(
        f"IF(n_nationkey = 0, NULL, {e}) AS {name}"
        for name, e in _WIRE_TYPES.items()
    ) + " FROM nation WHERE n_nationkey < 3 ORDER BY n_nationkey"
    served = _arrow_spy(monkeypatch)
    arrow = _post(server, sql)
    assert arrow["error"] is None, arrow["error"]
    assert len(served) == 1
    _row_path(monkeypatch)
    rows = _post(server, sql)
    assert len(served) == 1
    assert arrow["columns"] == rows["columns"]
    assert arrow["data"] == rows["data"] and len(arrow["data"]) == 3
    by_name = dict(zip((c["name"] for c in arrow["columns"]), arrow["data"][1]))
    assert by_name["timestamp"] == "2020-01-02 03:04:05.678"
    assert by_name["time"] == "01:02:03.456"
    assert by_name["interval"] == "1 02:03:04.500"
    assert by_name["row"] == [1, "NATION_1"]
    assert by_name["map_array"] == {"k": [1, None], "z": None}
    assert by_name["map_row_key"] == {"[1, 'a']": 1}
    assert by_name["map_varbinary_key"] == {"TkFUSU9OXzE=": 1}
    assert set(arrow["data"][0][1:]) == {None}


@pytest.mark.parametrize("expr, data", [
    # duplicate field names: a Row keeps both fields, Arrow would not
    ("named_struct('a', n_nationkey, 'a', 2)", [[[1, 2]]]),
    # a variant's Row value prints as its JSON text
    ("parse_json('{\"a\":1}')", [['{"a":1}']]),
    # no Arrow type; only the branch is checked, since the Row path
    # cannot yet convert the value either
    ("INTERVAL '1-2' YEAR TO MONTH", None),
])
def test_schema_arrow_rejects_takes_row_path(server, monkeypatch, expr, data):
    """A result type Arrow cannot carry streams through toLocalIterator
    and answers as it did before the Arrow reader."""
    from facebook_presto_spark import server as server_mod

    sql = f"SELECT {expr} AS c FROM nation WHERE n_nationkey = 1"
    assert server_mod._arrow_schema(server.engine.sql(sql)) is None
    served = _arrow_spy(monkeypatch)
    res = _post(server, sql)
    assert served == []
    if data is not None:
        assert res["error"] is None and res["data"] == data


@pytest.fixture
def wave_table(server, tmp_path):
    """``wave_t``: 37 parquet files of 100 rows, read as one partition
    per file (2.3 waves of the test session's 16 cores)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    spark = server.engine.spark
    for i in range(37):
        keys = list(range(i * 100, i * 100 + 100))
        pq.write_table(pa.table({"k": keys, "s": [f"s{k}" for k in keys]}),
                       str(tmp_path / f"part-{i:02d}.parquet"))
    conf = ["spark.sql.files.maxPartitionBytes", "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.coalescePartitions.enabled"]
    before = {k: spark.conf.get(k) for k in conf}
    # a file's open cost alone fills a partition: one partition per file
    spark.conf.set(conf[0], spark.conf.get("spark.sql.files.openCostInBytes"))
    spark.read.parquet(str(tmp_path)).createOrReplaceTempView("wave_t")
    try:
        yield spark
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
        spark.catalog.dropTempView("wave_t")


def test_arrow_reader_waves_keep_partition_order(server, wave_table, spark_jobs,
                                                 monkeypatch):
    """A result of more partitions than cores is read in partition order,
    one Spark job per wave of ``defaultParallelism`` partitions, and the
    POST runs only the first wave's job."""
    import math

    sql = "SELECT k, s FROM wave_t"
    n = server.engine.sql(sql).rdd.getNumPartitions()
    width = wave_table.sparkContext.defaultParallelism
    assert n == 37 and n > width
    served = _arrow_spy(monkeypatch)
    with spark_jobs() as post:
        res = _post(server, sql)
    with spark_jobs() as rest:
        arrow = _drain(server, res)
    assert len(served) == 1
    assert post.count == 1
    assert post.count + rest.count == math.ceil(n / width)
    _row_path(monkeypatch)
    with spark_jobs() as row_jobs:
        rows = _drain(server, _post(server, sql))
    assert row_jobs.count == n  # toLocalIterator: one job per partition
    assert arrow == rows and len(arrow) == 3700


def test_arrow_reader_keeps_multi_partition_order_by(server, wave_table,
                                                      monkeypatch):
    """A sort spread over more range partitions than cores comes back in
    the sort's order, as the Row path returns it."""
    wave_table.conf.set("spark.sql.shuffle.partitions", "37")
    wave_table.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    sql = "SELECT k, s FROM wave_t ORDER BY s DESC, k"
    assert server.engine.sql(sql).rdd.getNumPartitions() > 16
    served = _arrow_spy(monkeypatch)
    arrow = _drain(server, _post(server, sql))
    assert len(served) == 1
    _row_path(monkeypatch)
    rows = _drain(server, _post(server, sql))
    assert arrow == rows
    assert arrow == sorted(arrow, key=lambda r: (r[1], -r[0]), reverse=True)


def test_runtime_failure_answers_with_spark_message(server):
    """A task failure while the result is read answers FAILED with
    Spark's own error message, not the py4j call that carried it."""
    res = _post(server, "SELECT raise_error('boom') AS c FROM nation")
    assert res["stats"]["state"] == "FAILED"
    assert res["error"]["message"].startswith("[USER_RAISED_EXCEPTION] boom")


# runs in its own Spark session: spark.driver.maxResultSize is fixed when
# the session starts.  Each row holds ~110 bytes of Arrow data.
_RESULT_CAP_SCRIPT = r"""
import json, sys
from pyspark.sql import SparkSession
from facebook_presto_spark.server import result_rows

spark = (SparkSession.builder.master("local[4]")
         .config("spark.driver.memory", "512m")
         .config("spark.driver.maxResultSize", "1m")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("OFF")
tracker = spark.sparkContext.statusTracker()
out = {}
for name, rows, parts in [("big", 3000, 12), ("small", 1200, 12), ("over", 15000, 1)]:
    df = spark.range(0, rows * parts, 1, parts).selectExpr("id", "repeat('x', 100) AS s")
    before = set(tracker.getJobIdsForGroup(None))
    try:
        ids = [r[0] for r in result_rows(df)]
        error = None
    except Exception as e:
        ids, error = None, str(e)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sorted(set(tracker.getJobIdsForGroup(None)) - before)
    out[name] = {"in_order": ids == list(range(rows * parts)), "error": error,
                 "jobs": [tracker.getJobInfo(j).status for j in jobs]}
print(json.dumps(out))
"""


def test_arrow_reader_waves_fit_max_result_size():
    """A wave is bounded by bytes as well as partitions: in a session
    whose ``spark.driver.maxResultSize`` is 1 MiB (4 cores), waves after
    the first hold as many partitions as fit half the cap, a first wave
    over the cap is read again one partition per job, and only a single
    partition over the cap fails, naming the cap."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    done = subprocess.run(
        [sys.executable, "-c", _RESULT_CAP_SCRIPT], capture_output=True,
        text=True, timeout=600, cwd=root,
        env={**os.environ, "PYTHONPATH": root})
    assert done.returncode == 0, done.stderr[-3000:]
    out = json.loads(done.stdout.strip().splitlines()[-1])
    # 12 partitions of ~330 KB: 4 (~1.3 MB) abort, then one per job
    assert out["big"]["in_order"], out["big"]["error"]
    assert out["big"]["jobs"] == ["FAILED"] + ["SUCCEEDED"] * 12
    # 12 partitions of ~130 KB: 4, then 3 per job (~400 KB <= 512 KB)
    assert out["small"]["in_order"], out["small"]["error"]
    assert out["small"]["jobs"] == ["SUCCEEDED"] * 4
    # one partition of ~1.6 MB cannot be split
    assert out["over"]["jobs"] == ["FAILED"]
    assert out["over"]["error"].startswith(
        "org.apache.spark.SparkException: Job aborted due to stage failure: "
        "Total size of serialized results")
    assert "spark.driver.maxResultSize" in out["over"]["error"]
