"""Connector catalogs: memory / blackhole / localfile.

Mirrors the reference's own smoke suites:
- presto-memory/src/test/.../TestMemorySmoke.java (create/drop, duplicate
  create, insert-select, empty CTAS, schema DDL, rename) and
  TestMemoryPagesStore (byte-limit enforcement).
- presto-blackhole/src/test/.../TestBlackHoleSmoke.java (zero-row default
  props, field_length, discarded writes).
- presto-local-file: LocalFileRecordCursor TSV + ISO-timestamp parsing.
"""

from __future__ import annotations

import os

import pytest

from facebook_presto_spark import connectors
from facebook_presto_spark.engine import PrestoSparkEngine


@pytest.fixture(scope="module")
def eng(spark, sf_dir):
    return PrestoSparkEngine.for_dir(sf_dir, spark=spark)


@pytest.fixture(autouse=True)
def _clean(spark):
    yield
    cats = connectors.get_catalogs(spark)
    for schema, table in list(cats.memory.tables):
        cats.memory.drop(schema, table, if_exists=True)
    cats.memory.schemas = {"default"}
    cats.memory.max_bytes = connectors.MEMORY_MAX_BYTES_DEFAULT
    cats.blackhole.tables.clear()


# -- memory ------------------------------------------------------------------


def test_memory_create_select_drop(eng):
    eng.sql("CREATE TABLE memory.default.nations AS SELECT * FROM nation")
    got = eng.sql(
        "SELECT count(*) AS n FROM memory.default.nations"
    ).collect()
    assert got[0]["n"] == 25
    names = [r["Table"] for r in eng.sql("SHOW TABLES FROM memory.default").collect()]
    assert "nations" in names
    eng.sql("DROP TABLE memory.default.nations")
    names = [r["Table"] for r in eng.sql("SHOW TABLES FROM memory.default").collect()]
    assert "nations" not in names
    with pytest.raises(Exception, match="does not exist"):
        eng.sql("SELECT * FROM memory.default.nations").collect()


def test_memory_create_when_already_created(eng):
    eng.sql("CREATE TABLE memory.default.dup AS SELECT * FROM region")
    with pytest.raises(ValueError, match=r"already exists"):
        eng.sql("CREATE TABLE memory.default.dup AS SELECT * FROM region")
    # IF NOT EXISTS form is a no-op, as in MemoryMetadata
    eng.sql(
        "CREATE TABLE IF NOT EXISTS memory.default.dup AS SELECT * FROM region"
    )


def test_memory_insert_and_ctas_no_data(eng):
    eng.sql(
        "CREATE TABLE memory.default.empty AS SELECT * FROM region WITH NO DATA"
    )
    assert eng.sql("SELECT * FROM memory.default.empty").count() == 0
    n = eng.sql(
        "INSERT INTO memory.default.empty SELECT * FROM region"
    ).collect()
    assert n[0]["rows"] == 5
    eng.sql("INSERT INTO memory.default.empty SELECT * FROM region")
    assert eng.sql("SELECT * FROM memory.default.empty").count() == 10


def test_memory_schema_ddl(eng):
    eng.sql("CREATE SCHEMA memory.test_schema")
    with pytest.raises(ValueError, match=r"already exists"):
        eng.sql("CREATE SCHEMA memory.test_schema")
    eng.sql("CREATE TABLE memory.test_schema.t AS SELECT * FROM region")
    with pytest.raises(ValueError, match="Schema not empty"):
        eng.sql("DROP SCHEMA memory.test_schema")
    eng.sql("DROP TABLE memory.test_schema.t")
    eng.sql("DROP SCHEMA memory.test_schema")
    with pytest.raises(ValueError, match="not found"):
        eng.sql("CREATE TABLE memory.nope.t AS SELECT * FROM region")


def test_memory_rename(eng):
    eng.sql("CREATE SCHEMA IF NOT EXISTS memory.other")
    eng.sql("CREATE TABLE memory.default.src AS SELECT * FROM region")
    eng.sql("ALTER TABLE memory.default.src RENAME TO memory.other.dst")
    assert eng.sql("SELECT * FROM memory.other.dst").count() == 5
    with pytest.raises(Exception, match="does not exist"):
        eng.sql("SELECT * FROM memory.default.src").collect()
    # the renamed table stays cache-pinned: bytes_used() must keep
    # reading cached-relation stats for the 128 MB limit enforcement
    from facebook_presto_spark.connectors import get_catalogs

    mem = get_catalogs(eng.spark).memory
    view = mem.tables[("other", "dst")]
    assert eng.spark.catalog.isCached(view)
    eng.sql("DROP TABLE memory.other.dst")
    eng.sql("DROP SCHEMA memory.other")


def test_connector_names_inside_string_literals_untouched(eng):
    """A 'memory.default.t' literal is data, not a table reference —
    the three-part-name rewrite must skip quoted strings."""
    row = eng.sql(
        "SELECT 'memory.default.missing' AS ref, "
        "'it''s blackhole.default.x' AS esc"
    ).collect()[0]
    assert row["ref"] == "memory.default.missing"
    assert row["esc"] == "it's blackhole.default.x"
    # a real reference outside the literal still resolves
    eng.sql("CREATE TABLE memory.default.litmix AS SELECT * FROM region")
    rows = eng.sql(
        "SELECT 'tpch.tiny.orders' AS tag, count(*) AS n "
        "FROM memory.default.litmix"
    ).collect()
    assert rows[0]["tag"] == "tpch.tiny.orders" and rows[0]["n"] == 5
    eng.sql("DROP TABLE memory.default.litmix")


def test_memory_insert_values_and_describe(eng):
    eng.sql("CREATE TABLE memory.default.kv (k bigint, v varchar)")
    eng.sql("INSERT INTO memory.default.kv VALUES (1, 'a'), (2, 'b')")
    rows = eng.sql("SELECT * FROM memory.default.kv ORDER BY k").collect()
    assert [(r["k"], r["v"]) for r in rows] == [(1, "a"), (2, "b")]
    cols = [
        r["col_name"]
        for r in eng.sql("DESCRIBE memory.default.kv").collect()
    ]
    assert cols == ["k", "v"]


def test_memory_insert_column_list(eng):
    """InsertInto grammar with an explicit column list: unmentioned
    target columns NULL-fill (the reference's insert alignment)."""
    eng.sql(
        "CREATE TABLE memory.default.part_ins (a bigint, b varchar, c double)"
    )
    eng.sql(
        "INSERT INTO memory.default.part_ins (b, a) "
        "SELECT r_name, r_regionkey FROM region"
    )
    rows = eng.sql(
        "SELECT * FROM memory.default.part_ins ORDER BY a"
    ).collect()
    assert rows[0]["b"] == "AFRICA" and rows[0]["a"] == 0
    assert all(r["c"] is None for r in rows)


def test_memory_limit_enforced(eng, spark):
    cats = connectors.get_catalogs(spark)
    cats.memory.max_bytes = 1024  # force the MemoryPagesStore error path
    with pytest.raises(ValueError, match=r"Memory limit \[1024\] for memory "
                                         r"connector exceeded"):
        eng.sql("CREATE TABLE memory.default.toobig AS SELECT * FROM orders")
    # the failed write rolled back: the table is not visible
    assert ("default", "toobig") not in cats.memory.tables


# -- blackhole ---------------------------------------------------------------


def test_blackhole_default_props_empty(eng):
    eng.sql("CREATE TABLE blackhole.default.nil (x bigint, s varchar)")
    assert eng.sql("SELECT * FROM blackhole.default.nil").count() == 0


def test_blackhole_generates_zero_pages(eng):
    eng.sql("""
        CREATE TABLE blackhole.default.gen
            (x bigint, b boolean, v varchar(3), w varchar, p double)
        WITH (split_count = 2, pages_per_split = 2, rows_per_page = 10)
    """)
    rows = eng.sql("SELECT DISTINCT * FROM blackhole.default.gen").collect()
    assert len(rows) == 1
    r = rows[0]
    # BlackHolePageSourceProvider: 0 / false / '*'×min(len, field_length=16)
    assert (r["x"], r["b"], r["v"], r["w"], r["p"]) == (
        0, False, "***", "*" * 16, 0.0,
    )
    assert eng.sql("SELECT count(*) AS n FROM blackhole.default.gen") \
        .collect()[0]["n"] == 40


def test_blackhole_write_discarded(eng):
    eng.sql("CREATE TABLE blackhole.default.sink (k bigint, nm varchar)")
    n = eng.sql(
        "INSERT INTO blackhole.default.sink "
        "SELECT n_nationkey, n_name FROM nation"
    ).collect()
    assert n[0]["rows"] == 25
    assert eng.sql("SELECT * FROM blackhole.default.sink").count() == 0


def test_blackhole_ctas_counts_and_discards(eng):
    n = eng.sql(
        "CREATE TABLE blackhole.default.cts AS SELECT * FROM nation"
    ).collect()
    assert n[0]["rows"] == 25
    assert eng.sql("SELECT * FROM blackhole.default.cts").count() == 0


def test_blackhole_unknown_property_rejected(eng):
    with pytest.raises(ValueError, match="unsupported blackhole table"):
        eng.sql(
            "CREATE TABLE blackhole.default.bad (x bigint) "
            "WITH (bogus = 1)"
        )


# -- localfile ---------------------------------------------------------------


def test_localfile_reads_tsv(eng, spark, sf_dir):
    path = connectors.write_http_log_fixture(spark, sf_dir)
    connectors.get_catalogs(spark).localfile.configure(path)
    df = eng.sql("""
        SELECT count(*) AS n, count(DISTINCT method) AS methods,
               min(response_code) AS lo, max(response_code) AS hi
        FROM localfile.logs.http_request_log
    """)
    r = df.collect()[0]
    assert r["methods"] == 4 and (r["lo"], r["hi"]) == (200, 500)
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    assert r["n"] == events.count()


def test_localfile_unconfigured_raises(eng, spark):
    cats = connectors.get_catalogs(spark)
    saved, cats.localfile.location = cats.localfile.location, None
    try:
        with pytest.raises(ValueError, match="not configured"):
            eng.sql("SELECT * FROM localfile.logs.http_request_log")
    finally:
        cats.localfile.location = saved


# -- example-http --------------------------------------------------------------

REF_EXAMPLE_DATA = (
    "/root/reference/presto-example-http/src/test/resources/example-data"
)


def test_example_http_over_real_http(eng, spark):
    """Serve the reference's own example-data fixtures over a local HTTP
    server and read them through the connector — metadata fetch, relative
    source-URI resolution, per-URI splits, and the cursor's trim/parse
    rules all exercised end-to-end."""
    import functools
    import http.server
    import threading

    handler = functools.partial(
        http.server.SimpleHTTPRequestHandler, directory=REF_EXAMPLE_DATA
    )
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        port = srv.server_address[1]
        connectors.get_catalogs(spark).example.configure(
            f"http://127.0.0.1:{port}/example-metadata.json"
        )
        rows = eng.sql(
            "SELECT text, value FROM example.example.numbers ORDER BY value"
        ).collect()
        assert [(r["text"], r["value"]) for r in rows] == [
            ("one", 1), ("two", 2), ("three", 3),
            ("ten", 10), ("eleven", 11), ("twelve", 12),
        ]
        # schema listing + the tpch schema's typed columns
        names = [
            r["Table"]
            for r in eng.sql("SHOW TABLES FROM example.tpch").collect()
        ]
        assert names == ["lineitem", "orders"]
        total = eng.sql(
            "SELECT sum(totalprice) AS tp, count(*) AS n "
            "FROM example.tpch.orders"
        ).collect()[0]
        assert total["n"] > 0 and total["tp"] > 0.0
    finally:
        srv.shutdown()


def test_example_http_split_per_source(eng, spark):
    path = connectors.write_example_fixture(spark, "/root/testdata/sf0.01")
    cats = connectors.get_catalogs(spark)
    cats.example.configure(path)
    df = cats.example.read("geo", "nations")
    assert df.rdd.getNumPartitions() == 2  # one split per source URI
    assert df.count() == 25
    with pytest.raises(ValueError, match="does not exist"):
        eng.sql("SELECT * FROM example.geo.nope")


def test_show_catalogs(eng):
    names = [r["Catalog"] for r in eng.sql("SHOW CATALOGS").collect()]
    assert names == ["blackhole", "example", "hive", "jmx", "localfile",
                     "memory", "spark", "system", "tpch"]
    like = [
        r["Catalog"]
        for r in eng.sql("SHOW CATALOGS LIKE '%m%'").collect()
    ]
    assert like == ["example", "jmx", "memory", "system"]


# -- tpch ----------------------------------------------------------------------


def test_tpch_tiny_unprefixed_columns(eng, spark):
    df = eng.sql(
        "SELECT orderkey, custkey, totalprice FROM tpch.tiny.orders "
        "WHERE orderkey < 10"
    )
    rows = df.collect()
    prefixed = spark.read.parquet("/root/testdata/sf0.01/orders.parquet") \
        .filter("o_orderkey < 10").count()
    assert len(rows) == prefixed and rows[0]["orderkey"] is not None


def test_tpch_schema_listing_and_errors(eng):
    schemas = [
        r["Schema"] for r in eng.sql("SHOW SCHEMAS FROM tpch").collect()
    ]
    assert "tiny" in schemas and "sf0_1" in schemas
    tables = [
        r["Table"] for r in eng.sql("SHOW TABLES FROM tpch.tiny").collect()
    ]
    assert "lineitem" in tables and "orders" in tables
    with pytest.raises(ValueError, match="capacity guard"):
        eng.sql("SELECT * FROM tpch.sf1000.orders")
    with pytest.raises(ValueError, match="does not exist"):
        eng.sql("SELECT * FROM tpch.tiny.nope")


def test_tpch_partsupp_dbgen(eng):
    """partsupp is served by in-process generation (TpchMetadata's
    embedded dbgen model): 80 rows per part at tiny, reference types
    (supplycost DOUBLE), unprefixed names."""
    rows = eng.sql(
        "SELECT partkey, suppkey, availqty, supplycost "
        "FROM tpch.tiny.partsupp ORDER BY partkey, suppkey LIMIT 4"
    ).collect()
    assert len(rows) == 4 and rows[0]["partkey"] == 1
    assert isinstance(rows[0]["supplycost"], float)
    stats = eng.sql("""
        SELECT count(*) AS n, count(DISTINCT partkey) AS parts
        FROM tpch.tiny.partsupp
    """).collect()[0]
    # dbgen emits 4 suppliers per part (rounding at tiny scale)
    assert stats["parts"] * 4 == stats["n"] and stats["n"] > 7000


def test_tpch_scan_pushdown_survives_rename(eng, spark):
    # the rename-only projection must not block parquet filter pushdown
    df = eng.sql(
        "SELECT orderkey FROM tpch.tiny.orders WHERE orderkey = 7"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "o_orderkey" in plan


# -- jmx ----------------------------------------------------------------------


def test_jmx_current_memory_mbean(eng):
    rows = eng.sql(
        'SELECT * FROM jmx.current."java.lang:type=memory"'
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["object_name"] == "java.lang:type=Memory"
    assert r["objectpendingfinalizationcount"] >= 0
    assert isinstance(r["verbose"], bool)
    # composite attributes render as varchar (JmxRecordSetProvider:145)
    assert "Composite" in r["heapmemoryusage"]


def test_jmx_wildcard_multi_mbean(eng):
    df = eng.sql(
        'SELECT object_name, valid FROM jmx.current.'
        '"java.lang:name=*,type=memorypool" ORDER BY object_name'
    )
    rows = df.collect()
    assert len(rows) >= 2  # heap + at least one code-cache pool
    assert all(r["valid"] for r in rows)


def test_jmx_list_and_missing(eng, spark):
    from facebook_presto_spark import connectors

    names = [
        r["Table"] for r in eng.sql("SHOW TABLES FROM jmx.current").collect()
    ]
    assert "java.lang:type=runtime" in names
    with pytest.raises(ValueError, match="does not exist"):
        eng.sql('SELECT * FROM jmx.current."no.such:type=bean"')


def test_jmx_history_sampling(eng, spark):
    from facebook_presto_spark import connectors

    jmx = connectors.get_catalogs(spark).jmx
    jmx.configure(["java.lang:type=Memory"], dump_period_s=1.0,
                  max_entries=10)
    jmx.sample(at=100.0)
    jmx.sample(at=101.4)  # rounds to 101.0
    df = eng.sql(
        'SELECT "timestamp", object_name FROM jmx.history.'
        '"java.lang:type=memory" ORDER BY "timestamp"'
    )
    rows = df.collect()
    assert len(rows) == 2
    assert [r["timestamp"].second for r in rows] == [40, 41]
    assert all(r["object_name"] == "java.lang:type=Memory" for r in rows)


def test_jmx_periodic_sampler_thread(eng, spark):
    """JmxPeriodicSampler parity: the background sampler dumps every
    period into the ring buffer until stopped."""
    import time as _time

    from facebook_presto_spark import connectors

    jmx = connectors.get_catalogs(spark).jmx
    jmx.configure(["java.lang:type=Runtime"], dump_period_s=0.2,
                  max_entries=3)
    jmx.start_sampler()
    try:
        _time.sleep(1.0)
    finally:
        jmx.stop_sampler()
    dumps = len(jmx._history["java.lang:type=runtime"])
    assert 2 <= dumps <= 3  # ring buffer capped at max_entries
    df = eng.sql(
        'SELECT count(*) AS n FROM jmx.history."java.lang:type=runtime"'
    )
    assert df.collect()[0]["n"] == dumps


def test_localfile_timestamp_parses(eng, spark, sf_dir):
    path = connectors.write_http_log_fixture(spark, sf_dir)
    connectors.get_catalogs(spark).localfile.configure(path)
    r = eng.sql("""
        SELECT min(year("timestamp")) AS y
        FROM localfile.logs.http_request_log
    """).collect()[0]
    assert r["y"] >= 1990  # parsed as a real timestamp, not null/garbage


def test_registry_is_shared_by_concurrent_first_use(spark, monkeypatch):
    """Protocol-server request threads that reach a new session's
    connector registry at the same time all get the same one."""
    import threading
    import time as _time

    class SlowCatalogs:  # widens the check-then-insert window
        def __init__(self, _spark):
            _time.sleep(0.02)

    monkeypatch.setattr(connectors, "ConnectorCatalogs", SlowCatalogs)
    fresh = spark.newSession()
    start = threading.Barrier(8)
    got = []

    def touch():
        start.wait()
        got.append(connectors.get_catalogs(fresh))

    threads = [threading.Thread(target=touch) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(got) == 8
    assert all(c is got[0] for c in got)
