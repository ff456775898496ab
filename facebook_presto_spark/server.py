"""HTTP statement protocol — the reference's entry point A.

Clients (CLI / JDBC / StatementClientV1) drive Presto exclusively through
``POST /v1/statement`` and then follow ``nextUri`` pages
(presto-main/.../server/protocol/StatementResource.java:84;
presto-client/.../QueryResults.java:52-62 defines the wire shape:
id / infoUri / nextUri / columns / data / stats / error / updateType /
updateCount; Column.java:32 name+type).

This module serves that protocol over the engine.  Execution is
synchronous (local Spark session — no cluster scheduler to defer to);
results page out 1000 rows per response exactly like the reference's
client loop expects: keep GETting ``nextUri`` until it disappears,
DELETE cancels.

Each POST runs on a request view of the engine
(``PrestoSparkEngine.for_request``), as the reference rebuilds a
``Session`` from each request's headers: the transaction id, SQL path
and prepared statements the client replays are the view's own, so
nothing a statement does to them reaches another client.  The response
headers (a started or cleared transaction, ``X-Presto-Set-Path``, an
added or deallocated prepared statement) compare the view's state before
and after the statement.  Session properties (``X-Presto-Session:
k=v,...``, and the statement's own SET or RESET SESSION) apply to that
statement only, and SET / RESET SESSION answer ``X-Presto-Set-Session:
name=value`` / ``X-Presto-Clear-Session: name`` for the client to replay.

Each statement is one ``systemtables.QueryEntry`` in the engine's
runtime registry, like the reference's protocol ``Query``: the same
object is the statement's row in ``system.runtime.queries`` and holds
its paging state (columns, page source, buffered page).  The server
reads and changes only that object.  ``kill_query`` and a DELETE fail
it: a statement ended while it was still planning answers FAILED on its
POST, and one ended while paging answers FAILED on its next GET.  The
last page, a failure and a cancel drop the page source, and the
registry's ``MAX_ENTRIES`` bound also bounds the paging state of
clients that stop polling.  A write (CREATE TABLE AS, INSERT, DELETE)
answers ``updateType`` and takes ``updateCount`` from its single
``rows`` cell, as the reference's ``Query`` does.

How rows leave Spark depends on the physical plan and the schema
(``result_rows``), in three branches:

- A plan whose root already holds its rows in the driver (a
  ``LocalTableScanExec`` — VALUES, small driver-built metadata results —
  or a ``CommandResultExec`` — SHOW TABLES, DESCRIBE and other commands)
  is answered by ``collect()``, which launches no Spark job, the way the
  reference answers metadata statements on the coordinator.
- A result with no columns, or with a type Arrow cannot carry as the
  values a ``Row`` holds (interval year to month, calendar intervals, a
  row with duplicate field names, a variant), streams
  through ``toLocalIterator``: one job per partition, pickled rows.
- Every other plan is read as Arrow record batches in partition order:
  one Spark job per wave of partitions, run only when paging reaches
  the wave, and each batch is turned into Python values column by
  column.  A job brings its whole wave to the driver, so a wave is at
  most ``defaultParallelism`` partitions and, once the bytes per
  partition are known, no more than fit half of
  ``spark.driver.maxResultSize``; a wave that cap aborts is read again
  one partition per job.  The driver holds at most one wave plus one
  page.  (``DataFrame.toArrow`` sends batches in the order partitions
  finish and their order last, so no page could be served before the
  whole result sat in the driver, under that cap.)

Both sources yield the same Python values, up to a row being a tuple
or a ``Row`` and varbinary ``bytes`` or ``bytearray``, and
``_json_cell`` encodes them, map keys included, to the same wire
form.  Non-finite doubles go on the wire as the strings
``"NaN"``, ``"Infinity"`` and ``"-Infinity"``, as the reference writes
them, so every response is strict JSON.

Usage::

    from facebook_presto_spark.server import serve
    srv = serve(engine, port=8080)          # background thread
    # POST http://localhost:8080/v1/statement with the SQL as the body
    srv.shutdown()
"""

from __future__ import annotations

import base64
import contextlib
import datetime as dt
import decimal
import json
import math
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import quote, unquote

from facebook_presto_spark.infoschema import presto_type_name
from facebook_presto_spark.properties import (restore_confs,
                                               set_session_property,
                                               snapshot_confs)
from facebook_presto_spark.statements import classify
from facebook_presto_spark.systemtables import QueryEntry

PAGE_SIZE = 1000

# statement kind → QueryResults.updateType of a write
_UPDATE_TYPES = {"create_table_as": "CREATE TABLE", "insert": "INSERT",
                 "delete": "DELETE"}

# physical roots whose rows already sit in the driver: collect() serves
# them without launching a Spark job
_DRIVER_LOCAL_ROOTS = frozenset({"LocalTableScanExec", "CommandResultExec"})


def result_rows(df):
    """Iterator over the rows of ``df`` for a client, as tuples of the
    Python values a ``Row`` holds (see the module docstring for the three
    branches)."""
    root = df._jdf.queryExecution().executedPlan()
    if root.getClass().getSimpleName() in _DRIVER_LOCAL_ROOTS:
        return iter(df.collect())
    schema = _arrow_schema(df)
    if schema is None:
        return df.toLocalIterator()
    return _arrow_rows(df, schema)


def _arrow_schema(df):
    """The Arrow schema ``df``'s record batches are decoded with, or None
    if the result has no columns or a type the batches cannot carry as
    the values a ``Row`` holds."""
    from pyspark.errors import PySparkException
    from pyspark.sql.pandas.types import to_arrow_schema

    if not df.schema.fields or not _row_values(df.schema):
        return None
    try:
        return to_arrow_schema(
            df.schema, error_on_duplicated_field_names_in_struct=True,
            prefers_large_types=df.sparkSession._jconf.arrowUseLargeVarTypes())
    except PySparkException:  # interval year to month, calendar interval
        return None


def _row_values(t) -> bool:
    """Whether Arrow carries ``t`` as the values a ``Row`` holds; a
    variant's Row value is its own class, whose text is its JSON."""
    from pyspark.sql import types as T

    if isinstance(t, T.VariantType):
        return False
    if isinstance(t, T.ArrayType):
        return _row_values(t.elementType)
    if isinstance(t, T.MapType):
        return _row_values(t.keyType) and _row_values(t.valueType)
    if isinstance(t, T.StructType):
        return all(_row_values(f.dataType) for f in t.fields)
    return True


def _arrow_rows(df, schema):
    """The rows of ``df`` from its Arrow record batches, in partition
    order, one Spark job per wave of partitions, each run when paging
    first reaches its wave (PySpark's own ``SparkContext.runJob`` call,
    over ``Dataset.toArrowBatchRdd``).

    A wave is at most ``defaultParallelism`` partitions, and after the
    first, as many as fit half of ``spark.driver.maxResultSize`` at the
    bytes per partition read so far, since one job brings its whole
    wave to the driver.  A wave the cap aborts is read again one
    partition per job; a single partition over the cap fails, as it
    does under ``toLocalIterator``."""
    import pyarrow as pa
    from pyspark.serializers import NoOpSerializer
    from pyspark.util import _load_from_socket

    sc = df.sparkSession.sparkContext
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    with _spark_errors():  # an adaptive plan runs its shuffle stages here
        jrdd = df._jdf.toArrowBatchRdd().toJavaRDD()
    budget = sc._jsc.sc().conf().getSizeAsBytes(
        "spark.driver.maxResultSize", "1g") // 2  # 0: no cap
    n = jrdd.getNumPartitions()
    lo, width = 0, sc.defaultParallelism
    while lo < n:
        wave = list(range(lo, min(lo + width, n)))
        try:
            with _spark_errors():
                sock = sc._jvm.PythonRDD.runJob(sc._jsc.sc(), jrdd, wave)
        except Exception as e:
            if len(wave) == 1 or "spark.driver.maxResultSize" not in str(e):
                raise
            width = 1
            continue
        size = 0
        for message in _load_from_socket(sock, NoOpSerializer()):
            size += len(message)
            batch = pa.ipc.read_record_batch(pa.py_buffer(message), schema)
            yield from zip(*(_values(c, tz) for c in batch.columns))
        lo += len(wave)
        if budget:
            width = max(1, min(sc.defaultParallelism,
                               budget * len(wave) // max(size, 1)))


@contextlib.contextmanager
def _spark_errors():
    """Raise a failed Spark job's own error, not py4j's wrapper: the
    task's cause where PySpark has a class for it, else the job's error.
    (``unwrap_spark_exception`` turns a job the driver aborted, which has
    no cause, into a bare AssertionError.)"""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import (UnknownException,
                                                    convert_exception)

    try:
        yield
    except Py4JJavaError as e:
        error = e.java_exception
        cause = error.getCause()
        converted = None if cause is None else convert_exception(cause)
        if converted is None or isinstance(converted, UnknownException):
            converted = convert_exception(error)
        raise converted from None


def _values(col, tz: str) -> list:
    """The Python values of Arrow column ``col``, as a ``Row`` holds
    them: a timestamp is naive wall-clock time in the session zone
    ``tz``, a row a positional tuple, a map a dict, at any depth."""
    import pyarrow as pa

    t = col.type
    if pa.types.is_timestamp(t) and t.tz is not None:
        return [None if v is None else v.replace(tzinfo=None)
                for v in col.cast(pa.timestamp(t.unit, tz)).to_pylist()]
    nested = (pa.types.is_struct(t) or pa.types.is_map(t)
              or pa.types.is_list(t) or pa.types.is_large_list(t))
    if not nested:
        return col.to_pylist()
    valid = col.is_valid().to_pylist()
    if pa.types.is_struct(t):
        fields = [_values(f, tz) for f in col.flatten()]
        rows = zip(*fields) if fields else [()] * len(valid)
        return [v if ok else None for v, ok in zip(rows, valid)]
    # list or map: offsets index the child values of the whole column
    at = col.offsets.to_pylist()
    if pa.types.is_map(t):
        keys, items = _values(col.keys, tz), _values(col.items, tz)
        return [dict(zip(keys[a:b], items[a:b])) if ok else None
                for a, b, ok in zip(at, at[1:], valid)]
    values = _values(col.values, tz)
    return [values[a:b] if ok else None for a, b, ok in zip(at, at[1:], valid)]


def temporal_text(v) -> str:
    """The text of a date, time, timestamp or day-time interval value,
    the same on the wire and in the CLI: milliseconds, as the reference
    prints them (``SqlTime``, ``SqlTimestamp``, and
    ``SqlIntervalDayTime.formatMillis``'s ``[-]D HH:MM:SS.mmm``)."""
    if isinstance(v, dt.timedelta):
        days, rest = divmod(abs(v), dt.timedelta(days=1))
        sign = "-" if v <= -dt.timedelta(milliseconds=1) else ""
        return f"{sign}{days} {temporal_text((dt.datetime.min + rest).time())}"
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")[:-3]
    if isinstance(v, dt.time):
        return v.isoformat(timespec="milliseconds")
    return v.isoformat()


def _json_cell(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        if math.isfinite(v):
            return v
        # JSON has no NaN/Infinity tokens; the reference writes these
        # strings and its client parses them back (FixJsonDataUtils)
        return "NaN" if v != v else ("Infinity" if v > 0 else "-Infinity")
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (dt.date, dt.time, dt.timedelta)):
        return temporal_text(v)
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode()
    if isinstance(v, (list, tuple)):
        return [_json_cell(x) for x in v]
    if isinstance(v, dict):
        # a key by its wire form, so a row key reads the same from a
        # tuple (Arrow) or a Row, and varbinary from bytes or bytearray
        return {str(_json_cell(k)): _json_cell(x) for k, x in v.items()}
    if hasattr(v, "asDict"):  # Row (struct): positional list like the client
        return [_json_cell(x) for x in v]
    return str(v)


def _session_headers(stmt, transaction: str | None, view) -> dict[str, str]:
    """The response headers from which the client updates the session
    it replays (PrestoHeaders.java), after ``stmt`` ran on ``view``,
    whose transaction was ``transaction`` before it ran."""
    out = {}
    if view.transaction != transaction:
        if view.transaction is None:
            out["X-Presto-Clear-Transaction-Id"] = "true"
        else:
            out["X-Presto-Started-Transaction-Id"] = view.transaction
    name = ".".join(stmt.name).lower()
    if stmt.kind == "set_path":
        out["X-Presto-Set-Path"] = view.path
    elif stmt.kind == "set_session":
        out["X-Presto-Set-Session"] = name + "=" + stmt.body.strip().strip("'\"")
    elif stmt.kind == "reset_session":
        out["X-Presto-Clear-Session"] = name
    elif stmt.kind == "prepare":
        out["X-Presto-Added-Prepare"] = (
            quote(name, safe="") + "=" + quote(stmt.body, safe=""))
    elif stmt.kind == "deallocate":
        out["X-Presto-Deallocated-Prepare"] = quote(name, safe="")
    return out


class _Handler(BaseHTTPRequestHandler):
    server_version = "PrestoSpark/0"

    def log_message(self, *args):  # quiet
        pass

    # -- helpers -----------------------------------------------------------

    def _reply(self, payload: dict, code: int = 200,
               headers: dict | None = None) -> None:
        body = json.dumps(payload, allow_nan=False).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        for name, value in (headers or {}).items():
            self.send_header(name, value)
        self.end_headers()
        self.wfile.write(body)

    def _base(self) -> str:
        host = self.headers.get("Host") or f"localhost:{self.server.server_port}"
        return f"http://{host}"

    def _results(self, q: QueryEntry, page_no: int,
                 update_type: str | None = None) -> dict | None:
        """QueryResults for page ``page_no`` of ``q``, from the registry
        entry's state; None if that page is no longer (or not yet)
        available.  A failed entry (an error while planning or paging,
        kill_query, cancel) answers FAILED with its own message and is
        not paged again; the last page finishes the entry."""
        if q.state != "FAILED":
            try:
                got = q.page(page_no, PAGE_SIZE)
            except Exception as e:  # runtime failure while streaming a page
                q.fail(str(e))
            else:
                if got is None:
                    return None
        out = {
            "id": q.qid,
            "infoUri": f"{self._base()}/v1/query/{q.qid}",
            "columns": q.columns,
        }
        if q.state == "FAILED":
            q.drop()
            out["stats"] = {"state": "FAILED"}
            out["error"] = {
                "message": q.error,
                "errorCode": 1,
                "errorName": q.error_name,
                "errorType": "USER_ERROR",
            }
            return out
        chunk, has_next = got
        # Presto's Query takes the count of a write from its single
        # bigint ``rows`` cell
        count = (chunk[0][0] if update_type and len(chunk) == 1
                 and q.columns == [{"name": "rows", "type": "bigint"}] else None)
        out.update({
            "stats": {"state": "RUNNING" if has_next else "FINISHED"},
            "error": None,
            "updateType": update_type,
            "updateCount": count,
        })
        if chunk:
            out["data"] = chunk
        if has_next:
            out["nextUri"] = f"{self._base()}/v1/statement/{q.qid}/{page_no + 1}"
        else:
            q.finish()
        return out

    def _session_view(self, engine):
        """The engine's view for this request: the transaction id, SQL
        path and prepared statements the client replays with every
        statement (PrestoHeaders.java; StatementClientV1.java:103-110),
        the way the reference rebuilds its Session from the headers."""
        transaction = (self.headers.get("X-Presto-Transaction-Id") or "").strip()
        if transaction.upper() in ("", "NONE"):
            transaction = None
        else:
            engine.transactions.get(transaction)  # raises for unknown ids
        prepared = {}
        for pair in (self.headers.get("X-Presto-Prepared-Statement") or "").split(","):
            name, eq, body = pair.strip().partition("=")
            if eq:
                prepared[unquote(name).lower()] = unquote(body)
        return engine.for_request(
            transaction, (self.headers.get("X-Presto-Path") or "").strip(), prepared)

    # -- protocol ----------------------------------------------------------

    def do_POST(self) -> None:
        if self.path.rstrip("/") != "/v1/statement":
            self._reply({"error": {"message": "not found"}}, 404)
            return
        length = int(self.headers.get("Content-Length") or 0)
        sql = self.rfile.read(length).decode()
        engine = self.server.engine
        # the statement's one entry in the runtime registry
        # (system.runtime.queries, kill_query): engine.sql runs the
        # statement under it, and it holds the paging state
        entry = engine.runtime.register(
            sql,
            user=self.headers.get("X-Presto-User") or "presto",
            source=self.headers.get("X-Presto-Source"),
        )
        stmt = classify(sql)
        # X-Presto-Session, and the statement's own SET/RESET SESSION,
        # apply to this statement only: the confs they touch are
        # restored after it
        props = [
            prop.partition("=")
            for prop in (self.headers.get("X-Presto-Session") or "").split(",")
            if "=" in prop
        ]
        names = [n for n, _, _ in props]
        if stmt.kind in ("set_session", "reset_session"):
            names.append(".".join(stmt.name))
        snap = snapshot_confs(engine.spark, names)
        try:
            view = self._session_view(engine)
            for name, _, value in props:
                set_session_property(engine.spark, name.strip(), value.strip())
            transaction = view.transaction
            df = view.sql(sql, entry)
            reply_headers = _session_headers(stmt, transaction, view)
            # kill_query or a DELETE may have ended it while planning
            if entry.state == "RUNNING":
                entry.open(
                    [{"name": f.name,
                      "type": presto_type_name(f.dataType.simpleString())}
                     for f in df.schema.fields],
                    ([_json_cell(c) for c in row] for row in result_rows(df)),
                )
        except Exception as e:  # QueryError shape (QueryResults.error)
            entry.fail(str(e))
            reply_headers = {}
        finally:
            restore_confs(engine.spark, snap)
        self._reply(self._results(entry, 0, _UPDATE_TYPES.get(stmt.kind)),
                    headers=reply_headers)

    def do_GET(self) -> None:
        parts = self.path.strip("/").split("/")
        if parts == ["v1", "info"]:
            # ServerInfoResource.java — version/environment/coordinator
            spark = self.server.engine.spark
            self._reply({
                "nodeVersion": {"version": f"spark-{spark.version}"},
                "environment": "spark",
                "coordinator": True,
                "starting": False,
            })
            return
        if len(parts) == 3 and parts[:2] == ["v1", "query"]:
            # QueryResource.java getQueryInfo — the infoUri target: basic
            # query info served from the runtime registry
            entry = self.server.engine.runtime.get(parts[2])
            if entry is None:
                self._reply({"error": {"message": "query not found"}}, 404)
                return
            self._reply({
                "queryId": entry.qid,
                "state": entry.state,
                "query": entry.query,
                "session": {"user": entry.user, "source": entry.source},
                "errorMessage": entry.error,
                "queryStats": {
                    "createTime": entry.created.isoformat(),
                    "endTime": entry.end.isoformat() if entry.end else None,
                },
            })
            return
        if len(parts) == 4 and parts[:2] == ["v1", "statement"]:
            q = self.server.engine.runtime.get(parts[2])
            if q is None or not q.pageable:
                self._reply({"error": {"message": "query not found"}}, 404)
                return
            payload = self._results(q, int(parts[3]))
            if payload is None:
                self._reply({"error": {"message": "page no longer available"}}, 410)
                return
            self._reply(payload)
            return
        self._reply({"error": {"message": "not found"}}, 404)

    def do_DELETE(self) -> None:
        parts = self.path.strip("/").split("/")
        if len(parts) == 3 and parts[:2] == ["v1", "query"]:
            # QueryResource.java cancelQuery — the admin kill endpoint
            try:
                self.server.engine.runtime.kill_query(parts[2], "canceled via API")
            except ValueError:
                pass  # idempotent cancel, like the reference
            self.send_response(204)
            self.end_headers()
            return
        if len(parts) >= 3 and parts[:2] == ["v1", "statement"]:
            entry = self.server.engine.runtime.get(parts[2])
            if entry is not None:
                entry.fail("Query was canceled", "USER_CANCELED")
                entry.drop()
            self.send_response(204)
            self.end_headers()
            return
        self._reply({"error": {"message": "not found"}}, 404)


class PrestoHttpServer(ThreadingHTTPServer):
    daemon_threads = True

    def __init__(self, engine, host: str = "127.0.0.1", port: int = 0):
        super().__init__((host, port), _Handler)
        self.engine = engine


def serve(engine, host: str = "127.0.0.1", port: int = 0) -> PrestoHttpServer:
    """Start the statement server on a daemon thread; returns the server
    (``server_port`` holds the bound port; call ``shutdown()`` to stop)."""
    srv = PrestoHttpServer(engine, host, port)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv
