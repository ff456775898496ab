"""The benchmark's three workloads and the checks on their results.

Each workload is a closed loop of one client: it sends the next statement
only after the previous one completed.  Statements come in *units* (a
TPC-H pass, a cycle of interactive rounds, one ETL iteration), each drawn
from the run seed and the unit's index, and a run always measures whole
units so that every run of a workload measures the same statement mix.

Every statement carries what is needed to check its result against
DuckDB over the same parquet files; checking happens after the measured
window, never inside it.
"""

from __future__ import annotations

import http.client
import random
import sys
import time
from dataclasses import dataclass, field

from metrics import row_hash, wire

import datagen


@dataclass
class Statement:
    kind: str           # e.g. "tpch.q01", "point", "etl.ctas"
    sql: str
    twin: object = None  # what the check compares against
    reads: bool = True   # a query whose result rows go to the client


@dataclass
class Outcome:
    stmt: Statement
    latency_s: float
    ttfr_s: float
    columns: list = field(default_factory=list)
    rows: list = field(default_factory=list)
    error: str | None = None
    pages: int = 0
    bytes: int = 0
    nrows: int = 0
    digest: tuple | None = None  # row_hash() of rows no longer kept

    def __post_init__(self):
        self.nrows = len(self.rows)


class Oracle:
    """DuckDB over the same parquet files the engine reads."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for t in datagen.TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def query(self, sql: str) -> tuple[list[str], list[tuple]]:
        cur = self.con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()


def _mismatch(got_cols, got_rows, want_cols, want_rows) -> str | None:
    if list(got_cols) != list(want_cols):
        return f"columns {list(got_cols)} != {list(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"{len(got_rows)} rows != {len(want_rows)}"
    for i, (g, w) in enumerate(zip(got_rows, want_rows)):
        if list(g) != list(w):
            return f"row {i}: {g} != {w}"
    return None


class Workload:
    name = ""
    # measured units per run = round(seconds / nominal_unit_s), at least
    # one: the unit count depends only on --seconds, never on how fast
    # this machine happens to be, so every run measures the same mix
    nominal_unit_s = 1.0
    # warm-up stops before a chunk that would take it past this many
    # seconds, leveled off or not, so that a run of every workload fits
    # the benchmark's time budget
    warm_budget_s = 15.0
    # this many warm-up chunks run whatever the budget says
    warm_min_chunks = 1

    def __init__(self, seed: int, engine, client, sizes: dict):
        self.seed = seed
        self.engine = engine
        self.client = client
        self.sizes = sizes

    def rng(self, unit: int) -> random.Random:
        return random.Random(f"{self.seed}:{self.name}:{unit}")

    def unit(self, index: int) -> list[Statement]:
        raise NotImplementedError

    def warm_chunk(self, k: int) -> list[Statement]:
        """The ``k``-th chunk of untimed warm-up statements.  Chunk 0 runs
        every statement shape of the workload at least once; later chunks
        are further units.  Warm-up units have negative indices, so they
        never repeat a measured one."""
        return self.unit(-k)

    def run(self, stmt: Statement) -> Outcome:
        """Over the statement protocol, as a Presto user would."""
        t0 = time.perf_counter()
        try:
            r = self.client.execute(stmt.sql)
        except (OSError, http.client.HTTPException) as e:  # a failed statement
            t = time.perf_counter() - t0
            return Outcome(stmt, t, t, error=f"{type(e).__name__}: {e}")
        return Outcome(stmt, r.latency_s, r.ttfr_s, r.columns, r.rows,
                       r.error, r.pages, r.bytes)

    def check(self, out: Outcome, oracle: Oracle) -> str | None:
        raise NotImplementedError


# -- analytic_tpch ----------------------------------------------------------


class AnalyticTpch(Workload):
    """The 22 Presto-dialect TPC-H texts through ``engine.sql().collect()``,
    in a seeded order per pass."""

    name = "analytic_tpch"
    nominal_unit_s = 17.0
    warm_budget_s = 40.0

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        from facebook_presto_spark.plans.presto_sql import ORACLE, PRESTO_SQL

        self.texts = {f"prestosql_q{i:02d}": PRESTO_SQL[f"prestosql_q{i:02d}"]
                      for i in range(1, 23)}
        self.oracles = ORACLE
        self._expected: dict = {}

    def unit(self, index: int) -> list[Statement]:
        names = sorted(self.texts)
        self.rng(index).shuffle(names)
        return [Statement(f"tpch.{n[-3:]}", self.texts[n], twin=n) for n in names]

    def run(self, stmt: Statement) -> Outcome:
        t0 = time.perf_counter()
        try:
            df = self.engine.sql(stmt.sql)
            rows = df.collect()
        except Exception as e:  # a failed statement is a measured outcome
            t = time.perf_counter() - t0
            return Outcome(stmt, t, t, error=str(e).split("\n")[0][:300])
        t = time.perf_counter() - t0
        # collect() hands over every row at once: first row == last row
        return Outcome(stmt, t, t, list(df.columns), rows)

    def check(self, out: Outcome, oracle: Oracle) -> str | None:
        import pandas as pd

        name = out.stmt.twin
        if name not in self._expected:
            self._expected[name] = _normalize(oracle.con.execute(self.oracles[name]).fetchdf())
        want = self._expected[name]
        got = pd.DataFrame.from_records([tuple(r) for r in out.rows], columns=out.columns)
        if sorted(got.columns) != list(want.columns):
            return f"columns {sorted(got.columns)} != {list(want.columns)}"
        if len(got) != len(want):
            return f"{len(got)} rows != {len(want)}"
        if len(got) and not _normalize(got).equals(want):
            return "values differ from the DuckDB oracle"
        return None


def _normalize(df):
    """``tools/selfcheck.py``'s normalisation: columns sorted, cells
    rendered canonically, rows sorted."""
    import os

    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    saved = list(sys.path)
    sys.path.insert(0, tools)
    try:
        from selfcheck import _normalize as norm
    finally:
        sys.path[:] = saved
    return norm(df)


# -- interactive_http ---------------------------------------------------------

CLASSES = ("point", "dimjoin", "smallagg", "fn", "approx", "meta")
META_KINDS = ("show_tables", "describe", "columns", "show_functions")

# DuckDB type -> the spellings the engine may use for it (Spark's in
# DESCRIBE, Presto's in information_schema)
_TYPES = {
    "BIGINT": {"bigint"},
    "INTEGER": {"integer", "int"},
    "DOUBLE": {"double"},
    "VARCHAR": {"varchar", "string"},
    "TIMESTAMP": {"timestamp", "timestamp_ntz"},
}
# functions the other classes call; SHOW FUNCTIONS must list them
_USED_FUNCTIONS = {
    "upper", "strpos", "regexp_extract", "regexp_like", "json_extract_scalar",
    "date_format", "date_add", "approx_distinct", "approx_percentile",
}

_FN_SQL = """
SELECT c_custkey, upper(c_name) AS uname, strpos(c_name, '#') AS hashpos,
       regexp_extract(c_name, '#0*([1-9][0-9]*)', 1) AS num,
       regexp_like(c_mktsegment, '^[A-F]') AS early,
       json_extract_scalar('{{"seg": "' || c_mktsegment || '", "k": '
                           || CAST(c_custkey AS VARCHAR) || '}}', '$.seg') AS seg,
       date_format(date_add('day', CAST(c_custkey % 365 AS INTEGER),
                            TIMESTAMP '1996-01-01'), '%Y-%m-%d') AS day
FROM customer WHERE c_custkey BETWEEN {lo} AND {hi} ORDER BY c_custkey
"""
_FN_TWIN = """
SELECT c_custkey, upper(c_name) AS uname, strpos(c_name, '#') AS hashpos,
       regexp_extract(c_name, '#0*([1-9][0-9]*)', 1) AS num,
       regexp_matches(c_mktsegment, '^[A-F]') AS early,
       json_extract_string('{{"seg": "' || c_mktsegment || '", "k": '
                           || CAST(c_custkey AS VARCHAR) || '}}', '$.seg') AS seg,
       strftime(TIMESTAMP '1996-01-01' + to_days(CAST(c_custkey % 365 AS INTEGER)),
                '%Y-%m-%d') AS day
FROM customer WHERE c_custkey BETWEEN {lo} AND {hi} ORDER BY c_custkey
"""


class InteractiveHttp(Workload):
    """Short statements over ``/v1/statement``: six classes round-robin;
    one unit is four rounds, so each meta kind runs once per unit."""

    name = "interactive_http"
    # One measured unit per 20 s of --seconds, though a unit takes about
    # 11 s on a 4-vCPU VM: the rest goes to warm-up.  The first rounds
    # after chunk 0 still run up to twice as slow as the fourth, by how
    # much varying from run to run, so four more rounds always warm up.
    nominal_unit_s = 20.0
    warm_min_chunks = 5

    def unit(self, index: int) -> list[Statement]:
        rng = self.rng(index)
        out = []
        for meta in META_KINDS:
            out += [self._make(c, rng, meta) for c in CLASSES]
        return out

    def warm_chunk(self, k: int) -> list[Statement]:
        # chunk 0: one round, then the meta kinds it did not reach; later
        # chunks: one round each, the meta kinds in turn
        rng = self.rng(-k)
        if k == 0:
            return [self._make(c, rng, META_KINDS[0]) for c in CLASSES] + [
                self._make("meta", rng, m) for m in META_KINDS[1:]
            ]
        return [self._make(c, rng, META_KINDS[k % len(META_KINDS)]) for c in CLASSES]

    def _make(self, cls: str, rng: random.Random, meta: str) -> Statement:
        n_ord, n_cust = self.sizes["orders"], self.sizes["customer"]
        if cls == "point":
            sql = (
                "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                f"o_orderdate, o_orderpriority FROM orders WHERE o_orderkey = {rng.randrange(n_ord)}"
            )
            return Statement(cls, sql, twin=sql)
        if cls == "dimjoin":
            sql = (
                "SELECT r_name, n_name, count(*) AS suppliers, "
                "sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS bal_cents "
                "FROM supplier JOIN nation ON s_nationkey = n_nationkey "
                "JOIN region ON n_regionkey = r_regionkey "
                f"WHERE r_name = '{rng.choice(datagen.REGIONS)}' "
                "GROUP BY r_name, n_name ORDER BY n_name"
            )
            return Statement(cls, sql, twin=sql)
        if cls == "smallagg":
            day = f"{rng.randrange(1995, 2001)}-{rng.randrange(1, 13):02d}-01"
            head = (
                "SELECT o_orderpriority, count(*) AS n, "
                "sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents FROM orders "
                f"WHERE o_orderdate >= TIMESTAMP '{day}' AND o_orderdate < "
            )
            tail = " GROUP BY o_orderpriority ORDER BY o_orderpriority"
            return Statement(
                cls, head + f"date_add('month', 1, TIMESTAMP '{day}')" + tail,
                twin=head + f"TIMESTAMP '{day}' + INTERVAL 1 MONTH" + tail,
            )
        if cls == "fn":
            lo = rng.randrange(1, n_cust - 20)
            return Statement(cls, _FN_SQL.format(lo=lo, hi=lo + 19),
                             twin=_FN_TWIN.format(lo=lo, hi=lo + 19))
        if cls == "approx":
            k = rng.randrange(n_ord // 10, n_ord // 5)
            return Statement(
                cls,
                "SELECT approx_distinct(l_partkey) AS parts, "
                "approx_percentile(l_extendedprice, 0.5) AS p50 "
                f"FROM lineitem WHERE l_orderkey < {k}",
                twin="SELECT count(DISTINCT l_partkey), "
                "quantile_disc(l_extendedprice, 0.49), quantile_disc(l_extendedprice, 0.51) "
                f"FROM lineitem WHERE l_orderkey < {k}",
            )
        table = rng.choice(datagen.TABLES)
        sql = {
            "show_tables": "SHOW TABLES",
            "describe": f"DESCRIBE {table}",
            "columns": "SELECT column_name, data_type FROM information_schema.columns "
                       f"WHERE table_name = '{table}' ORDER BY ordinal_position",
            "show_functions": "SHOW FUNCTIONS",
        }[meta]
        return Statement(f"meta.{meta}", sql, twin=table)

    def check(self, out: Outcome, oracle: Oracle) -> str | None:
        kind, twin = out.stmt.kind, out.stmt.twin
        if kind == "approx":
            _, [(exact, lo, hi)] = oracle.query(twin)
            [[parts, p50]] = out.rows
            if abs(parts - exact) > 0.1 * exact:
                return f"approx_distinct {parts} vs exact {exact}"
            if not lo <= p50 <= hi:
                return f"approx_percentile {p50} outside [{lo}, {hi}]"
            return None
        if kind == "meta.show_tables":
            seen = {str(c).lower() for row in out.rows for c in row}
            missing = set(datagen.TABLES) - seen
            return f"tables missing: {sorted(missing)}" if missing else None
        if kind == "meta.show_functions":
            seen = {str(row[0]).lower() for row in out.rows}
            missing = _USED_FUNCTIONS - seen
            return f"functions missing: {sorted(missing)}" if missing else None
        if kind in ("meta.describe", "meta.columns"):
            _, want = oracle.query(f"DESCRIBE {twin}")
            got = [(row[0], str(row[1]).lower()) for row in out.rows]
            if len(got) != len(want):
                return f"{len(got)} columns != {len(want)}"
            for (g_name, g_type), (w_name, w_type, *_) in zip(got, want):
                if g_name != w_name or g_type not in _TYPES.get(w_type, {w_type.lower()}):
                    return f"column {g_name} {g_type} != {w_name} {w_type}"
            return None
        cols, rows = oracle.query(twin)
        return _mismatch(out.columns, out.rows, cols, [wire(list(r)) for r in rows])


# -- etl_export ---------------------------------------------------------------

_ETL_COLS = "o_orderkey, o_custkey, o_totalprice, o_orderdate, o_orderpriority"


class EtlExport(Workload):
    """The hive write path beside a bulk read over the protocol: one unit
    is CTAS of a partitioned table, INSERT of a slice, DELETE of one
    partition, export of the whole table, DROP."""

    name = "etl_export"
    nominal_unit_s = 10.0
    warm_budget_s = 20.0
    schema = "perfbench"

    def run(self, stmt: Statement) -> Outcome:
        out = super().run(stmt)
        if stmt.kind == "etl.export":
            # keep a digest, not the rows: holding every export would
            # grow this process's heap, and its garbage collection time,
            # from one statement to the next
            out.digest = row_hash(out.rows)
            out.rows = []
        return out

    def unit(self, index: int) -> list[Statement]:
        rng = self.rng(index)
        r = rng.randrange(50)
        day = f"{rng.randrange(1995, 2002)}-{rng.randrange(1, 13):02d}-01"
        prio = rng.choice(datagen.PRIORITIES)
        # warm-up units (negative index) write tables of their own names
        t = f"hive.{self.schema}.{'w' if index < 0 else 't'}{abs(index)}"
        keep = f"o_custkey % 50 <> {r}"
        slice_ = f"o_custkey % 50 = {r} AND o_orderdate < TIMESTAMP '{day}'"
        loaded = f"(SELECT {_ETL_COLS} FROM orders WHERE ({keep}) OR ({slice_}))"
        return [
            Statement(
                "etl.ctas",
                f"CREATE TABLE {t} WITH (format = 'PARQUET', "
                "partitioned_by = ARRAY['o_orderpriority']) "
                f"AS SELECT {_ETL_COLS} FROM orders WHERE {keep}",
                twin=f"SELECT count(*) FROM orders WHERE {keep}", reads=False,
            ),
            Statement(
                "etl.insert",
                f"INSERT INTO {t} SELECT {_ETL_COLS} FROM orders WHERE {slice_}",
                twin=f"SELECT count(*) FROM orders WHERE {slice_}", reads=False,
            ),
            Statement(
                "etl.delete", f"DELETE FROM {t} WHERE o_orderpriority = '{prio}'",
                twin=f"SELECT count(*) FROM {loaded} WHERE o_orderpriority = '{prio}'",
                reads=False,
            ),
            Statement(
                "etl.export", f"SELECT * FROM {t}",
                twin=f"SELECT * FROM {loaded} WHERE o_orderpriority <> '{prio}'",
            ),
            Statement("etl.drop", f"DROP TABLE {t}", reads=False),
        ]

    def check(self, out: Outcome, oracle: Oracle) -> str | None:
        kind, twin = out.stmt.kind, out.stmt.twin
        if kind == "etl.drop":
            return None
        if kind == "etl.export":
            cols, want = oracle.query(twin)
            if out.columns != cols:
                return f"columns {out.columns} != {cols}"
            got_n, got_h = out.digest
            want_n, want_h = row_hash(wire(list(r)) for r in want)
            if got_n != want_n:
                return f"{got_n} rows exported != {want_n}"
            return None if got_h == want_h else "exported rows differ from DuckDB"
        _, [(want,)] = oracle.query(twin)
        got = out.rows[0][0] if out.rows else None
        return None if got == want else f"{got} rows != {want}"


WORKLOADS = {w.name: w for w in (AnalyticTpch, InteractiveHttp, EtlExport)}
