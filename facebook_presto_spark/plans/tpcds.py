"""TPC-DS rung — six representative decision-support queries.

The reference benchmarks TPC-DS alongside TPC-H
(presto-benchto-benchmarks/src/main/resources/benchmarks/presto/
tpcds.yaml:1-30) and ships the full query corpus as product tests
(presto-product-tests/.../testcases/tpcds/*.sql); tests/test_tpcds.py
already runs every corpus query against DuckDB.  This module promotes
six of them — picked for the plan shapes TPC-H doesn't exercise — into
the driver contract (queries()/oracle_sql()) and the bench set:

  q01  deep CTE + correlated scalar subquery over the CTE
  q36  ROLLUP + RANK() OVER (PARTITION BY GROUPING(…))
  q47  CTE + LAG/LEAD windows over a yearly self-join
  q57  the q47 shape on the catalog channel (window-heavy)
  q67  ROLLUP over 8 keys + RANK partition on category — the heaviest
       aggregation/window combination in the suite
  q95  WITH-clause reuse (ws_wh self-join) + EXISTS semi-joins
  q14_1  INTERSECT across three channels feeding a correlated HAVING
         threshold + ROLLUP (round 10)
  q23_1  two stacked CTE filters (frequent items × best customers)
         into a double-channel sum (round 10)
  q78   three full-outer-ish LEFT JOIN + IS NULL anti-join legs over
        the largest fact tables, with a decimal ratio (round 10)

Query text is loaded from the reference's product-test corpus at run
time (the same public TPC-DS spec text dsdgen ships); data comes from
DuckDB's built-in dsdgen at the scale matching the requested sf_dir,
staged once under .scratch/ and registered as tpcds_-prefixed temp
views so the shared TPC-H view names (customer, …) are never shadowed.
Both sides strip the trailing LIMIT (ties under LIMIT are
engine-defined; the full ordered multiset is the stronger check — see
tests/test_tpcds.py) and wrap the query in a positional column-alias
list so the driver's name-sorted hash compare aligns columns.
"""

from __future__ import annotations

import glob
import os
import re
import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

TPCDS_REF = (
    "/root/reference/presto-product-tests/src/main/resources/sql-tests/"
    "testcases/tpcds"
)
_SCRATCH = "/root/repo/.scratch"

# picked queries → one marker per output column for the positional
# alias wrap: "" = pass through, "c" = money → exact integer cents
# (the repo's TPC-H integer-cents determinism: Spark aggregates money
# as exact DECIMAL, DuckDB's avg() goes through double — rounding the
# final value to cents on BOTH sides makes the hash compare exact),
# "m" = ratio → exact integer millionths
PICKS: dict[str, tuple[str, ...]] = {
    "q01": ("",),                                    # c_customer_id
    "q36": ("m", "", "", "", ""),                    # gross_margin ratio
    "q47": ("", "", "", "", "", "", "c", "c", "c", "c"),
    "q57": ("", "", "", "", "", "c", "c", "c", "c"),
    "q67": ("", "", "", "", "", "", "", "", "c", ""),  # sumsales
    "q95": ("", "c", "c"),                           # shipping, profit
    # round 10: shapes the first six don't exercise
    "q14_1": ("", "", "", "", "c", "i"),  # INTERSECT-heavy cross-channel
    "q23_1": ("c",),                      # multi-CTE double aggregate
    "q78": ("", "", "", "m", "i", "c", "c", "i", "c", "c"),  # anti-joins
}

_TABLES = (
    "call_center", "catalog_page", "catalog_returns", "catalog_sales",
    "customer", "customer_address", "customer_demographics", "date_dim",
    "household_demographics", "income_band", "inventory", "item",
    "promotion", "reason", "ship_mode", "store", "store_returns",
    "store_sales", "time_dim", "warehouse", "web_page", "web_returns",
    "web_sales", "web_site",
)

_TABLE_RE = re.compile(r"\b(" + "|".join(_TABLES) + r")\b")


def _sf_for(sf_dir: str) -> str:
    """TPC-DS scale matching the driver's sf_dir: the correctness gate
    (sf0.001/sf0.01) compares at dsdgen sf0.01 — the scale the
    reference's expected results were computed on — and the bench rung
    (sf0.1) at dsdgen sf0.1."""
    tail = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        return "0.1" if float(tail) >= 0.1 else "0.01"
    except ValueError:
        return "0.01"


def stage_dir(sf: str) -> str:
    """Generate (once) and return the parquet staging dir for dsdgen
    sf; generation is seconds at 0.01 and ~a minute at 0.1, amortized
    across every query of a driver/bench run."""
    stage = f"{_SCRATCH}/tpcds_sf{sf}"
    if not glob.glob(os.path.join(stage, "*.parquet")):
        import duckdb

        os.makedirs(stage, exist_ok=True)
        con = duckdb.connect()
        con.execute(f"CALL dsdgen(sf={sf})")
        for (t,) in con.execute("show tables").fetchall():
            con.execute(
                f"COPY (SELECT * FROM {t}) TO '{stage}/{t}.parquet' "
                f"(FORMAT PARQUET)"
            )
        con.close()
    return stage


def _load(name: str) -> str:
    path = os.path.join(TPCDS_REF, f"{name}.sql")
    sql = "\n".join(
        ln for ln in open(path).read().splitlines()
        if not ln.startswith("--")
    ).strip().rstrip(";")
    sql = re.sub(r"\bLIMIT\s+\d+\s*$", "", sql, flags=re.I).strip()
    # prefix every table reference so the staged views never collide
    # with the shared TPC-H names (customer, …)
    return _TABLE_RE.sub(lambda m: f"tpcds_{m.group(1)}", sql)


def _wrap(sql: str, markers: tuple[str, ...]) -> str:
    scale = {"c": 100, "m": 1000000}
    outer = []
    for i, mk in enumerate(markers, 1):
        if mk in scale:
            outer.append(
                f"CAST(round(CAST(c{i} AS DOUBLE) * {scale[mk]}) AS BIGINT)"
                f" AS c{i}")
        elif mk == "i":
            # integer sums: DuckDB's sum(int) widens to HUGEINT (a float
            # through pandas) while Spark stays BIGINT — pin both sides
            outer.append(f"CAST(c{i} AS BIGINT) AS c{i}")
        else:
            outer.append(f"c{i}")
    inner = ", ".join(f"c{i}" for i in range(1, len(markers) + 1))
    return f"SELECT {', '.join(outer)} FROM ( {sql} ) AS tpcds_q({inner})"


# the dsdgen scale the runner staged last, so a same-process oracle
# binds the SAME data the Spark side read (the driver's hash-compare
# runs query-then-oracle per key): without this, a compare run at a
# bench-scale sf_dir would diverge by construction with no diagnostic
_LAST_STAGED_SF: list[str | None] = [None]


def _split_with(sql: str) -> tuple[list[tuple[str, str]], str]:
    """Top-level WITH clause → ([(name, body)], main_query)."""
    m = re.match(r"\s*with\s", sql, re.I)
    if not m:
        return [], sql
    i = m.end()
    ctes: list[tuple[str, str]] = []
    while True:
        m2 = re.match(r"\s*([A-Za-z_]\w*)\s+as\s*\(", sql[i:], re.I)
        if not m2:
            break
        name = m2.group(1)
        j = i + m2.end()
        depth = 1
        k = j
        while depth and k < len(sql):
            if sql[k] == "(":
                depth += 1
            elif sql[k] == ")":
                depth -= 1
            k += 1
        ctes.append((name, sql[j:k - 1]))
        i = k
        m3 = re.match(r"\s*,", sql[i:])
        if not m3:
            break
        i += m3.end()
    return ctes, sql[i:]


# persisted CTE frames from the previous query, released on the next
# run (the driver/bench execute one query at a time)
_PERSISTED: list[DataFrame] = []

# Persist a WITH frame only when it is BOTH multi-referenced and
# re-scans at least this many distinct fact channels per reference.
# Measured at sf0.1 (min of 5 collect() runs, persist on → off):
#   q14_1 cross_items/avg_sales (3 refs, 3 channels): 5.79 → 6.92  (win)
#   q01   customer_total_return (2 refs, 1 source):   0.95 → 0.74  (loss)
#   q23_1 frequent/best_ss       (2 refs, 1 channel): 1.67 → 1.31  (loss)
#   q95   ws_wh                  (2 refs, 1 channel): 0.99 → 0.90  (loss)
#   q47   v1                     (3 refs, 1 channel): 1.70 → 1.11  (loss)
# The pattern: caching pays only when a reference re-runs scans of
# SEVERAL fact tables (recompute cost enormous, frame output tiny);
# single-channel frames recompute faster than the columnar cache's
# materialize+read because the cache also blocks filter pushdown into
# the underlying scan.  At 100 TB the same asymmetry grows with fact
# size, so the criterion transfers.  Module constants so the bench A/B
# in tools/ can flip them.
_PERSIST_MIN_REFS = 2
_PERSIST_MIN_FACTS = 2
_FACT_TABLES = ("tpcds_store_sales", "tpcds_catalog_sales", "tpcds_web_sales")

# per session: the (applicationId, stage path) its tpcds_* views were
# last registered for.  Registering 24 parquet views is pure metadata DDL
# (schema inference + catalog entries — no data is read or cached), but
# it costs ~24 catalyst round-trips; re-issuing it on every timed run
# taxed every tpcds bench entry (guide §1: the timed region should hold
# the computation).  TEMP views are SparkSession-scoped (not
# SparkContext-scoped), so the memo is keyed on the session object — a
# second session sharing the application (newSession()) re-registers.
# Weakly: an ``id(spark)`` key could be reused by a later session.
_VIEWS_FOR: "weakref.WeakKeyDictionary[SparkSession, tuple[str, str]]" = (
    weakref.WeakKeyDictionary())

# translation is deterministic text→text; cache per query name
# ((ctes, main) pre-translated — ~30 ms per run for q14_1)
_TRANSLATED: dict[tuple[str, tuple[str, ...]],
                  tuple[list[tuple[str, str, int, int]], str]] = {}

# Engine-side CTE body rewrites (Spark SQL, already dialect-translated).
# The DuckDB oracle always runs the ORIGINAL reference text, so the
# driver's order-insensitive hash compare proves each rewrite equivalent
# end-to-end; additionally each body below was proven bag-equivalent to
# the original body standalone (EXCEPT ALL both ways = 0 rows) at
# dsdgen sf0.01 and sf0.1 before adoption.
#
# q14_1 cross_items (round-12, guide §2.4/§3.2): the reference spells
# "brand/class/category tuples sold in ALL THREE channels" as a 3-way
# INTERSECT of (fact ⋈ item ⋈ date_dim) branches.  Spark plans each
# INTERSECT as an aggregate + join of both (fact-sized) branch outputs:
# three fact⋈item joins and two tuple-keyed shuffles of sale-sized
# relations, and under the CTE persist the whole frame still planned
# 208 parquet scans.  The rewrite computes the same set bottom-up:
#   1. per channel, the DISTINCT item_sks sold in the date range —
#      a map-side partial agg straight off each fact scan (the item
#      join is NOT needed to decide membership, only to name the
#      tuple), shuffling at most |item| ints per channel as a
#      channel bitmask (1|2|4);
#   2. one broadcast join to item to name each item's tuple;
#   3. GROUP BY tuple HAVING bit_or(bits)=7 — a tuple is kept iff
#      some item with that tuple sold in every channel, which is
#      exactly membership in all three INTERSECT branch sets
#      (GROUP BY and INTERSECT share null-safe tuple equality);
#   4. the original outer join back to item is kept verbatim (its
#      `=` predicates drop NULL tuple components, as before).
# Equivalence: INTERSECT is a set operation, so each branch's bag
# collapses to "tuple T has ≥1 sale in channel X"; bit_or over the
# per-item masks computes exactly "T present in X for all X".  Proof
# runs: sym-diff 0 rows at sf0.01 (159 rows) and sf0.1 (see
# OPTIMIZATION_r12.md); oracle hash-match on the full query.
_SPARK_CTE_OVERRIDES: dict[tuple[str, str], str] = {
    ("q14_1", "cross_items"): """
SELECT i_item_sk ss_item_sk
FROM tpcds_item, (
  SELECT i2.i_brand_id brand_id, i2.i_class_id class_id,
         i2.i_category_id category_id
  FROM (
    SELECT item_sk, bit_or(ch) chs
    FROM (
      SELECT ss_item_sk item_sk, 1 ch
      FROM tpcds_store_sales, tpcds_date_dim d1
      WHERE ss_sold_date_sk = d1.d_date_sk
        AND d1.d_year BETWEEN 1999 AND 1999 + 2
      UNION ALL
      SELECT cs_item_sk item_sk, 2 ch
      FROM tpcds_catalog_sales, tpcds_date_dim d2
      WHERE cs_sold_date_sk = d2.d_date_sk
        AND d2.d_year BETWEEN 1999 AND 1999 + 2
      UNION ALL
      SELECT ws_item_sk item_sk, 4 ch
      FROM tpcds_web_sales, tpcds_date_dim d3
      WHERE ws_sold_date_sk = d3.d_date_sk
        AND d3.d_year BETWEEN 1999 AND 1999 + 2
    ) u
    GROUP BY item_sk
  ) per_item, tpcds_item i2
  WHERE per_item.item_sk = i2.i_item_sk
  GROUP BY i2.i_brand_id, i2.i_class_id, i2.i_category_id
  HAVING bit_or(chs) = 7
) t
WHERE i_brand_id = t.brand_id
  AND i_class_id = t.class_id
  AND i_category_id = t.category_id
""",
}


def _translated(name: str, markers: tuple[str, ...]):
    """[(cte_name, translated_body, ref_count, fact_count)], translated_main."""
    key = (name, markers)
    if key not in _TRANSLATED:
        from facebook_presto_spark.sqlfront import translate

        raw = _load(name)
        ctes, main = _split_with(raw)
        out = []
        for k, (nm, body) in enumerate(ctes):
            later = " ".join(b for _n2, b in ctes[k + 1:])
            nm_rx = rf"\b{re.escape(nm)}\b"
            refs = len(re.findall(nm_rx, main, re.I)) \
                + len(re.findall(nm_rx, later, re.I))
            facts = sum(
                1 for t in _FACT_TABLES if re.search(rf"\b{t}\b", body, re.I)
            )
            override = _SPARK_CTE_OVERRIDES.get((name, nm))
            out.append((nm, override if override is not None
                        else translate(body), refs, facts))
        _TRANSLATED[key] = (out, translate(_wrap(main, markers)))
    return _TRANSLATED[key]


def _runner(name: str,
            markers: tuple[str, ...]) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        scale = _sf_for(sf_dir)
        _LAST_STAGED_SF[0] = scale
        stage = stage_dir(scale)
        views_key = (spark.sparkContext.applicationId, stage)
        if _VIEWS_FOR.get(spark) != views_key:
            # big staged tables go through the same multi-file split
            # staging as the testdata readers (scan parallelism, §6):
            # dsdgen's single-file parquet caps a 15 MB store_sales scan
            # at ≤3 row-group splits; the oracle keeps reading the
            # original single file
            from facebook_presto_spark.plans.tpch import _split_staged

            for t in _TABLES:
                path = _split_staged(spark, f"{stage}/{t}.parquet")
                spark.sql(
                    f"CREATE OR REPLACE TEMP VIEW tpcds_{t} AS "
                    f"SELECT * FROM parquet.`{path}`"
                )
            _VIEWS_FOR[spark] = views_key
        for df in _PERSISTED:
            df.unpersist()
        _PERSISTED.clear()
        # Materialize multi-referenced WITH frames.  This Presto
        # vintage inlines every WITH reference (and Catalyst's InlineCTE
        # follows suit for deterministic frames), so q14_1's
        # cross_items/avg_sales re-scan the fact tables ~20× — at 100 TB
        # that is the dominant cost.  Registering each multi-ref CTE as
        # a persisted DataFrame keeps one scan per frame; Spark offers
        # this escape where the reference cannot (round-10 verdict,
        # perf item).  Single-ref CTEs register as plain views (Catalyst
        # inlines them, preserving pushdown through the reference).
        # NOTE the persist is inside the timed region and is re-done
        # (and recomputed) on every invocation — nothing carries across
        # runs.
        ctes, main = _translated(name, markers)
        for nm, body_sql, refs, facts in ctes:
            df = spark.sql(body_sql)
            if refs >= _PERSIST_MIN_REFS and facts >= _PERSIST_MIN_FACTS:
                df = df.persist()
                _PERSISTED.append(df)
            df.createOrReplaceTempView(nm)
        return spark.sql(main)

    return run


def _oracle(name: str, markers: tuple[str, ...], sf: str = "0.01") -> str:
    """DuckDB side: the same rewritten text with the staged parquet
    bound through a WITH header (CTE names shadow the pre-registered
    TPC-H views)."""
    stage = stage_dir(sf)
    sql = _wrap(_load(name), markers)
    header = ", ".join(
        f"tpcds_{t} AS (SELECT * FROM read_parquet('{stage}/{t}.parquet'))"
        for t in _TABLES
    )
    m = re.match(r"\s*WITH\s+", sql, re.I)
    if m:
        return f"WITH {header}, " + sql[m.end():]
    return f"WITH {header} " + sql


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    f"tpcds_{name}": _runner(name, n) for name, n in PICKS.items()
}

# Oracle text is built lazily: rendering it stages the sf0.01 dataset,
# which must not happen at module import.  NOT a dict subclass —
# dict.update() takes the raw-storage fast path on dict subclasses and
# would copy unevaluated placeholders; for a Mapping it goes through
# keys()/__getitem__.
from collections.abc import Mapping


class _LazyOracle(Mapping):
    def __init__(self):
        self._cache: dict[tuple[str, str], str] = {}

    def __iter__(self):
        return iter(f"tpcds_{name}" for name in PICKS)

    def __len__(self):
        return len(PICKS)

    def __getitem__(self, key: str) -> str:
        # bind the scale the runner actually staged (the driver compares
        # query-then-oracle in one process); 0.01 — the correctness-gate
        # scale — when no runner has executed yet
        sf = _LAST_STAGED_SF[0] or "0.01"
        ck = (key, sf)
        if ck not in self._cache:
            name = key.removeprefix("tpcds_")
            self._cache[ck] = _oracle(name, PICKS[name], sf)
        return self._cache[ck]


ORACLE = _LazyOracle()
