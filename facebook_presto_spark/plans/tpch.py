"""TPC-H q01–q22, adapted to the driver's star schema, Spark-first.

The reference ships the full Presto-dialect TPC-H suite
(``presto-benchto-benchmarks/src/main/resources/sql/presto/tpch/q01.sql`` …
``q22.sql``) as its headline benchmark (BASELINE.md).  The driver's synthetic
tables are a *reduced* TPC-H: there is no ``partsupp`` table and several
columns are absent (``l_commitdate``, ``l_receiptdate``, ``l_shipmode``,
``o_clerk``, ``o_shippriority``, ``c_phone``, ``c_address``, ``p_container``).
Each query below keeps the original's *operator shape* (the thing we're
testing — join graph, agg structure, subquery form) and swaps unavailable
predicates for equivalents on available columns.  Adaptations are noted
per-query.

Cross-engine float determinism
------------------------------
Every query is verified against DuckDB by order-insensitive value hash, and
``sum(double)`` is not reproducible across engines (addition order differs).
All money columns in the driver's data are exactly 2-decimal (verified), so
money aggregation here converts to **integer cents first** —
``round(x*100)::bigint`` — making every sum/avg exact integer arithmetic,
bit-identical in any engine and any partitioning.  The final division back to
a double is a single deterministic FP op.  This also holds at 100 TB: long
sums don't lose precision below 2^63 and are cheaper than decimal sums.

Scale notes
-----------
- Dimension tables (region, nation, supplier, part at these SFs) are
  broadcast (``F.broadcast``) — no shuffle of the fact table for dim joins;
  on a real cluster AQE would pick the same plan once sizes are known.
- Fact-fact joins (lineitem ⋈ orders) shuffle on the join key; both sides
  are pre-filtered before the shuffle so the exchanged bytes are minimal
  (predicate pushdown reaches the parquet scan — verified via .explain()).
- Aggregations are expressed as single groupBy/agg so Catalyst plans
  partial (map-side) aggregation automatically — the reference's
  PARTIAL/FINAL split (presto-main AggregationNode.java:312) for free.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F


# --- input split-staging for scan parallelism (guide §6) -------------
# The driver's testdata parquet is ONE file with ONE row group per
# table (verified with pyarrow), so a parquet scan cannot be split:
# every table scan plans exactly one task and the whole scan+partial-agg
# phase of every query runs serial regardless of core count (the r11
# scaling block showed every tpch entry pinned at ≈1× from 8→32 cores).
# §6's first lever of scan parallelism is split-sized files.  Tables
# above the threshold are re-staged once per (file identity) into
# n ≈ size/350KB part files under .scratch/split/ — a pure layout
# change: the same row multiset (count- and schema-verified at stage
# time; the DuckDB oracle keeps reading the ORIGINAL file, so the
# driver's hash gate re-proves value identity end-to-end every round).
# Nothing computed is cached: this is the input, re-laid-out, exactly
# like the tpcds dsdgen staging one module over.  At 100 TB inputs
# arrive in split-sized files and this path is a no-op by construction
# (a single 100 TB single-row-group file would be broken the same way).
_SPLIT_MIN_BYTES = 2 * 1024 * 1024
# ~1.5 MB per part: enough files to occupy half the cores on the
# largest local table while keeping per-task work well above task
# overhead — 350 KB parts (32 files) measured WORSE under this box's
# scheduling jitter (§2.2: fewer, larger map tasks)
_SPLIT_TARGET_BYTES = 1536 * 1024
_SPLIT_MAX_FILES = 16
# under the checkout this module is imported from, so two checkouts
# never share a staging cache
_SPLIT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".scratch", "split")
_split_cache: dict[tuple[str, int], str] = {}
# one stager at a time in this process: the cache check, the staging
# write, its marker and the rename into place happen under this lock;
# other processes are kept apart by a tmp dir unique to each attempt
_SPLIT_LOCK = threading.Lock()


def _split_staged(spark: SparkSession, path: str,
                  min_bytes: int | None = None,
                  files: int | None = None) -> str:
    """Return ``path`` or a multi-file re-staging of it (see above).
    ``min_bytes``/``files`` override the module defaults for callers
    whose workload is CPU-bound per row (e.g. the differential-test
    corpus, whose correlated-subquery cases run BroadcastNestedLoopJoin
    over the stream side's partitions)."""
    try:
        st = os.stat(path)
    except OSError:
        return path
    if st.st_size < (min_bytes if min_bytes is not None else _SPLIT_MIN_BYTES):
        return path
    n = files or int(
        min(_SPLIT_MAX_FILES, max(4, st.st_size // _SPLIT_TARGET_BYTES)))
    with _SPLIT_LOCK:
        if (path, n) not in _split_cache:
            _split_cache[(path, n)] = _stage_split(spark, path, st, n)
        return _split_cache[(path, n)]


def _stage_split(spark: SparkSession, path: str, st: os.stat_result,
                 n: int) -> str:
    import hashlib
    import json
    import shutil
    import uuid

    ident = {"src": path, "size": st.st_size, "mtime_ns": st.st_mtime_ns,
             "files": n}
    stem = os.path.basename(path).removesuffix(".parquet")
    key = hashlib.sha1(json.dumps(ident, sort_keys=True).encode()).hexdigest()[:12]
    dest = os.path.join(_SPLIT_DIR, f"{stem}_{key}")
    marker = os.path.join(dest, "_staged.json")
    if os.path.exists(marker):
        return dest
    src = spark.read.parquet(path)
    tmp = f"{dest}.tmp.{uuid.uuid4().hex}"
    src.repartition(n).write.mode("overwrite").parquet(tmp)
    out = spark.read.parquet(tmp)
    # layout change only: schema and row count must survive exactly
    # (value identity is re-proven by the oracle's hash check of results)
    if out.schema != src.schema or out.count() != src.count():
        shutil.rmtree(tmp, ignore_errors=True)
        return path
    with open(os.path.join(tmp, "_staged.json"), "w") as f:
        json.dump(ident, f)
    try:
        os.rename(tmp, dest)
    except OSError:  # another process's stager won the rename
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(marker):
            return path
    return dest


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(
        _split_staged(spark, os.path.join(sf_dir, f"{name}.parquet"))
    )


def cents(c: Column | str) -> Column:
    """Exact integer cents from a 2-decimal double column."""
    c = F.col(c) if isinstance(c, str) else c
    return F.round(c * 100).cast("long")


# SQL fragment mirroring ``cents`` for the DuckDB oracle.
def _sql_cents(expr: str) -> str:
    return f"CAST(round({expr}*100) AS BIGINT)"


# --------------------------------------------------------------------------
# q01 — pricing summary report (scan → filter → grouped agg → sort).
# Reference: tpch/q01.sql; hand-coded baseline HandTpchQuery1.java.
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp")
    )
    qty = cents("l_quantity")
    price = cents("l_extendedprice")
    disc = cents("l_discount")  # integer basis points / 100
    tax = cents("l_tax")
    n = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty) / 100.0).alias("sum_qty"),
            (F.sum(price) / 100.0).alias("sum_base_price"),
            (F.sum(price * (100 - disc)) / 10000.0).alias("sum_disc_price"),
            (F.sum(price * (100 - disc) * (100 + tax)) / 1000000.0).alias("sum_charge"),
            (F.sum(qty) / n / 100.0).alias("avg_qty"),
            (F.sum(price) / n / 100.0).alias("avg_price"),
            (F.sum(disc) / n / 100.0).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q01_SQL = f"""
SELECT l_returnflag, l_linestatus,
       sum({_sql_cents('l_quantity')})/100.0 AS sum_qty,
       sum({_sql_cents('l_extendedprice')})/100.0 AS sum_base_price,
       sum({_sql_cents('l_extendedprice')} * (100 - {_sql_cents('l_discount')}))/10000.0 AS sum_disc_price,
       sum({_sql_cents('l_extendedprice')} * (100 - {_sql_cents('l_discount')}) * (100 + {_sql_cents('l_tax')}))/1000000.0 AS sum_charge,
       sum({_sql_cents('l_quantity')})/count(*)/100.0 AS avg_qty,
       sum({_sql_cents('l_extendedprice')})/count(*)/100.0 AS avg_price,
       sum({_sql_cents('l_discount')})/count(*)/100.0 AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# q02 — minimum-cost supplier (adapted: no partsupp table; supplier/part unit
# cost derived from lineitem min(extendedprice/quantity); p_size<=15,
# p_type='STANDARD' replaces size=15/type like '%BRASS').
# Shape kept: dim-filtered join + per-group min + self-equijoin on the min.
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "STANDARD")
    )
    eu_supp = supplier.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")).join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    # Push both dimension filters BELOW the big aggregation as broadcast
    # semi-joins: the part predicate and the EUROPE supplier set each drop
    # whole (l_partkey, l_suppkey) groups, so the min is unchanged but the
    # groupBy shuffle carries only the surviving fraction — the difference
    # between shuffling all of lineitem and ~2% of it at 100 TB.
    li_f = li.join(
        F.broadcast(part.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
        "left_semi",
    ).join(
        F.broadcast(eu_supp.select("s_suppkey")),
        F.col("l_suppkey") == F.col("s_suppkey"),
        "left_semi",
    )
    # per (part, supplier) unit cost — division of identical doubles is
    # deterministic cross-engine; min() does no arithmetic.
    ps = li_f.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    joined = (
        ps.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(eu_supp, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    # "rows at the per-part minimum cost" via a window min — one pass over
    # `joined`, where the correlated-subquery form would compute the join
    # tree twice (build the aggregate, then re-join against it).
    w = W.partitionBy("p_partkey")
    return (
        joined.withColumn("min_cost", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.round("unit_cost", 2).alias("unit_cost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


Q02_SQL = """
WITH ps AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem GROUP BY 1, 2
), joined AS (
  SELECT s_acctbal, s_name, n_name, p_partkey, p_name, unit_cost
  FROM ps
  JOIN part ON l_partkey = p_partkey AND p_size <= 15 AND p_type = 'STANDARD'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, round(unit_cost, 2) AS unit_cost
FROM joined j
JOIN (SELECT p_partkey AS mc_partkey, min(unit_cost) AS min_cost FROM joined GROUP BY 1) m
  ON j.p_partkey = m.mc_partkey AND j.unit_cost = m.min_cost
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


# --------------------------------------------------------------------------
# q03 — shipping-priority (adapted: o_shippriority column absent → dropped
# from the projection; same 3-way join + group + top-10).
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    rev = cents("l_extendedprice") * (100 - cents("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg((F.sum(rev) / 10000.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


Q03_SQL = f"""
SELECT l_orderkey, o_orderdate,
       sum({_sql_cents('l_extendedprice')} * (100 - {_sql_cents('l_discount')}))/10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey AND o_orderdate < TIMESTAMP '1998-06-01'
JOIN customer ON o_custkey = c_custkey AND c_mktsegment = 'BUILDING'
WHERE l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


# --------------------------------------------------------------------------
# q04 — order-priority checking (adapted: no commitdate/receiptdate → "late"
# means a lineitem shipped >60 days after the order date).  Shape kept:
# EXISTS semi-join + grouped count (reference rewrites EXISTS to semi join:
# TransformExistsApplyToLateralNode.java; Spark's left_semi is the same plan).
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    # derived pushdown: the join condition l_shipdate > o_orderdate + 60d
    # with o_orderdate >= 1997-07-01 implies l_shipdate > 1997-07-01 + 60d,
    # so the lineitem scan prunes to late shipments (row-group min/max
    # pruning at scale) before the semi-join shuffle — Presto derives the
    # same bound through its predicate-inference rewrite
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate")
        > F.lit("1997-07-01").cast("timestamp") + F.expr("INTERVAL 60 DAYS")
    )
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q04_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-07-01' AND o_orderdate < TIMESTAMP '1997-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# q05 — local supplier volume (unchanged shape: 6-way join incl. the
# c_nationkey = s_nationkey "local" condition).
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = cents("l_extendedprice") * (100 - cents("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg((F.sum(rev) / 10000.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


Q05_SQL = f"""
SELECT n_name,
       sum({_sql_cents('l_extendedprice')} * (100 - {_sql_cents('l_discount')}))/10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# --------------------------------------------------------------------------
# q06 — forecasting revenue change (unchanged; the reference's hand-coded
# lower-bound benchmark, HandTpchQuery6.java).  Scan→filter→global agg.
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (cents("l_discount").between(5, 7))
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        (F.sum(cents("l_extendedprice") * cents("l_discount")) / 10000.0).alias("revenue")
    )


Q06_SQL = f"""
SELECT sum({_sql_cents('l_extendedprice')} * {_sql_cents('l_discount')})/10000.0 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND {_sql_cents('l_discount')} BETWEEN 5 AND 7 AND l_quantity < 24
"""


# --------------------------------------------------------------------------
# q07 — volume shipping between two nations (unchanged shape: dual-aliased
# nation join, disjunctive pair condition, group by year).
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    rev = cents("l_extendedprice") * (100 - cents("l_discount"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("bigint").alias("l_year"))
        .agg((F.sum(rev) / 10000.0).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q07_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
       sum(rev)/10000.0 AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         {_sql_cents('l_extendedprice')} * (100 - {_sql_cents('l_discount')}) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# --------------------------------------------------------------------------
# q08 — national market share (adapted: p_type='ECONOMY' for the single-word
# p_type domain).  Conditional-aggregation ratio kept in exact integers.
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    vol = cents("l_extendedprice") * (100 - cents("l_discount"))
    base = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select(F.year("o_orderdate").cast("bigint").alias("o_year"), vol.alias("vol"), "supp_nation")
    )
    return (
        base.groupBy("o_year")
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("vol")).otherwise(F.lit(0)))
                / F.sum("vol")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


Q08_SQL = f"""
SELECT o_year,
       sum(CASE WHEN supp_nation = 'NATION_3' THEN vol ELSE 0 END) / sum(vol) AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         {_sql_cents('l_extendedprice')} * (100 - {_sql_cents('l_discount')}) AS vol,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
)
GROUP BY o_year
ORDER BY o_year
"""


# --------------------------------------------------------------------------
# q09 — product-type profit (adapted: no partsupp.ps_supplycost → profit is
# gross revenue; p_name LIKE '%widget%' over the generated two-word names).
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supplier = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    nation = _t(spark, sf_dir, "nation")
    amount = cents("l_extendedprice") * (100 - cents("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg((F.sum(amount) / 10000.0).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


Q09_SQL = f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       sum({_sql_cents('l_extendedprice')} * (100 - {_sql_cents('l_discount')}))/10000.0 AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


# --------------------------------------------------------------------------
# q10 — returned items (adapted: c_address/c_phone/c_comment absent →
# projection reduced; join/agg/top-20 shape unchanged).
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    rev = cents("l_extendedprice") * (100 - cents("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg((F.sum(rev) / 10000.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


Q10_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       sum({_sql_cents('l_extendedprice')} * (100 - {_sql_cents('l_discount')}))/10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
  AND l_returnflag = 'R'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --------------------------------------------------------------------------
# q11 — important stock identification (adapted: no partsupp → part "value"
# is shipped extendedprice*quantity from lineitem for suppliers of NATION_5).
# Shape kept: grouped agg + HAVING against a scalar subquery of the total.
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    val = cents("l_extendedprice") * F.col("l_quantity").cast("long")
    base = (
        li.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("l_partkey", val.alias("val"))
    )
    per_part = base.groupBy("l_partkey").agg(F.sum("val").alias("val_int"))
    total = base.agg(F.sum("val").alias("total_int"))  # 1 row → broadcast cross join
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("val_int") > F.col("total_int") * 0.001)
        .select("l_partkey", (F.col("val_int") / 100.0).alias("part_value"))
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


Q11_SQL = f"""
WITH base AS (
  SELECT l_partkey, {_sql_cents('l_extendedprice')} * CAST(l_quantity AS BIGINT) AS val
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_5'
)
SELECT l_partkey, CAST(sum(val) AS BIGINT)/100.0 AS part_value
FROM base
GROUP BY l_partkey
HAVING CAST(sum(val) AS BIGINT) > (SELECT CAST(sum(val) AS BIGINT) FROM base) * 0.001
ORDER BY part_value DESC, l_partkey
"""


# --------------------------------------------------------------------------
# q12 — shipping modes / priority (adapted: l_shipmode & commit/receipt dates
# absent → group by l_linestatus over 1997 shipments; the CASE-conditional
# dual count shape is unchanged).
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders")
    high = F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)
    low = F.when(~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(high).cast("bigint").alias("high_line_count"),
            F.sum(low).cast("bigint").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


Q12_SQL = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


# --------------------------------------------------------------------------
# q13 — customer order-count distribution (adapted: comment filter → order
# priority filter).  Left outer join + double aggregation, unchanged.
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# --------------------------------------------------------------------------
# q14 — promotion effect (adapted: p_type = 'PROMO' equality on the
# single-word type domain).  Conditional-agg ratio in exact integers.
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    vol = cents("l_extendedprice") * (100 - cents("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0)))
                / F.sum(vol)
            ).alias("promo_revenue")
        )
    )


Q14_SQL = f"""
SELECT 100.0 * sum(CASE WHEN p_type = 'PROMO' THEN vol ELSE 0 END) / sum(vol) AS promo_revenue
FROM (
  SELECT {_sql_cents('l_extendedprice')} * (100 - {_sql_cents('l_discount')}) AS vol, p_type
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'
)
"""


# --------------------------------------------------------------------------
# q15 — top supplier (unchanged shape: revenue CTE + scalar-max equi-select).
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    supplier = _t(spark, sf_dir, "supplier")
    rev = cents("l_extendedprice") * (100 - cents("l_discount"))
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(rev).alias("rev_int")
    )
    max_rev = revenue.agg(F.max("rev_int").alias("max_rev"))
    return (
        revenue.join(F.broadcast(max_rev), F.col("rev_int") == F.col("max_rev"))
        .join(F.broadcast(supplier), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", (F.col("rev_int") / 10000.0).alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum({_sql_cents('l_extendedprice')} * (100 - {_sql_cents('l_discount')})) AS rev_int
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name, CAST(rev_int AS BIGINT)/10000.0 AS total_revenue
FROM revenue JOIN supplier ON supplier_no = s_suppkey
WHERE rev_int = (SELECT max(rev_int) FROM revenue)
ORDER BY s_suppkey
"""


# --------------------------------------------------------------------------
# q16 — parts/supplier relationship (adapted: supplier set from lineitem, the
# NOT IN "complaints" filter proxied by s_acctbal < 0).  Distinct-count +
# NOT IN anti-join shape unchanged.
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 7, 14, 23, 36, 45, 49))
    )
    bad_supp = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(bad_supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 7, 14, 23, 36, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# --------------------------------------------------------------------------
# q17 — small-quantity-order revenue (adapted: p_container absent → brand
# filter only).  Correlated scalar-avg subquery kept (expressed as a
# broadcast self-agg join — exactly how the reference decorrelates it,
# TransformCorrelatedScalarAggregationToJoin.java).
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    avg_qty = (
        li.groupBy(F.col("l_partkey").alias("aq_partkey"))
        .agg((F.sum(cents("l_quantity")) / F.count(F.lit(1)) / 100.0).alias("avg_qty"))
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(avg_qty, F.col("l_partkey") == F.col("aq_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((F.sum(cents("l_extendedprice")) / 100.0 / 7.0).alias("avg_yearly"))
    )


Q17_SQL = f"""
SELECT sum({_sql_cents('l_extendedprice')})/100.0/7.0 AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#23'
JOIN (
  SELECT l_partkey AS aq_partkey,
         sum({_sql_cents('l_quantity')})/count(*)/100.0 AS avg_qty
  FROM lineitem GROUP BY 1
) ON l_partkey = aq_partkey
WHERE l_quantity < 0.2 * avg_qty
"""


# --------------------------------------------------------------------------
# q18 — large-volume customers (threshold 150 fits the reduced data's ~4
# lines/order; IN-subquery kept as semi join, reference routes it through
# HashSemiJoinOperator.java:32).
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy(F.col("l_orderkey").alias("big_orderkey"))
        .agg(F.sum(cents("l_quantity")).alias("qty_int"))
        .filter(F.col("qty_int") > 150 * 100)
        .select("big_orderkey")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(big, F.col("o_orderkey") == F.col("big_orderkey"), "left_semi")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg((F.sum(cents("l_quantity")) / 100.0).alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


Q18_SQL = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       sum({_sql_cents('l_quantity')})/100.0 AS sum_qty
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING sum({_sql_cents('l_quantity')}) > 15000
)
GROUP BY 1, 2, 3, 4, 5
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


# --------------------------------------------------------------------------
# q19 — discounted revenue (adapted: shipmode/shipinstruct/container absent →
# brand/size/quantity disjunctive bands).  The OR-of-ANDs join predicate is
# the point: the reference plans it as one hash join with a residual filter.
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    rev = cents("l_extendedprice") * (100 - cents("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg((F.sum(rev) / 10000.0).alias("revenue"))
    )


Q19_SQL = f"""
SELECT sum({_sql_cents('l_extendedprice')} * (100 - {_sql_cents('l_discount')}))/10000.0 AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


# --------------------------------------------------------------------------
# q20 — potential part promotion (adapted: availqty comparison → suppliers
# who shipped >50 units of a 'red %' part in 1996; nested semi-join chain
# kept).
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red %"))
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    heavy = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(cents("l_quantity")).alias("qty_int"))
        .filter(F.col("qty_int") > 50 * 100)
        .select(F.col("l_suppkey").alias("hs_suppkey"))
        .distinct()
    )
    return (
        supplier.join(heavy, F.col("s_suppkey") == F.col("hs_suppkey"), "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


Q20_SQL = f"""
SELECT s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'red %'
    AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey, l_partkey
  HAVING sum({_sql_cents('l_quantity')}) > 5000
)
ORDER BY s_name
"""


# --------------------------------------------------------------------------
# q21 — suppliers who kept orders waiting (adapted: "late" = shipped >60 days
# after order date).  The EXISTS + NOT EXISTS pair over self-joined lineitem
# is rewritten as one per-order aggregation: a supplier "kept the order
# waiting" iff the order has ≥2 distinct suppliers and exactly one distinct
# late supplier (them).  One shuffle of lineitem (by orderkey) replaces the
# reference plan's three lineitem joins — the dominant cost at 100 TB —
# while remaining row-for-row equivalent (numwait counts late *lineitems*,
# all of which belong to the single late supplier).
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_4")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    per_order = (
        li.join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey")
        .agg(
            # size(collect_set) instead of countDistinct: mixing a DISTINCT
            # aggregate with the collect_set makes Catalyst plan an Expand
            # (2 projected rows per input through the shuffle); one
            # hash-agg of two sets carries the same information
            F.collect_set("l_suppkey").alias("all_supps"),
            F.collect_set(F.when(late, F.col("l_suppkey"))).alias("late_supps"),
            F.sum(F.when(late, 1).otherwise(0)).alias("n_late_rows"),
        )
        .filter((F.size("all_supps") >= 2) & (F.size("late_supps") == 1))
        .select(
            F.element_at("late_supps", 1).alias("wait_suppkey"),
            "n_late_rows",
        )
    )
    return (
        per_order.join(
            F.broadcast(supplier), F.col("wait_suppkey") == F.col("s_suppkey")
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.sum("n_late_rows").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


Q21_SQL = """
SELECT s_name, count(*) AS numwait
FROM lineitem l1
JOIN orders ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
JOIN supplier ON l1.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_4'
WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


# --------------------------------------------------------------------------
# q22 — global sales opportunity (adapted: no c_phone → "country code" is the
# customer's nation; "no recent orders" = no orders since 1999-01-01, since
# every customer has at least one order in the driver's data).  Scalar-avg
# subquery + NOT EXISTS anti-join shape kept.
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    nation = _t(spark, sf_dir, "nation")
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg((F.sum(cents("c_acctbal")) / F.count(F.lit(1)) / 100.0).alias("avg_bal"))
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum(cents("c_acctbal")) / 100.0).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


Q22_SQL = f"""
SELECT n_name AS cntrycode, count(*) AS numcust,
       sum({_sql_cents('c_acctbal')})/100.0 AS totacctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (
    SELECT sum({_sql_cents('c_acctbal')})/count(*)/100.0
    FROM customer WHERE c_acctbal > 0.0
  )
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '1999-01-01'
  )
GROUP BY 1
ORDER BY cntrycode
"""


QUERIES = {
    "tpch_q01": q01, "tpch_q02": q02, "tpch_q03": q03, "tpch_q04": q04,
    "tpch_q05": q05, "tpch_q06": q06, "tpch_q07": q07, "tpch_q08": q08,
    "tpch_q09": q09, "tpch_q10": q10, "tpch_q11": q11, "tpch_q12": q12,
    "tpch_q13": q13, "tpch_q14": q14, "tpch_q15": q15, "tpch_q16": q16,
    "tpch_q17": q17, "tpch_q18": q18, "tpch_q19": q19, "tpch_q20": q20,
    "tpch_q21": q21, "tpch_q22": q22,
}

ORACLE = {
    "tpch_q01": Q01_SQL, "tpch_q02": Q02_SQL, "tpch_q03": Q03_SQL,
    "tpch_q04": Q04_SQL, "tpch_q05": Q05_SQL, "tpch_q06": Q06_SQL,
    "tpch_q07": Q07_SQL, "tpch_q08": Q08_SQL, "tpch_q09": Q09_SQL,
    "tpch_q10": Q10_SQL, "tpch_q11": Q11_SQL, "tpch_q12": Q12_SQL,
    "tpch_q13": Q13_SQL, "tpch_q14": Q14_SQL, "tpch_q15": Q15_SQL,
    "tpch_q16": Q16_SQL, "tpch_q17": Q17_SQL, "tpch_q18": Q18_SQL,
    "tpch_q19": Q19_SQL, "tpch_q20": Q20_SQL, "tpch_q21": Q21_SQL,
    "tpch_q22": Q22_SQL,
}
