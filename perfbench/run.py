"""The repository's benchmark: one command per workload run.

    python3 perfbench/run.py --workload interactive_http --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  It builds its TPC-H-shaped inputs (sf0.1)
under ``perfbench/.data`` on first use, starts the engine the way a
deployment does (Spark session, ``PrestoSparkEngine.for_dir``, the
``/v1/statement`` server, the background geo warm-up joined), warms the
workload up for a fixed number of chunks and then until its throughput
levels off or its warm-up budget is spent, then measures whole units of it with one closed-loop client and
checks every measured statement against DuckDB afterwards.

Workloads (see ``workloads.py``): ``interactive_http`` and ``etl_export``,
the two that ``BENCHMARK.json`` names, and ``analytic_tpch``, TPC-H passes
too slow for that benchmark's time budget, to run by hand (``--seconds 50``
measures three passes).  With ``--trace 0`` the last line of standard
output is one JSON object carrying the end-to-end metrics; with ``--trace 1`` the
run measures an untraced window and then a traced one, and the object
carries the per-layer metrics, including the tracing overhead.  The lines
before it give every metric by name and unit, the run conditions (load,
CPU steal) and any failed statement with its error; spans of a traced
run are written to ``perfbench/.results``.

``setup_s`` is the cold set-up of the process, timed once: the Spark
session start, ``PrestoSparkEngine.for_dir``, ``server.serve`` and the
engine's background geo warm-up joined.  Hive writes go to a private
warehouse under ``perfbench/.work``, which the run removes when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# sf0.1: 600k lineitem rows, 150k orders
SCALE = 0.1
HIVE_SCHEMA = "perfbench"
# warm-up has leveled off once a chunk's statements take within 10 % of
# the time the same statement kinds took in the chunk before
LEVEL = 0.10


def parse_args(argv=None) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(work: str) -> None:
    """Fix what the engine reads from the environment, before it is
    imported: cores, driver heap, the workers' import path and where
    scratch files go."""
    from metrics import nproc

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    # 2 GiB is ample for sf0.1; smaller boxes get a third of their memory
    heap = f"{min(2048, mem_kb // 3072)}m"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    # Python workers import facebook_presto_spark (the geo warm-up job)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        # a fixed-size heap touched at start, as JVM services are
        # deployed, keeps the peak resident set from following the
        # collector's resizing and timing
        f"--driver-java-options '-Xms{heap} -XX:+AlwaysPreTouch "
        f"-Djava.io.tmpdir={work}/tmp' pyspark-shell"
    )
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the warehouse (spark-warehouse/) lands in the JVM's working directory
    os.chdir(work)


class Engine:
    """The program under test, started and stopped as a deployment would."""

    def __init__(self, data_dir: str):
        self.data_dir = data_dir
        self.spark = None
        self.server = None

    def start(self) -> dict:
        """The cold set-up a fresh deployment performs, timed once."""
        t0 = time.perf_counter()
        from facebook_presto_spark import server
        from facebook_presto_spark.engine import PrestoSparkEngine
        from facebook_presto_spark.functions import geo_sql
        from facebook_presto_spark.session import get_spark

        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        self.jvm = self.spark.sparkContext._gateway.proc
        self.engine = PrestoSparkEngine.for_dir(self.data_dir, spark=self.spark)
        t2 = time.perf_counter()
        self.server = server.serve(self.engine)
        geo_sql.warm_join(self.spark)
        t3 = time.perf_counter()
        self.port = self.server.server_port
        return {"session.start_s": t1 - t0, "catalog.for_dir_s": t2 - t1, "setup_s": t3 - t0}

    def pids(self) -> list[int]:
        return [os.getpid(), self.jvm.pid]

    def stop(self) -> None:
        """Stop the server, Spark and the JVM with its Python workers, and
        wait until each has ended."""
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
        if self.spark is None:
            return
        from pyspark import SparkContext

        children = _descendants(self.jvm.pid)
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        # the JVM exits when its stdin closes
        self.jvm.stdin.close()
        try:
            self.jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait()
        _wait_gone(children)


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(k) for k in f.read().split()]
            except FileNotFoundError:
                continue
            out += kids
            todo += kids
    return out


def _wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def warm_up(wl) -> dict:
    """Run untimed chunks of ``wl``, at least ``wl.warm_min_chunks`` of
    them, then until throughput levels off, or until the next chunk would
    pass the workload's warm-up budget."""
    from metrics import leveled

    t0 = time.perf_counter()
    chunks = []
    prev = None
    while True:
        c0 = time.perf_counter()
        outs = [wl.run(stmt) for stmt in wl.warm_chunk(len(chunks))]
        chunk_s = time.perf_counter() - c0
        cur = {}
        for o in outs:
            cur.setdefault(o.stmt.kind, []).append(o.latency_s)
        chunks.append([len(outs), round(len(outs) / sum(o.latency_s for o in outs), 3)])
        prev, last = cur, prev
        if len(chunks) < wl.warm_min_chunks:
            continue
        done = last is not None and leveled(last, cur, LEVEL)
        spent = time.perf_counter() - t0
        # the next chunk, at this chunk's time per statement
        next_s = chunk_s / len(outs) * len(wl.warm_chunk(len(chunks)))
        if done or spent + next_s > wl.warm_budget_s:
            return {"leveled": done, "seconds": spent, "chunks": chunks}


def run_units(wl, units: range, tracer=None, observe=None) -> tuple[list, float]:
    """Run whole ``units`` of ``wl`` back to back; returns the outcomes
    and the wall time from the first statement sent to the last reply."""
    stmts = [s for i in units for s in wl.unit(i)]
    outcomes = []
    t0 = time.perf_counter()
    for stmt in stmts:
        if tracer is not None:
            tracer.current = len(outcomes)
        out = wl.run(stmt)
        outcomes.append(out)
        if observe is not None:
            observe(out)
    return outcomes, time.perf_counter() - t0


def failed(outcomes: list, wl, oracle) -> list[tuple[str, str, str]]:
    """(kind, sql, why) of each statement that failed or returned a wrong
    result."""
    out = []
    for o in outcomes:
        try:
            why = o.error or wl.check(o, oracle)
        except (ValueError, TypeError, IndexError) as e:  # a result of the wrong shape
            why = f"{type(e).__name__}: {e}"
        if why:
            out.append((o.stmt.kind, o.stmt.sql, why))
    return out


def end_to_end(outcomes: list) -> dict:
    """The user-visible metrics of one measured window."""
    from metrics import percentile

    lat = [o.latency_s * 1e3 for o in outcomes]
    reads = [o for o in outcomes if o.stmt.reads]
    return {
        # one client with no think time: statements per second of
        # statement time, so the client's own bookkeeping between
        # statements is not charged to the program
        "queries_per_s": len(outcomes) / sum(o.latency_s for o in outcomes),
        "latency_p50_ms": percentile(lat, 50),
        "ttfr_p50_ms": percentile([o.ttfr_s * 1e3 for o in outcomes], 50),
        "rows_out_per_s": sum(o.nrows for o in reads) / sum(o.latency_s for o in reads),
    }


UNITS = {
    "setup_s": "s", "queries_per_s": "stmt/s", "latency_p50_ms": "ms",
    "latency_p90_ms": "ms", "ttfr_p50_ms": "ms", "rows_out_per_s": "rows/s",
    "peak_rss_mb": "MB", "error_rate": "ratio", "rows_written_per_s": "rows/s",
}


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "facebook_presto_spark", "engine.py")):
        print(f"perfbench: no facebook_presto_spark/ under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import datagen
    from client import StatementClient
    from metrics import (RunConditions, beyond, error_rate, peak_rss_mb, percentile,
                         rows_written_per_s)
    from workloads import WORKLOADS, Oracle

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(work)
    conditions = RunConditions.start()
    phases = {}
    mark = time.perf_counter()
    data_dir = datagen.ensure(os.path.join(HERE, ".data"), SCALE)

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    phase("data")
    engine = Engine(data_dir)
    try:
        setup = engine.start()
        phase("setup")
        client = StatementClient("127.0.0.1", engine.port)
        wl = WORKLOADS[args.workload](args.seed, engine.engine, client, datagen.sizes(SCALE))
        if args.workload == "etl_export":
            engine.engine.sql(f"CREATE SCHEMA IF NOT EXISTS hive.{HIVE_SCHEMA}")
        n_units = max(1, round(args.seconds / wl.nominal_unit_s))

        warm = warm_up(wl)
        phase("warm-up")
        windows = [run_units(wl, range(1, 1 + n_units))]
        phase("window")
        traced = None
        if args.trace:
            from layers import trace_window

            traced = trace_window(engine, wl, range(1 + n_units, 1 + 2 * n_units), run_units)
            windows.append((traced.outcomes, traced.elapsed))
            phase("traced window")
        peak_rss = peak_rss_mb(engine.pids())
    finally:
        engine.stop()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    cond = conditions.finish()
    phase("stop")

    oracle = Oracle(data_dir)
    measured = [o for outcomes, _ in windows for o in outcomes]
    attempted = len(measured)
    failures = failed(measured, wl, oracle)

    phase("check")
    outcomes, elapsed = windows[0]
    e2e = end_to_end(outcomes)
    e2e["setup_s"] = setup["setup_s"]
    e2e["peak_rss_mb"] = peak_rss
    report = dict(e2e)
    # printed, not in the result line: a window of 48 (interactive) or 10
    # (etl) statements puts too few samples beyond p90 for it to repeat
    lat = [o.latency_s * 1e3 for o in outcomes]
    report["latency_p90_ms"] = percentile(lat, 90)
    report["error_rate"] = error_rate(attempted, len(failures))
    report["rows_written_per_s"] = rows_written_per_s(outcomes)
    n_beyond = beyond(lat, report["latency_p90_ms"])

    print(f"perfbench {args.workload} seed={args.seed} units={n_units} "
          f"statements={len(outcomes)} window_s={elapsed:.3f}")
    print(f"  warm-up ([statements, stmt/s] per chunk): {json.dumps(warm)}")
    print(f"  samples beyond latency_p90_ms: {n_beyond}")
    per_unit, i = [], 0
    for u in range(1, 1 + n_units):
        unit = outcomes[i:i + len(wl.unit(u))]
        i += len(unit)
        per_unit.append(round(len(unit) / sum(o.latency_s for o in unit), 3))
    print(f"  measured stmt/s by unit: {per_unit}")
    for name, unit in UNITS.items():
        print(f"  {name:<20} {report[name]:.6g} {unit}")
    by_kind: dict[str, list[float]] = {}
    for o in outcomes:
        by_kind.setdefault(o.stmt.kind, []).append(round(o.latency_s * 1e3, 1))
    print("  latency_ms by kind: " + json.dumps(by_kind))
    print("  conditions: " + json.dumps(cond))
    print("  setup: " + json.dumps(setup))
    print("  phases_s: " + json.dumps(phases))
    for kind, sql, why in failures:
        print(f"  FAILED {kind}: {why}\n    {' '.join(sql.split())[:300]}")

    if args.trace:
        per_layer = traced.metrics(e2e["queries_per_s"], setup)
        detail = traced.detail(windows[0][0])
        print("  per-layer: " + json.dumps(per_layer))
        print("  per-layer detail: " + json.dumps(detail))
        os.makedirs(os.path.join(HERE, ".results"), exist_ok=True)
        traced.tracer.dump(os.path.join(
            HERE, ".results", f"{args.workload}-seed{args.seed}-spans.jsonl"))
        metrics = {k: {"value": v, "unit": unit} for k, (v, unit) in per_layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in e2e}
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
