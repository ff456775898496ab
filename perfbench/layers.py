"""The traced window: per-layer metrics measured from outside the program.

Spans are taken around the public entry of each layer (see ``spans.py``);
Spark's status tracker gives jobs, stages and tasks per statement; the
hive warehouse is listed after each write.  Per-layer numbers come from
this window only, never from the untraced one the end-to-end metrics
come from.
"""

from __future__ import annotations

import os
import re
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

from metrics import percentile, rows_written_per_s
from spans import Tracer


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _install(tracer: Tracer, sample_df) -> None:
    from facebook_presto_spark import engine as engine_mod
    from facebook_presto_spark import hive_catalog, server

    tracer.wrap(engine_mod.PrestoSparkEngine, "sql", "engine.sql")
    # engine.py calls the front-end through its module-level name
    tracer.wrap(engine_mod, "translate", "sqlfront.translate")
    tracer.wrap(type(sample_df.sparkSession), "sql", "spark.sql")
    tracer.wrap(type(sample_df), "collect", "exec.collect")
    tracer.wrap_iterator(type(sample_df), "toLocalIterator", "exec.fetch")
    tracer.wrap(server._Handler, "do_POST", "server.post")
    tracer.wrap(server._Handler, "do_GET", "server.next_page")
    tracer.wrap(hive_catalog.HiveCatalog, "create_as", "hive.ctas")
    tracer.wrap(hive_catalog.HiveCatalog, "insert", "hive.insert")
    tracer.wrap(hive_catalog.HiveCatalog, "delete", "hive.delete")


@dataclass
class TracedWindow:
    outcomes: list
    elapsed: float
    tracer: Tracer
    jobs: list = field(default_factory=list)     # per statement
    stages: list = field(default_factory=list)
    tasks: list = field(default_factory=list)
    failed_tasks: int = 0
    files_per_write: list = field(default_factory=list)
    bytes_per_row: list = field(default_factory=list)

    def metrics(self, untraced_qps: float, setup: dict) -> dict[str, tuple[float, str]]:
        t = self.tracer
        n = len(self.outcomes)
        idx = range(n)
        sql = t.per_statement("engine.sql")
        collect = t.per_statement("exec.collect")
        fetch = {i: collect.get(i, 0.0) + t.sums[i].get("exec.fetch", 0.0) for i in idx}
        http = [o for o in self.outcomes if o.pages]
        post = t.per_statement("server.post")
        traced_qps = n / sum(o.latency_s for o in self.outcomes)
        ms = 1e3
        return {
            "session.start_s": (setup["session.start_s"], "s"),
            "catalog.for_dir_s": (setup["catalog.for_dir_s"], "s"),
            "engine.sql_ms": (_median(sql.get(i, 0.0) for i in idx) * ms, "ms"),
            "engine.dispatch_ms": (
                _median(t.self_time("engine.sql").get(i, 0.0) for i in idx) * ms, "ms"),
            "spark.sql_ms": (
                _median(t.per_statement("spark.sql").get(i, 0.0) for i in idx) * ms, "ms"),
            "sqlfront.translate_ms": (
                _median(t.per_statement("sqlfront.translate", outermost=False).get(i, 0.0)
                        for i in idx) * ms, "ms"),
            "sqlfront.translate_calls_per_stmt": (
                sum(t.calls("sqlfront.translate").values()) / n, "count"),
            "exec.fetch_ms": (_median(fetch.values()) * ms, "ms"),
            "exec.jobs_per_stmt": (sum(self.jobs) / n, "count"),
            "exec.stages_per_stmt": (sum(self.stages) / n, "count"),
            "exec.tasks_per_stmt": (sum(self.tasks) / n, "count"),
            "exec.failed_tasks": (self.failed_tasks, "count"),
            "server.post_ms": (_median(post.values()) * ms, "ms"),
            # the HTTP round trip minus the engine.sql and Spark fetch spans
            "server.self_ms": (_median(
                o.latency_s - sql.get(i, 0.0) - fetch[i]
                for i, o in enumerate(self.outcomes) if o.pages) * ms, "ms"),
            "server.pages_per_stmt": (
                sum(o.pages for o in http) / len(http) if http else 0.0, "count"),
            "server.bytes_per_row": (
                sum(o.bytes for o in http) / max(1, sum(o.nrows for o in http))
                if http else 0.0, "bytes"),
            "hive.files_per_write": (_median(self.files_per_write), "count"),
            "hive.bytes_per_row": (_median(self.bytes_per_row), "bytes"),
            "hive.rows_written_per_s": (rows_written_per_s(self.outcomes), "rows/s"),
            "trace.overhead_pct": ((untraced_qps / traced_qps - 1.0) * 100.0, "%"),
        }

    def detail(self, untraced: list) -> dict[str, float]:
        """Layer metrics that only some workloads exercise: follow-up pages
        (a result that fits one page has none) and the hive catalog's
        writes (traced window), and per-class or per-query latency
        (untraced window)."""
        t = self.tracer
        out: dict[str, float] = {}
        for name in ("server.next_page", "hive.ctas", "hive.insert", "hive.delete"):
            spans = [s.end - s.start for s in t.spans if s.name == name]
            if spans:
                out[f"{name}_ms"] = _median(spans) * 1e3
        by_kind = defaultdict(list)
        for o in untraced:
            kind = o.stmt.kind
            if kind.startswith("tpch."):
                by_kind[kind].append(o.latency_s)
            elif not kind.startswith("etl."):
                by_kind["class." + kind.split(".")[0]].append(o.latency_s)
        for kind, lat in sorted(by_kind.items()):
            out[f"{kind}_ms"] = percentile(lat, 50) * 1e3
        return out


def _table_files(warehouse: str, table: str) -> tuple[int, int]:
    """(data files, bytes) of a hive table directory."""
    n = size = 0
    for dirpath, _, files in os.walk(os.path.join(warehouse, "hive_perfbench.db", table)):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def trace_window(engine, wl, units, run_units) -> TracedWindow:
    """Run ``units`` of ``wl`` with every layer wrapped in spans."""
    spark = engine.spark
    tracker = spark.sparkContext.statusTracker()
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    tracer = Tracer()
    window = TracedWindow([], 0.0, tracer)
    seen = set(tracker.getJobIdsForGroup(None))
    written: dict[str, list] = {}

    def observe(out) -> None:
        nonlocal seen
        now = set(tracker.getJobIdsForGroup(None))
        jobs = now - seen
        seen = now
        stage_ids = [s for j in jobs if (info := tracker.getJobInfo(j)) for s in info.stageIds]
        stages = [s for sid in stage_ids if (s := tracker.getStageInfo(sid))]
        window.jobs.append(len(jobs))
        window.stages.append(len(stages))
        window.tasks.append(sum(s.numTasks for s in stages))
        window.failed_tasks += sum(s.numFailedTasks for s in stages)
        m = re.search(r"hive\.perfbench\.(\w+)", out.stmt.sql)
        if m is None or out.error or not out.rows:
            return
        table, kind = m.group(1), out.stmt.kind
        files, size = _table_files(warehouse, table)
        if kind == "etl.ctas":
            written[table] = [files, out.rows[0][0]]
            window.files_per_write.append(files)
        elif kind == "etl.insert" and table in written:
            window.files_per_write.append(files - written[table][0])
            written[table][1] += out.rows[0][0]
        elif kind == "etl.delete" and table in written:
            live = written[table][1] - out.rows[0][0]
            if live:
                window.bytes_per_row.append(size / live)

    _install(tracer, spark.range(1))
    try:
        window.outcomes, window.elapsed = run_units(wl, units, tracer, observe)
    finally:
        tracer.restore()
    return window
