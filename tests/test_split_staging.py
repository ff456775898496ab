"""Multi-file re-staging of a large parquet input (plans/tpch.py
``_split_staged``) under concurrent callers."""

import json
import os
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.readwriter import DataFrameWriter

from facebook_presto_spark.plans import tpch


def test_concurrent_callers_stage_one_dir(spark, tmp_path, monkeypatch):
    """Two threads staging one file get one staged dir with a valid
    marker and the source's rows, even with a slow writer."""
    src = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": list(range(2000))}), src)
    split_dir = tmp_path / "split"
    monkeypatch.setattr(tpch, "_SPLIT_DIR", str(split_dir))
    monkeypatch.setattr(tpch, "_split_cache", {})
    write = DataFrameWriter.parquet

    def slow_write(self, path, *args, **kwargs):
        write(self, path, *args, **kwargs)
        time.sleep(1.0)

    monkeypatch.setattr(DataFrameWriter, "parquet", slow_write)
    start = threading.Barrier(2)
    staged, errors = [], []

    def stage():
        try:
            start.wait()
            staged.append(tpch._split_staged(spark, src, min_bytes=0, files=2))
        except Exception as e:  # noqa: BLE001 — collected for the assert
            errors.append(e)

    threads = [threading.Thread(target=stage) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert errors == []
    assert len(staged) == 2 and staged[0] == staged[1] != src
    assert os.listdir(split_dir) == [os.path.basename(staged[0])]
    with open(os.path.join(staged[0], "_staged.json")) as f:
        marker = json.load(f)
    assert marker["src"] == src and marker["files"] == 2
    assert spark.read.parquet(staged[0]).count() == 2000


def test_split_dir_lies_under_the_importing_checkout():
    """The staging cache belongs to the checkout the module is imported
    from, so runs from two checkouts never share it."""
    import facebook_presto_spark

    root = os.path.dirname(os.path.dirname(os.path.abspath(facebook_presto_spark.__file__)))
    assert tpch._SPLIT_DIR == os.path.join(root, ".scratch", "split")
