"""Construction-job counts repeat: `tools/construction_jobs.py` counts
the jobs a query's building thread launches, and for the queries that
drain a stream while they are built that number must not depend on how
long the micro-batches take."""

from __future__ import annotations

import importlib.util
import os

from geoparquet_python_spark.io import load_tables

STREAMING = ["q_pyds_stream_scan", "q_stream_neardup_screen"]


def _tool():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "construction_jobs.py",
    )
    spec = importlib.util.spec_from_file_location("construction_jobs", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_streaming_construction_jobs_repeat(spark, sf_dir_small):
    """Three rebuilds of each streaming query give the same count (the
    tables' schemas are known first, so no build pays the inference)."""
    count = _tool().construction_jobs
    load_tables(spark, sf_dir_small)
    runs = []
    for _ in range(3):
        jobs, failed = count(spark, sf_dir_small, STREAMING)
        assert not failed, failed
        runs.append(jobs)
    assert runs[0] == runs[1] == runs[2], runs
