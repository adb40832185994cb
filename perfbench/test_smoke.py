"""Smoke-scale tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/test_smoke.py -q

One Spark session runs each workload at a tiny size, traced and
untraced, and checks that every metric ``BENCHMARK.json`` names is
emitted with its unit, that child spans' self-times sum to no more than
their parent span, and that a deliberately corrupted output is counted
as a failed operation (so it shows in ``failed / attempted``), and that
a run in which no unit of work finished still reports its result.
"""

from __future__ import annotations

import os
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402
import wl_catalog  # noqa: E402
import wl_medallion  # noqa: E402
import wl_stream  # noqa: E402
from common import spark_session  # noqa: E402

SMOKE_QUERIES = ["pricing_summary", "events_sessionization"]
#: A per-layer metric each workload's traced run must move off 0.
OWN_LAYER = {
    "medallion_batch": "sources.writers.files_written",
    "catalog_stream": "streaming.writers.batches",
    "query_catalog": "plans.tpch.exec_s",
    "stream_ingest": "streaming.stateful.batches",
}


@pytest.fixture(scope="module")
def session():
    with spark_session(ROOT, "perfbench-smoke", 2) as (spark, work, _):
        yield spark, work


@pytest.fixture(autouse=True)
def smoke_scale(monkeypatch):
    monkeypatch.setattr(wl_catalog, "subset", lambda: SMOKE_QUERIES)
    monkeypatch.setattr(wl_medallion, "ROWS", 2000)
    monkeypatch.setattr(wl_stream, "EVENTS", 1500)
    monkeypatch.setattr(wl_stream, "FILES", 2)
    pins = run.pins()
    monkeypatch.setattr(run, "pins", lambda: {**pins, "medallion": {}})  # none for smoke-size CSVs


def _measure(session, workload: str, trace: bool):
    spark, work = session
    d = tempfile.mkdtemp(prefix=f"{workload}-", dir=work)
    return run.measure(spark, workload, 3, 0.0, trace, d, session_s=1.0)


def _self_times_fit(tracer) -> None:
    assert tracer.spans
    for sp in tracer.spans:
        kids = tracer.children(sp)
        assert sum(tracer.self_seconds(c) for c in kids) <= sp.seconds + 1e-6, sp.name
        assert tracer.self_seconds(sp) >= -1e-6, sp.name


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_every_metric_emitted_with_unit(session, workload):
    spec = run.spec()
    for trace, kind in ((False, "end_to_end"), (True, "per_layer")):
        result, detail, tracer = _measure(session, workload, trace)
        want = {m["name"]: m["unit"] for m in spec[kind]}
        got = {n: m["unit"] for n, m in result["metrics"].items()}
        assert got == want
        assert all(isinstance(m["value"], float) for m in result["metrics"].values())
        assert result["attempted"] >= 1
        if trace:
            _self_times_fit(tracer)
            assert result["metrics"]["trace.wall_s"]["value"] > 0
            assert result["metrics"][OWN_LAYER[workload]]["value"] > 0
        else:
            assert all(m["value"] > 0 for m in result["metrics"].values())
            assert detail["op_tail"]["samples"] >= 1
        if workload == "medallion_batch":
            assert [f["mismatch"] for f in detail["failures"]] == [["no pins for this input variant"]]
        else:
            assert result["failed"] == 0, detail["failures"]


def test_failed_pipeline_run_is_reported(session, monkeypatch):
    from unicargo_medallion_data_pipeline_spark.pipelines import medallion

    def broken(*args, **kwargs):
        raise RuntimeError("injected failure")

    monkeypatch.setattr(medallion, "run_medallion", broken)
    result, detail, _ = _measure(session, "medallion_batch", False)
    assert (result["correct"], result["attempted"], result["failed"]) == (False, 1, 1)
    assert set(result["metrics"]) == {"setup_s", "peak_rss_mb"}
    assert detail["complete"] is False
    assert "injected failure" in detail["failures"][0]["mismatch"][0]


def test_corrupted_catalog_output_is_a_failure(session, monkeypatch):
    real = wl_catalog.bench_queries

    def corrupted():
        queries = dict(real())
        q = queries["pricing_summary"]
        queries["pricing_summary"] = type(q)(q.name, lambda spark, sf: q.fn(spark, sf).limit(1), q.sql)
        return queries

    monkeypatch.setattr(wl_catalog, "bench_queries", corrupted)
    result, detail, _ = _measure(session, "query_catalog", False)
    assert result["attempted"] == len(SMOKE_QUERIES)
    assert result["failed"] == 1
    assert result["correct"] is False
    assert [f["op"] for f in detail["failures"]] == ["pricing_summary"]


def test_corrupted_stream_sink_is_a_failure(session, monkeypatch):
    from pyspark.sql import functions as F

    from unicargo_medallion_data_pipeline_spark.streaming import windows

    real = windows.tumbling_window_agg
    monkeypatch.setattr(windows, "tumbling_window_agg", lambda s, **kw: real(s, **kw).where(F.col("event_type") != "view"))
    result, detail, _ = _measure(session, "stream_ingest", False)
    assert result["failed"] > 0
    assert result["failed"] < result["attempted"]
    assert [f["op"].split(":")[1] for f in detail["failures"]] == ["streaming.windows"]
