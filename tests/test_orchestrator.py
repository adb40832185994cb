"""Orchestrator tests: task threading, failure isolation, batched logging."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F


def _tasks(spark, fail_transform_for=None):
    from unicargo_medallion_data_pipeline_spark.pipelines.orchestrator import Task, create_entity_tasks

    written = {}

    def make(entity):
        def read_fn():
            return spark.createDataFrame([(entity, 1), (entity, 2)], ["name", "v"])

        def transform_fn(df):
            if entity == fail_transform_for:
                raise ValueError(f"boom in {entity}")
            return df.withColumn("v2", F.col("v") * 10)

        def write_fn(df):
            written[entity] = df.count()

        return create_entity_tasks(entity, read_fn, transform_fn, write_fn)

    tasks: list[Task] = []
    for e in ("alpha", "beta"):
        tasks.extend(make(e))
    return tasks, written


def test_run_tasks_threads_dataframes(spark):
    from unicargo_medallion_data_pipeline_spark.pipelines.orchestrator import run_tasks

    tasks, written = _tasks(spark)
    result = run_tasks(tasks)
    assert not result.failures
    assert written == {"alpha": 2, "beta": 2}
    assert "v2" in result.results["alpha"].columns


def test_run_tasks_failure_isolation(spark):
    from unicargo_medallion_data_pipeline_spark.pipelines.orchestrator import run_tasks

    tasks, written = _tasks(spark, fail_transform_for="alpha")
    result = run_tasks(tasks)
    assert "transform_alpha" in result.failures
    # alpha's write skipped; beta unaffected
    assert "alpha" not in written and written["beta"] == 2
    statuses = dict(result.statuses)
    assert statuses["write_alpha"] == "SKIPPED"
    assert statuses["write_beta"] == "SUCCESS"


def test_run_log_batched_flush(spark):
    from unicargo_medallion_data_pipeline_spark.pipelines.orchestrator import RunLog, run_tasks

    tasks, _ = _tasks(spark, fail_transform_for="beta")
    run_log = RunLog("pipe1", "run42", environment="test")
    run_tasks(tasks, run_log)
    assert len(run_log.rows) == 5  # 3 alpha + read/transform beta (write skipped)
    path = tempfile.mkdtemp(prefix="runlog_")
    run_log.flush(spark, path)
    assert run_log.rows == []
    logs = spark.read.parquet(path)
    assert logs.count() == 5
    assert logs.filter(F.col("status") == "FAILED").count() == 1
    # partitioned by environment/log_date
    assert {"environment", "log_date"} <= set(logs.columns)
    failed = logs.filter(F.col("status") == "FAILED").collect()[0]
    assert "boom in beta" in failed["error_message"]
    assert failed["execution_time_ms"] >= 0


def test_failed_entity_leaves_no_stale_result(spark):
    """A failed entity must not expose its last successful intermediate
    DataFrame in results — callers iterating results would consume
    partial data."""
    from unicargo_medallion_data_pipeline_spark.pipelines.orchestrator import run_tasks

    tasks, _ = _tasks(spark, fail_transform_for="alpha")
    result = run_tasks(tasks)
    assert "alpha" not in result.results  # not the read-stage DataFrame
    assert "beta" in result.results


def test_cli_runs_medallion_on_fixture_csvs(spark, flight_fixture_dir):
    """`python -m unicargo_medallion_data_pipeline_spark --environment dev ...` runs the
    pipeline end-to-end in a fresh interpreter (the spark-submit shape),
    mirroring the reference's argparse param chain.  The interpreter runs
    in a non-UTC local zone, so a naive timestamp handed to Spark would
    land in the run log shifted by that zone's offset."""
    import datetime as dt
    import json
    import os
    import subprocess
    import sys

    wh = tempfile.mkdtemp(prefix="cli_wh_")
    logp = os.path.join(tempfile.mkdtemp(prefix="cli_log_"), "task_log")
    env = dict(
        os.environ, UNICARGO_SPARK_PIPELINE_ID="env_chain_pipeline", TZ="America/New_York"
    )
    before = dt.datetime.now(dt.timezone.utc).timestamp()
    proc = subprocess.run(
        [
            sys.executable, "-m", "unicargo_medallion_data_pipeline_spark",
            "--environment", "dev",
            "--data-dir", flight_fixture_dir,
            "--gold", "route_traffic,airline_scorecard",
            "--run-id", "cli_test_run",
            "--log-path", logp,
            "--master", "local[4]",
            "--warehouse-dir", wh,
        ],
        capture_output=True, text=True, timeout=420, env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["status"] == "SUCCESS"
    assert summary["pipeline_id"] == "env_chain_pipeline"  # env-var layer
    assert summary["run_id"] == "cli_test_run"  # explicit flag wins
    assert set(summary["gold"]) == {"route_traffic", "airline_scorecard"}
    assert summary["quality"]["fact_flight"]["row_count"] > 0
    # task log flushed as ONE partitioned write
    import glob

    assert glob.glob(logp + "/environment=dev/log_date=*/*.parquet")
    # started_at is the run's true instant, whatever the writer's zone
    started = spark.read.parquet(logp).select(F.unix_timestamp("started_at")).first()[0]
    assert abs(started - before) < 600, (started, before)


def test_run_tasks_parallel_entities_match_sequential(spark):
    """max_workers>1 runs entity chains concurrently but must produce the
    same results, failure isolation, and log rows as the sequential path."""
    from unicargo_medallion_data_pipeline_spark.pipelines.orchestrator import RunLog, run_tasks

    tasks, written = _tasks(spark, fail_transform_for="alpha")
    run_log = RunLog("pipe1", "run_par", environment="test")
    result = run_tasks(tasks, run_log, max_workers=4)
    assert "transform_alpha" in result.failures
    assert "alpha" not in result.results and "beta" in result.results
    assert "alpha" not in written and written["beta"] == 2
    statuses = dict(result.statuses)
    assert statuses["write_alpha"] == "SKIPPED"
    assert statuses["write_beta"] == "SUCCESS"
    # 3 alpha statuses (read ok, transform fail, write skip) + 3 beta
    assert len(result.statuses) == 6
    # log: read+transform for alpha (write skipped logs nothing) + 3 beta
    assert len(run_log.rows) == 5

    seq_tasks, seq_written = _tasks(spark, fail_transform_for="alpha")
    seq = run_tasks(seq_tasks)
    assert dict(seq.statuses) == statuses
    assert set(seq.results) == set(result.results)


def test_run_tasks_parallel_many_entities(spark):
    """Eight concurrent entity chains, no failures: every entity's chain
    runs in order and every write lands."""
    from unicargo_medallion_data_pipeline_spark.pipelines.orchestrator import (
        Task,
        create_entity_tasks,
        run_tasks,
    )

    written = {}
    tasks: list[Task] = []
    for i in range(8):
        entity = f"e{i}"

        def make(entity=entity):
            def read_fn():
                return spark.createDataFrame([(entity, 1)], ["name", "v"])

            def transform_fn(df):
                return df.withColumn("v2", F.col("v") + 1)

            def write_fn(df):
                written[entity] = df.count()

            return create_entity_tasks(entity, read_fn, transform_fn, write_fn)

        tasks.extend(make())
    result = run_tasks(tasks, max_workers=4)
    assert not result.failures
    assert len(written) == 8 and all(v == 1 for v in written.values())
    assert len(result.results) == 8


def test_run_tasks_parallel_failure_isolation(spark):
    """Round-11 pipelines hunt probe: a failing entity among CONCURRENT
    chains must not poison its neighbors — the failed entity is absent
    from results, its downstream tasks are SKIPPED, and every other
    entity completes and writes."""
    from unicargo_medallion_data_pipeline_spark.pipelines.orchestrator import (
        RunLog,
        Task,
        create_entity_tasks,
        run_tasks,
    )

    written = {}
    tasks: list[Task] = []
    for i in range(4):
        entity = f"p{i}"

        def make(entity=entity):
            def read_fn():
                return spark.createDataFrame([(entity, 1)], ["name", "v"])

            def transform_fn(df):
                if entity == "p2":
                    raise RuntimeError("boom in transform")
                return df.withColumn("v2", F.col("v") + 1)

            def write_fn(df):
                written[entity] = df.count()

            return create_entity_tasks(entity, read_fn, transform_fn, write_fn)

        tasks.extend(make())
    log = RunLog("pipe", "run1", "test")
    result = run_tasks(tasks, log, max_workers=4)
    assert set(result.failures) == {"transform_p2"}
    assert "p2" not in result.results and len(result.results) == 3
    assert set(written) == {"p0", "p1", "p3"}
    statuses = dict(result.statuses)
    assert statuses["write_p2"] == "SKIPPED"
    recorded = {(r[3], r[4]) for r in log.rows}
    assert ("transform_p2", "FAILED") in recorded
    assert ("write_p0", "SUCCESS") in recorded


def test_fan_out_keeps_order_and_failures_cancel_pending():
    """fan_out returns results in item order at any width, and a
    failing call re-raises and cancels the calls not yet started."""
    import time

    from unicargo_medallion_data_pipeline_spark.pipelines.orchestrator import fan_out

    for width in (1, 3, 16):
        assert fan_out(lambda i: i * i, range(10), width) == [i * i for i in range(10)]

    started = []

    def fail_first(i):
        started.append(i)
        if i == 0:
            raise ValueError("boom")
        time.sleep(0.2)

    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="boom"):
        fan_out(fail_first, range(20), 2)
    assert len(started) < 20
    assert time.perf_counter() - t0 < 5


def _package_calls():
    """(module path relative to the package, called name, Call node) for
    every call in the package source."""
    import ast
    import pathlib

    import unicargo_medallion_data_pipeline_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    for path in root.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                yield path.relative_to(root).as_posix(), name, node


def test_one_thread_pool_site_in_package():
    """Driver-thread concurrency has one home: ThreadPoolExecutor is
    constructed only in pipelines/orchestrator.py, so new concurrent
    drivers build on fan_out instead of starting their own pool."""
    sites = {path for path, name, _ in _package_calls() if name == "ThreadPoolExecutor"}
    assert sites == {"pipelines/orchestrator.py"}


def test_session_state_is_the_only_session_keying():
    """Per-session state has one home, session.session_state: no module
    keys a memo by a session's id() (a recycled address hands a new
    session a dead one's state) or builds its own WeakKeyDictionary."""
    import ast

    offenders = []
    for path, name, node in _package_calls():
        if name == "WeakKeyDictionary" or (
            name == "id"
            and any(isinstance(a, ast.Name) and a.id in ("spark", "session") for a in node.args)
        ):
            offenders.append((path, ast.unparse(node)))
    assert not offenders, offenders
