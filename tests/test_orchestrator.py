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


def _package_modules():
    """(module path relative to the package, parsed module) for every
    package source file."""
    import ast
    import pathlib

    import unicargo_medallion_data_pipeline_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    for path in sorted(root.rglob("*.py")):
        yield path.relative_to(root).as_posix(), ast.parse(path.read_text(), str(path))


def _package_nodes():
    """(module path relative to the package, AST node) for every node in
    the package source."""
    import ast

    for path, tree in _package_modules():
        for node in ast.walk(tree):
            yield path, node


def _package_calls():
    """(module path relative to the package, called name, Call node) for
    every call in the package source."""
    import ast

    for path, node in _package_nodes():
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            yield path, name, node


def test_one_thread_pool_site_in_package():
    """Driver-thread concurrency has one home: ThreadPoolExecutor is
    constructed only in pipelines/orchestrator.py, so new concurrent
    drivers build on fan_out instead of starting their own pool."""
    sites = {path for path, name, _ in _package_calls() if name == "ThreadPoolExecutor"}
    assert sites == {"pipelines/orchestrator.py"}


#: Definitions only tests call that stay because they are the
#: reference's own capability surface: (module, name) → SURVEY ID.
_REFERENCE_SURFACE = {
    ("streaming/readers.py", "read_streaming_table"): "S8",
    ("streaming/writers.py", "write_stream_to_table"): "S10",
    ("streaming/writers.py", "write_stream_with_merge"): "S11",
    ("pipelines/incremental.py", "process_incremental_flights"): "S12",
    ("pipelines/orchestrator.py", "run_tasks"): "§3.1",
    ("pipelines/orchestrator.py", "create_entity_tasks"): "§3.1",
    ("pipelines/orchestrator.py", "Task"): "§3.1",
    ("pipelines/orchestrator.py", "RunResult"): "§3.1",
    ("quality/validation.py", "orphan_fk_counts"): "Q2",
}

#: Definitions that no entry point reaches yet, each due for deletion
#: with the tests that cover only it.  The set may only shrink.
_PENDING_DELETION = {
    ("config/tables.py", "load_yaml_config"),
    ("operators/diff.py", "schema_diff"),
    ("operators/layout.py", "clustering_report"),
    ("operators/layout.py", "write_zordered"),
    ("operators/rollup.py", "hll_estimate"),
    ("operators/rollup.py", "hll_sketch"),
    ("operators/scd2.py", "apply_scd2_manifest"),
    ("operators/sketch.py", "kmv_estimate"),
    ("operators/skew.py", "salted_two_phase_distinct"),
    ("oracle.py", "_class_unsafe"),
    ("oracle.py", "oracle_type_defects"),
    ("pipelines/corpus.py", "materialize_canonical"),
    ("pipelines/corpus.py", "read_corpus_table"),
    ("pipelines/corpus.py", "read_ivfadc_index"),
    ("pipelines/corpus.py", "run_corpus_medallion"),
    ("quality/observe.py", "assert_observed_rows"),
    ("quality/observe.py", "observe_metrics"),
    ("sources/readers.py", "read_json"),
    ("sources/readers.py", "read_orc_or_empty"),
    ("sources/readers.py", "read_parquet"),
    ("sources/readers.py", "read_xml_or_empty"),
    ("sources/synthetic.py", "SyntheticEventsDataSource"),
    ("sources/synthetic.py", "SyntheticEventsReader"),
    ("sources/synthetic.py", "SyntheticEventsStreamReader"),
    ("sources/synthetic.py", "_RangePartition"),
    ("sources/synthetic.py", "_gen_batch"),
    ("sources/synthetic.py", "_opts"),
    ("sources/synthetic.py", "register_synthetic_source"),
    ("streaming/dedup.py", "dedup_stream_exact"),
    ("streaming/dedup.py", "dedup_stream_within_watermark"),
    ("streaming/enrich.py", "enrich_stream"),
    ("streaming/erasure.py", "_max_erasure_batch"),
    ("streaming/erasure.py", "erasure_audit_frame"),
    ("streaming/erasure.py", "write_stream_erasure"),
    ("streaming/erasure.py", "write_stream_erasure_manifest"),
    ("streaming/joins.py", "interval_join_streams"),
    ("streaming/observe.py", "ProgressLogListener"),
    ("streaming/observe.py", "read_progress_log"),
    ("streaming/observe.py", "write_progress_log"),
    ("streaming/quota.py", "QuotaProcessor"),
    ("streaming/quota.py", "_annotate"),
    ("streaming/quota.py", "_make_v1_fn"),
    ("streaming/quota.py", "enforce_quota"),
    ("streaming/quota.py", "quota_output_schema"),
    ("streaming/quota.py", "state_v2_available"),
    ("streaming/quota.py", "use_rocksdb_state"),
    ("streaming/sketch.py", "write_stream_kmv_sketch"),
    ("streaming/topk.py", "write_stream_window_topk"),
    ("streaming/windows.py", "session_window_agg"),
    ("streaming/windows.py", "sliding_window_agg"),
    ("streaming/writers.py", "write_stream_to_manifest"),
    ("textops/analysis.py", "bigrams"),
    ("textops/udtf.py", "SentenceSplitter"),
    ("textops/udtf.py", "register_sentence_splitter"),
}


def test_every_package_definition_is_reachable():
    """Every top-level package def/class is reached, by name, from an
    entry point: module-level package code (imports excluded), a
    ``@register``-ed catalog query, a root script, perfbench, or a
    ``_REFERENCE_SURFACE`` entry — directly or through another reached
    definition.  A name counts as a Name, an Attribute, an
    identifier-shaped string (getattr / registry lookups) or an
    import alias of one.  Tests are not entry points, so code that only
    tests call shows up here.  The unreachable set must equal
    ``_PENDING_DELETION`` exactly: a new orphan fails, and so does a
    pending entry that was deleted or became reachable."""
    import ast
    import pathlib
    import re

    import unicargo_medallion_data_pipeline_spark as pkg

    modules = dict(_package_modules())
    repo = pathlib.Path(pkg.__file__).parent.parent
    scripts = [
        ast.parse(path.read_text(), str(path))
        for path in [*repo.glob("*.py"), *(repo / "perfbench").rglob("*.py")]
        if not path.name.startswith("test_")
    ]
    aliases: dict[str, set[str]] = {}
    for tree in [*modules.values(), *scripts]:
        for n in ast.walk(tree):
            if isinstance(n, ast.alias) and n.asname:
                aliases.setdefault(n.asname, set()).add(n.name.rpartition(".")[2])
    ident = re.compile(r"[A-Za-z_]\w*\Z")

    def names_in(nodes):
        out = set()
        for node in nodes:
            for n in ast.walk(node):
                if isinstance(n, ast.Name):
                    out.add(n.id)
                elif isinstance(n, ast.Attribute):
                    out.add(n.attr)
                elif isinstance(n, ast.Constant) and isinstance(n.value, str) and ident.match(n.value):
                    out.add(n.value)
        return out.union(*(aliases.get(name, ()) for name in out))

    def registered(st):
        return any(
            isinstance(d, ast.Call)
            and "register" in (getattr(d.func, "id", None), getattr(d.func, "attr", None))
            for d in st.decorator_list
        )

    defs, roots, live = {}, list(scripts), set()
    for path, tree in modules.items():
        for st in tree.body:
            if isinstance(st, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[(path, st.name)] = st
                if not registered(st) and (path, st.name) not in _REFERENCE_SURFACE:
                    continue
                live.add((path, st.name))
            roots.append(st)
    assert set(_REFERENCE_SURFACE) <= set(defs), set(_REFERENCE_SURFACE) - set(defs)

    seen = names_in(roots)
    grew = True
    while grew:
        grew = False
        for key, st in defs.items():
            if key not in live and key[1] in seen:
                live.add(key)
                seen |= names_in([st])
                grew = True
    unreachable = set(defs) - live
    assert unreachable == _PENDING_DELETION, {
        "unreachable, not pending": sorted(unreachable - _PENDING_DELETION),
        "pending, no longer unreachable": sorted(_PENDING_DELETION - unreachable),
    }


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


#: The deployment settings the package may read from the environment,
#: as (module, rendered key expression).  Everything else is a code
#: path or an argument, never a process-wide switch.
_ENV_ALLOWLIST = {
    ("session.py", "'SPARK_MASTER'"),
    ("session.py", "'SPARK_GRAFT_CPUS'"),
    ("session.py", "'SPARK_GRAFT_SHUFFLE'"),
    ("session.py", "'SPARK_GRAFT_DRIVER_MEM'"),
    ("sources/flights_fixture.py", "FIXTURE_DIR_ENV"),
    ("__main__.py", "f'UNICARGO_SPARK_{name.upper()}'"),
    ("plans/inspect.py", "'SPARK_GRAFT_SF_DIR'"),
    ("oracle.py", "'SPARK_GRAFT_SF_DIR'"),
}


def test_package_reads_only_allowlisted_env_vars():
    """Every environment read in the package (``os.environ.get``,
    ``os.getenv``, ``os.environ[...]``, ``... in os.environ``) names a
    deployment setting from the allowlist: an env switch that picks
    between code paths is a second path no caller selects."""
    import ast

    env = {"os.environ", "environ"}
    reads = set()
    for path, node in _package_nodes():
        if isinstance(node, ast.Call) and node.args and ast.unparse(node.func) in (
            "os.environ.get", "environ.get", "os.getenv", "getenv"
        ):
            reads.add((path, ast.unparse(node.args[0])))
        elif (
            isinstance(node, ast.Subscript)
            and isinstance(node.ctx, ast.Load)
            and ast.unparse(node.value) in env
        ):
            reads.add((path, ast.unparse(node.slice)))
        elif isinstance(node, ast.Compare) and any(
            ast.unparse(c) in env for c in node.comparators
        ):
            reads.add((path, ast.unparse(node.left)))
    assert reads == _ENV_ALLOWLIST, sorted(reads ^ _ENV_ALLOWLIST)
