"""Task orchestration + run logging (SURVEY §3.1, §2.1 S7).

Reference counterparts:
  - task factory: ``unicargo_etl/scripts/01_bronze/task_factory.py:3-27``
    (read → transform → write closures per entity)
  - execution loop: ``bronze_orchestrator.py:140-221`` (sequential tasks,
    per-entity DataFrame threading, failure isolation)
  - task logger: ``src/logging_utils/task_logger_utils.py`` (timed context
    manager writing SUCCESS/FAILED rows to a partitioned log table)

Scale redesign: the reference writes ONE log row per task as its own
Spark job (``write_to_table_utils.py:99-140``) — a 1-row shuffle-free
write per task, but still a full Spark job each (job-launch overhead ×
tasks).  This engine buffers log rows in the driver and flushes them as
ONE partitioned write per pipeline run.

``fan_out`` is the package's one driver-thread pool: ``run_tasks``
runs its entity chains through it, and the medallion driver its bronze
entities and gold tables.
"""

from __future__ import annotations

import datetime as dt
import logging
import threading
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from unicargo_medallion_data_pipeline_spark.sources.writers import write_partitioned_path

log = logging.getLogger(__name__)

TASK_LOG_SCHEMA = StructType(
    [
        StructField("pipeline_id", StringType(), False),
        StructField("run_id", StringType(), False),
        StructField("entity", StringType(), True),
        StructField("task_name", StringType(), False),
        StructField("status", StringType(), False),  # SUCCESS | FAILED
        StructField("error_message", StringType(), True),
        StructField("execution_time_ms", LongType(), True),
        StructField("started_at", TimestampType(), False),
        StructField("environment", StringType(), False),
        StructField("log_date", StringType(), False),  # partition col
    ]
)


@dataclass
class Task:
    """One unit of work: a closure over (previous DataFrame) → DataFrame."""

    entity: str
    name: str
    fn: Callable[[DataFrame | None], DataFrame | None]


def create_entity_tasks(
    entity: str,
    read_fn: Callable[[], DataFrame],
    transform_fn: Callable[[DataFrame], DataFrame],
    write_fn: Callable[[DataFrame], None],
) -> list[Task]:
    """The reference's 3-task shape (read → transform → write) per entity."""
    return [
        Task(entity, f"read_{entity}", lambda _prev: read_fn()),
        Task(entity, f"transform_{entity}", lambda prev: transform_fn(prev)),
        Task(entity, f"write_{entity}", lambda prev: (write_fn(prev), prev)[1]),
    ]


@dataclass
class RunLog:
    """Buffered run log: rows accumulate in the driver, flushed once."""

    pipeline_id: str
    run_id: str
    environment: str = "dev"
    rows: list[tuple] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def record(
        self,
        entity: str | None,
        task_name: str,
        status: str,
        error: str | None,
        started_at: dt.datetime,
        elapsed_ms: int,
    ) -> None:
        row = (
            self.pipeline_id,
            self.run_id,
            entity,
            task_name,
            status,
            error,
            elapsed_ms,
            started_at,
            self.environment,
            started_at.date().isoformat(),
        )
        with self._lock:
            self.rows.append(row)

    def flush(self, spark: SparkSession, path: str) -> None:
        """S7 — ONE partitioned append for the whole run."""
        if not self.rows:
            return
        df = spark.createDataFrame(self.rows, TASK_LOG_SCHEMA)
        write_partitioned_path(df.coalesce(1), path, ["environment", "log_date"])
        self.rows.clear()


def fan_out(fn, items, width: int) -> list:
    """``[fn(x) for x in items]`` with up to ``width`` calls in flight
    from driver threads, submitted in item order.  ``width`` <= 1 runs
    serially in the calling thread.  On a failure, ``Executor.map``
    cancels the calls not yet started, and the ``with`` block re-raises
    only once the running calls have returned, so each call's own
    cleanup has run."""
    items = list(items)
    if width <= 1 or len(items) <= 1:
        return [fn(x) for x in items]
    with ThreadPoolExecutor(max_workers=min(width, len(items))) as ex:
        return list(ex.map(fn, items))


@dataclass
class RunResult:
    results: dict[str, DataFrame | None] = field(default_factory=dict)
    failures: dict[str, str] = field(default_factory=dict)
    statuses: list[tuple[str, str]] = field(default_factory=list)


def _run_entity_chain(
    entity: str,
    chain: list[Task],
    run_log: RunLog | None,
) -> tuple[DataFrame | None, bool, dict[str, str], list[tuple[str, str]]]:
    """Run one entity's tasks in order; isolation boundary for failures.

    Returns (final DataFrame or None, failed?, {task: error},
    [(task, status)]).  RunLog.record is thread-safe, so recording from
    concurrent chains is fine.
    """
    last_df: DataFrame | None = None
    failed = False
    failures: dict[str, str] = {}
    statuses: list[tuple[str, str]] = []
    for task in chain:
        if failed:
            statuses.append((task.name, "SKIPPED"))
            continue
        # Keep the tzinfo: a NAIVE utc datetime stored into TimestampType
        # is re-interpreted in the SESSION zone, shifting started_at by
        # the TZ offset (and log_date across midnight) on any non-UTC
        # cluster; Spark converts an AWARE datetime correctly.
        started = dt.datetime.now(dt.timezone.utc)
        t0 = time.perf_counter()
        try:
            last_df = task.fn(last_df)
            status, err = "SUCCESS", None
        except Exception as e:  # noqa: BLE001 — isolation is the contract
            status, err = "FAILED", f"{type(e).__name__}: {e}"
            failed = True
            failures[task.name] = err
            log.warning("task %s failed: %s", task.name, err)
        elapsed_ms = int((time.perf_counter() - t0) * 1000)
        statuses.append((task.name, status))
        if run_log is not None:
            run_log.record(task.entity, task.name, status, err, started, elapsed_ms)
    return last_df, failed, failures, statuses


def run_tasks(
    tasks: list[Task],
    run_log: RunLog | None = None,
    max_workers: int = 1,
) -> RunResult:
    """Execute tasks with per-entity DataFrame threading and failure
    isolation: a failed task marks its entity failed and skips its
    remaining tasks, but other entities continue
    (``bronze_orchestrator.py:216-217``).

    The entity chains run through ``fan_out(..., max_workers)``:
    ``max_workers > 1`` runs INDEPENDENT chains concurrently (order
    within an entity is always preserved) — the scale upgrade over the
    reference's strictly sequential loop: with N source entities, N
    read/write jobs overlap in the Spark scheduler, hiding scan/commit
    latency behind compute.  Spark job submission is thread-safe; on a
    shared cluster pair this with a FAIR scheduler pool per entity so
    one entity's large scan cannot starve the rest.  A chain catches its
    own task errors, so one failing entity never cancels another.
    Results and statuses are merged in first-appearance entity order, so
    the output is deterministic regardless of completion order.
    """
    # Group into per-entity chains, preserving first-appearance order.
    chains: dict[str, list[Task]] = {}
    for task in tasks:
        chains.setdefault(task.entity, []).append(task)

    out = RunResult()
    chain_results = fan_out(
        lambda entity: _run_entity_chain(entity, chains[entity], run_log),
        chains,
        max_workers,
    )
    for entity, (last_df, failed, failures, statuses) in zip(chains, chain_results):
        # No partial data: a caller iterating results must never see a
        # failed entity's stale intermediate DataFrame (e.g. the read
        # output after its transform failed).
        if not failed:
            out.results[entity] = last_df
        out.failures.update(failures)
        out.statuses.extend(statuses)
    return out
