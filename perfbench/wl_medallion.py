"""``medallion_batch``: the paper's pipeline, CSV → bronze → silver star →
20 gold tables, through ``pipelines.medallion.run_medallion``.

One operation is one pipeline run.  The inputs are one of
:data:`VARIANTS` seeded CSV sets (``seed % VARIANTS``), so every run's
outputs can be checked against pinned row counts and content hashes.
"""

from __future__ import annotations

import os
import statistics
import time
from types import SimpleNamespace

from common import Clock
from outputs import fingerprint_tables

#: Distinct input sets; ``--seed`` picks one.  Each has pinned outputs.
VARIANTS = 4
#: Flight rows per generated CSV set (before ~1% duplicate rows).  At
#: this size a run is bound by per-job and per-table costs, not by data
#: volume: a traced run submits about 118 Spark jobs and keeps the 4
#: cores about 15% busy (21 executor-CPU seconds in 35 s).  A 2M-row
#: run takes longer than a run's share of the benchmark's time budget.
ROWS = 20_000
#: Days of flights the CSVs cover (one monthly load).
DAYS = 31

PHASES = ("bronze", "silver", "gold")
PHASE_COUNTERS = ("jobs", "tasks", "executor_cpu_s", "shuffle_write_bytes", "spill_bytes", "input_bytes")


def _config(work: str) -> dict:
    from unicargo_medallion_data_pipeline_spark.config.tables import DEFAULT_CONFIG

    return {
        "environments": {"bench": {"storage_root": os.path.join(work, "lake")}},
        "tables": DEFAULT_CONFIG["tables"],
    }


def make_inputs(spark, work: str, seed: int) -> SimpleNamespace:
    """Generate the variant's CSVs; ``setup_s`` is the generation time."""
    from datagen import write_flights_csvs

    with Clock() as c:
        paths = write_flights_csvs(os.path.join(work, "csv"), seed % VARIANTS, ROWS, DAYS)
    return SimpleNamespace(paths=paths, work=work, setup_s=c.s)


def _table_attr(args, kwargs) -> dict:
    cfg = args[1] if len(args) > 1 else kwargs["config"]
    return {"table": cfg.full_name}


def run_once(spark, tracer, paths: dict, work: str) -> tuple[float, dict, object]:
    """One pipeline run; returns (wall seconds, timings, result)."""
    from unicargo_medallion_data_pipeline_spark.pipelines import medallion

    timings: dict = {}
    with tracer.patched(medallion, "run_bronze", "pipelines.medallion.bronze"), \
            tracer.patched(medallion, "save_to_table", "sources.writers.save_to_table", _table_attr), \
            tracer.patched(medallion, "promote_table", "sources.writers.promote_table"), \
            tracer.patched(medallion, "validate_data_quality", "quality.validation.validate"), \
            tracer.span("pipelines.medallion.run_medallion"):
        t0 = time.perf_counter()
        result = medallion.run_medallion(
            spark,
            paths,
            environment="bench",
            config=_config(work),
            date_range=("2015-01-01", f"2015-01-{DAYS:02d}"),
            timings=timings,
            gold_parallelism=4,
        )
        wall = time.perf_counter() - t0
    return wall, timings, result


def fingerprints(spark, result) -> dict:
    """``fact_flight`` and every gold table → (rows, content hash)."""
    return fingerprint_tables(spark, {"fact_flight": result.silver["flights"], **result.gold})


def check(spark, result, pins: dict | None) -> list[str]:
    """Compare the fact row count and every gold table's (rows, hash)
    with the pins; returns the mismatches."""
    got = fingerprints(spark, result)
    if pins is None:
        return ["no pins for this input variant"]
    bad = [name for name, want in pins.items() if got.get(name) != want]
    bad += [name for name in got if name not in pins]
    return bad


def layer_metrics(runs: list[dict]) -> dict:
    """Per-layer metrics, each the median over the traced pipeline runs."""
    return {k: statistics.median(r[k] for r in runs) for k in runs[0]}


def traced_run_metrics(spark, tracer, timings: dict, wall: float) -> dict:
    """Layer metrics of the pipeline run that just finished."""
    from unicargo_medallion_data_pipeline_spark.sources.writers import table_location

    run = tracer.named("pipelines.medallion.run_medallion")[-1]
    inside = [s for s in tracer.spans if run.start <= s.start and s.end <= run.end]

    def spans(name):
        return [s for s in inside if s.name == name]

    out = {f"pipelines.medallion.{p}_s": timings[p] for p in PHASES}
    # Phase boundaries by job id: bronze is the run_bronze span; silver
    # runs from its end to the quality gate, which opens the gold phase
    # (the same split run_medallion's own timings use).
    bronze = spans("pipelines.medallion.bronze")[0]
    gate = spans("quality.validation.validate")[0]
    ranges = {
        "bronze": (bronze.job_lo, bronze.job_hi),
        "silver": (bronze.job_hi + 1, gate.job_lo - 1),
        "gold": (gate.job_lo, run.job_hi),
    }
    for phase, (lo, hi) in ranges.items():
        c = tracer.counters_for_jobs(lo, hi)
        for k in PHASE_COUNTERS:
            out[f"pipelines.medallion.{phase}.{k}"] = c[k]
    saves = spans("sources.writers.save_to_table")
    out["sources.writers.save_to_table_s"] = sum(s.seconds for s in saves)
    out["sources.writers.calls"] = len(saves)
    files = nbytes = 0
    for s in saves:
        # a staged table has been renamed to its final name by now
        f, b = _files_under(table_location(spark, s.attrs["table"].removesuffix("__staging")))
        files, nbytes = files + f, nbytes + b
    out["sources.writers.files_written"] = files
    out["sources.writers.bytes_written"] = nbytes
    out["sources.writers.promote_table_s"] = sum(s.seconds for s in spans("sources.writers.promote_table"))
    out["quality.validation.validate_s"] = sum(s.seconds for s in spans("quality.validation.validate"))
    per_table = timings.get("gold_tables", {})
    out["pipelines.gold_flights.table_write_s_sum"] = sum(per_table.values())
    out["pipelines.gold_flights.overlap"] = sum(per_table.values()) / timings["gold"]
    total = tracer.counters_for_jobs(run.job_lo, run.job_hi)
    out["spark.task_retry_ratio"] = total["task_attempts_failed"] / max(1, total["tasks"])
    out["spark.stage_skip_ratio"] = total["stages_skipped"] / max(1, total["stages"])
    out["trace.wall_s"] = wall
    return out


def _files_under(root: str) -> tuple[int, int]:
    files = nbytes = 0
    for d, _, names in os.walk(root):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                nbytes += os.path.getsize(os.path.join(d, n))
    return files, nbytes


def run(spark, tracer, inputs, seed: int, seconds: float, pins: dict) -> dict:
    paths, work = inputs.paths, inputs.work
    variant_pins = pins.get("medallion", {}).get(str(seed % VARIANTS))
    walls, layer_runs, failures = [], [], []
    attempted = 0
    t_end = time.perf_counter() + seconds
    while attempted == 0 or time.perf_counter() < t_end:
        attempted += 1
        try:
            wall, timings, result = run_once(spark, tracer, paths, work)
            if tracer.enabled:
                layer_runs.append(traced_run_metrics(spark, tracer, timings, wall))
            bad = check(spark, result, variant_pins)
        except Exception as e:  # noqa: BLE001 - a failed run is counted, not fatal
            bad = [f"{type(e).__name__}: {e}"]
            wall = None
        if bad:
            failures.append({"op": attempted, "mismatch": bad[:5]})
        if wall is not None:
            walls.append(wall)
    return {
        "unit_walls_s": walls,
        "op_latencies_s": walls,
        "attempted": attempted,
        "failed": len(failures),
        "failures": failures,
        "detail": {"variant": seed % VARIANTS, "flight_rows": ROWS},
        "layers": layer_metrics(layer_runs) if layer_runs else {},
    }
