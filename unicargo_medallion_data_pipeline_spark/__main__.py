"""CLI entry point: a spark-submit-able medallion pipeline runner.

Reference counterpart: the bronze orchestrator's parameter-resolution
chain (``unicargo_etl/scripts/01_bronze/bronze_orchestrator.py:38-87``
and ``src/io_utils/widget_utils.py:19-43``), which resolves each run
parameter as: explicit argv → platform context (Databricks widgets /
job context there) → generated local default.  This engine mirrors the
chain portably:

    1. explicit ``--flag`` (``parse_known_args``; a bare positional is
       accepted as the environment, exactly like the reference's
       ``unknown_args[0]`` handling, so existing launch scripts work)
    2. ``UNICARGO_SPARK_<NAME>`` environment variables — the open
       equivalent of the widget/job-context layer (works under
       spark-submit, cron, containers)
    3. generated defaults (``local_pipeline_<ts>`` / ``local_run_<ts>``)

Usage::

    python -m unicargo_medallion_data_pipeline_spark \
        --environment dev --data-dir /path/with/{flights,airlines,airports}.csv

Prints ONE JSON summary line (tables written per layer, quality profiles,
run status) and exits non-zero on failure, so it composes with shell
orchestration.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import sys
import time


def _env_default(name: str, fallback: str) -> str:
    return os.environ.get(f"UNICARGO_SPARK_{name.upper()}", fallback)


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="unicargo_medallion_data_pipeline_spark",
        description="Run the medallion pipeline (CSV -> bronze -> silver star -> gold).",
    )
    ap.add_argument(
        "--environment",
        default=_env_default("environment", "dev"),
        help="deployment environment (controls database prefixes / storage roots)",
    )
    ap.add_argument(
        "--pipeline-id",
        "--pipeline_id",
        dest="pipeline_id",
        default=_env_default("pipeline_id", f"local_pipeline_{int(time.time())}"),
    )
    ap.add_argument(
        "--run-id",
        "--run_id",
        dest="run_id",
        default=_env_default("run_id", f"local_run_{int(time.time())}"),
    )
    ap.add_argument(
        "--data-dir",
        required=True,
        help="directory containing flights.csv, airlines.csv, airports.csv",
    )
    ap.add_argument(
        "--gold",
        default="",
        help="comma-separated gold table names (default: the full suite)",
    )
    ap.add_argument(
        "--log-path",
        default="",
        help="optional parquet path for the partitioned task-log table (S7)",
    )
    ap.add_argument("--master", default=None, help="Spark master (default: env/local)")
    ap.add_argument(
        "--warehouse-dir",
        default="",
        help="optional spark.sql.warehouse.dir override (test isolation)",
    )
    return ap


def main(argv: list[str] | None = None) -> int:
    args, unknown = build_parser().parse_known_args(argv)
    if unknown:
        # Reference behavior: a stray positional is the environment.
        args.environment = unknown[0]

    from unicargo_medallion_data_pipeline_spark.pipelines.medallion import run_medallion
    from unicargo_medallion_data_pipeline_spark.pipelines.orchestrator import RunLog
    from unicargo_medallion_data_pipeline_spark.session import get_spark

    extra_conf = {}
    if args.warehouse_dir:
        extra_conf["spark.sql.warehouse.dir"] = args.warehouse_dir
        extra_conf["spark.driver.extraJavaOptions"] = (
            f"-Dderby.system.home={args.warehouse_dir}"
        )
    spark = get_spark(f"medallion-{args.pipeline_id}", master=args.master, extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")

    csv_paths = {
        e: os.path.join(args.data_dir, f"{e}.csv")
        for e in ("flights", "airlines", "airports")
    }
    missing = [p for p in csv_paths.values() if not os.path.exists(p)]
    if missing:
        print(json.dumps({"status": "FAILED", "error": f"missing inputs: {missing}"}))
        return 2

    run_log = RunLog(args.pipeline_id, args.run_id, args.environment)
    started = dt.datetime.now(dt.timezone.utc)
    t0 = time.perf_counter()
    status, err, summary = "SUCCESS", None, {}
    try:
        result = run_medallion(
            spark,
            csv_paths,
            environment=args.environment,
            gold_names=[g for g in args.gold.split(",") if g] or None,
        )
        summary = {
            "bronze": result.bronze,
            "silver": result.silver,
            "gold": result.gold,
            "quality": result.quality,
        }
    except Exception as e:  # noqa: BLE001 — CLI boundary reports, not raises
        status, err = "FAILED", f"{type(e).__name__}: {e}"
    elapsed_ms = int((time.perf_counter() - t0) * 1000)
    run_log.record(None, "run_medallion", status, err, started, elapsed_ms)
    if args.log_path:
        run_log.flush(spark, args.log_path)

    print(
        json.dumps(
            {
                "status": status,
                "error": err,
                "pipeline_id": args.pipeline_id,
                "run_id": args.run_id,
                "environment": args.environment,
                "elapsed_ms": elapsed_ms,
                **summary,
            },
            default=str,
        )
    )
    return 0 if status == "SUCCESS" else 1


if __name__ == "__main__":
    raise SystemExit(main())
