"""End-to-end medallion driver: CSV → bronze → silver star → gold suite.

Reference counterpart: the notebook chain sequenced by job dependencies
(SURVEY §3.2) plus the bronze orchestrator script (§3.1).  Each layer
materializes before the next reads it — the medallion contract the
reference establishes (no cross-stage plan fusion), which also keeps
per-table correctness checks possible.

Within a layer the writes are independent (distinct target tables over
read-only inputs).  Bronze ingests its entities and gold writes its
suite concurrently from driver threads, both through ``_fan_out``: at
pipeline scale each write is a few small Spark jobs that leave most
cores idle, so overlapping them hides per-job scheduling and catalog
latency.  Bronze's calls into ``save_to_table`` and ``promote_table``
take turns (``_WRITER_LOCK``), so what overlaps there is each entity's
census scan and parse.  Silver writes its four tables one after
another: each is a single ``save_to_table`` call, so a fan-out would
have nothing left to overlap.  Between layers there is a barrier:
bronze returns before silver starts, and the quality gate runs before
gold.
"""

from __future__ import annotations

import logging
import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession

from unicargo_medallion_data_pipeline_spark.config.tables import get_table_config
from unicargo_medallion_data_pipeline_spark.operators.cleaning import scrub_nonfinite
from unicargo_medallion_data_pipeline_spark.operators.transforms import with_metadata, with_processed_timestamp
from unicargo_medallion_data_pipeline_spark.pipelines import gold_flights, silver
from unicargo_medallion_data_pipeline_spark.quality.validation import validate_data_quality
from unicargo_medallion_data_pipeline_spark.schemas.flights import (
    AIRLINES_SCHEMA,
    AIRPORTS_SCHEMA,
    FLIGHTS_SCHEMA,
)
from unicargo_medallion_data_pipeline_spark.sources.readers import (
    csv_line_census,
    read_csv,
    read_csv_with_quarantine,
)
from unicargo_medallion_data_pipeline_spark.sources.writers import (
    ensure_database,
    promote_table,
    save_to_table,
)

log = logging.getLogger(__name__)

#: Serializes the writer entry points (``save_to_table``,
#: ``promote_table``) across bronze's fan-out threads.  Callers look
#: them up as attributes of this module, so a caller may wrap them,
#: e.g. in tracing spans that must nest (``perfbench/spans.py`` keeps
#: one span stack for all threads); the lock keeps such wrappers
#: single-threaded.
_WRITER_LOCK = threading.Lock()


@dataclass
class MedallionResult:
    bronze: dict[str, str] = field(default_factory=dict)
    silver: dict[str, str] = field(default_factory=dict)
    gold: dict[str, str] = field(default_factory=dict)
    quality: dict[str, dict] = field(default_factory=dict)


def _fan_out(fn, items, width: int) -> list:
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


def run_bronze(
    spark: SparkSession,
    csv_paths: dict[str, str],
    environment: str = "dev",
    config: dict | None = None,
    pipeline_id: str = "medallion",
    quarantine: bool = True,
) -> dict[str, DataFrame]:
    """Bronze ingest (S1 + P12 + S5): explicit-schema CSV scans enriched
    with metadata + processed_timestamp, written per entity.

    ``quarantine`` (default) ingests through
    ``read_csv_with_quarantine``: malformed source lines land verbatim
    in a ``<table>_quarantine`` side table instead of flowing downstream
    as silently-nulled cells, and a row-conservation gate (good +
    quarantined == raw data lines) raises if the split ever loses or
    fabricates rows.  ``quarantine=False`` keeps the reference's
    PERMISSIVE single-table behavior.

    The entities ingest concurrently (``_fan_out``, width = entity
    count): their census scans and parses overlap, while their staged
    writes, conservation gates and promotes take turns under
    ``_WRITER_LOCK``.  Each entity keeps its own staging cleanup, so an
    entity that fails leaves its previous tables untouched and no
    staging table behind, while the others still publish.  The call
    raises once every entity has finished."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    schemas = {
        "flights": FLIGHTS_SCHEMA,
        "airlines": AIRLINES_SCHEMA,
        "airports": AIRPORTS_SCHEMA,
    }
    ensure_database(spark, f"{environment}_bronze")

    def ingest(entity: str) -> DataFrame:
        path = csv_paths[entity]
        cfg = get_table_config(entity, "bronze", environment, config)
        meta = {"pipeline_id": pipeline_id, "entity": entity, "layer": "bronze"}
        if not quarantine:
            df = with_metadata(
                with_processed_timestamp(
                    scrub_nonfinite(read_csv(spark, path, schemas[entity]))
                ),
                meta,
            )
            with _WRITER_LOCK:
                save_to_table(df, cfg, spark, mode="overwrite")
            return spark.read.table(cfg.full_name)
        # Row conservation: every raw data line is either typed or
        # quarantined (raw data lines as counted by csv_line_census).
        # The good/bad counts ride the two table writes as observe()
        # metrics (r8 verdict task 5) instead of running dedicated
        # count() jobs, and the census also counts odd-quote-parity
        # lines, so the quote audit (a second text scan plus an
        # exceptAll) runs only when a quoted-newline fragment can exist.
        # observe() metrics only exist AFTER the write action, so
        # both writes go to STAGING names and are promoted (DROP +
        # RENAME, metadata-only) once the gate passes — a lossy
        # split aborts with the previous good bronze + quarantine
        # tables untouched, instead of having already overwritten
        # them (round-10 ADVICE item 2).
        n_raw, n_odd = csv_line_census(spark, path)
        good, bad = read_csv_with_quarantine(
            spark, path, schemas[entity], quote_audit=n_odd > 0
        )
        obs_bad = Observation()
        qcfg = replace(cfg, table=f"{cfg.table}_quarantine", partition_by=())
        qcfg_stg = replace(qcfg, table=f"{qcfg.table}__staging")
        cfg_stg = replace(cfg, table=f"{cfg.table}__staging")
        # Any exception on this path — not just the conservation
        # gate — must not leak a __staging table (round-10 ADVICE:
        # a failure in the GOOD-side write previously left the
        # already-written quarantine staging behind), so the whole
        # staged-write → gate → promote sequence cleans up in one
        # finally (DROP IF EXISTS is a no-op for the names a
        # successful promote has already renamed away).
        try:
            with _WRITER_LOCK:
                save_to_table(
                    bad.observe(obs_bad, F.count(F.lit(1)).alias("n")).withColumn(
                        "entity", F.lit(entity)
                    ),
                    qcfg_stg,
                    spark,
                    mode="overwrite",
                )
                # Bronze-boundary finite-doubles contract (r12): NaN/±Inf
                # measurements become NULL here, so every downstream
                # layer sees finite-or-NULL floats by construction.
                # Pure codegen'd column expressions — no extra job.
                df = with_metadata(with_processed_timestamp(scrub_nonfinite(good)), meta)
                obs_good = Observation()
                df = df.observe(obs_good, F.count(F.lit(1)).alias("n"))
                save_to_table(df, cfg_stg, spark, mode="overwrite")
                n_good = int(obs_good.get["n"])
                n_bad = int(obs_bad.get["n"])
                if n_good + n_bad != n_raw:
                    raise ValueError(
                        f"{entity}: quarantine split lost rows — raw={n_raw}, "
                        f"good={n_good}, quarantined={n_bad}"
                    )
                # A process crash BETWEEN these two promotes leaves a
                # newly-promoted quarantine table next to the previous
                # bronze table — a consistent-per-table but mixed-epoch
                # pair.  Each promote is individually crash-recoverable
                # (rename-aside, see promote_table), and re-running the
                # ingest realigns the pair; tolerated because the two
                # tables are never joined, only audited side-by-side.
                promote_table(spark, qcfg_stg.full_name, qcfg.full_name)
                promote_table(spark, cfg_stg.full_name, cfg.full_name)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {cfg_stg.full_name}")
            spark.sql(f"DROP TABLE IF EXISTS {qcfg_stg.full_name}")
        return spark.read.table(cfg.full_name)

    entities = list(csv_paths)
    return dict(zip(entities, _fan_out(ingest, entities, len(entities))))


def run_medallion(
    spark: SparkSession,
    csv_paths: dict[str, str],
    environment: str = "dev",
    config: dict | None = None,
    gold_names: list[str] | None = None,
    date_range: tuple[str, str] = ("2015-01-01", "2030-12-31"),
    timings: dict | None = None,
    gold_parallelism: int = 1,
) -> MedallionResult:
    """Full bronze→silver→gold run.  Returns the table names written per
    layer plus quality-gate profiles.  Pass a dict as ``timings`` to
    record per-layer wall seconds into it (keys ``bronze``/``silver``/
    ``gold`` — the measurement hook ``perfbench/run.py --workload
    medallion_batch`` uses).

    Bronze ingests its entities concurrently and returns before silver
    starts; silver writes its four tables in turn; the quality gate
    runs before gold (see the module docstring).  ``gold_parallelism``
    > 1 submits that many independent gold tables concurrently from
    driver threads — the supported Spark pattern for fan-out over a
    shared (cached) input.  Each gold table is a small aggregate whose
    single job underuses the cluster; overlapping them hides per-job
    scheduling + catalog latency.  Results are identical to the serial
    path (distinct target tables, shared fact read-only)."""
    import time as _time

    result = MedallionResult()

    _t0 = _time.perf_counter()
    bronze = run_bronze(spark, csv_paths, environment, config)
    if timings is not None:
        timings["bronze"] = _time.perf_counter() - _t0
        _t0 = _time.perf_counter()
    for entity in bronze:
        result.bronze[entity] = get_table_config(entity, "bronze", environment, config).full_name

    # Silver star.  clean_flights clusters its dedup shuffle on
    # flight_date so the SAME exchange serves the date-partitioned fact
    # write below (broadcast joins preserve the distribution) — one full
    # shuffle of the wide fact instead of two.
    dim_airline = silver.build_dim_airline(bronze["airlines"])
    dim_airport = silver.build_dim_airport(bronze["airports"])
    dim_date = silver.build_dim_date(spark, *date_range)
    flights_clean = silver.clean_flights(bronze["flights"], cluster_col="flight_date")
    fact = silver.build_fact_flight(flights_clean, dim_date, dim_airline, dim_airport)

    silver_tables = {
        "airlines": dim_airline,
        "airports": dim_airport,
        "dates": dim_date,
        "flights": fact,
    }
    for entity, df in silver_tables.items():
        cfg = get_table_config(entity, "silver", environment, config)
        # One file per partition value: the fact partitions by date_sk
        # (~365 values/year), and without clustering every write task
        # emits a sliver into every date directory — ~W×P tiny files
        # that EVERY downstream gold scan then re-lists and re-opens.
        # Measured at 2M rows / 20 gold tables: the small-files layout
        # alone accounted for most of a uniform ~4s/table scan tax
        # (docs/PLANS.md round-8 gold profile).  The FACT is already
        # clustered by flight_date (the dedup shuffle above, which
        # date_sk maps 1:1 onto), so its write needs no re-clustering —
        # forcing one here would re-shuffle the whole fact a second time.
        save_to_table(
            df,
            cfg,
            spark,
            mode="overwrite",
            target_files_per_partition=(
                1 if (cfg.partition_by and entity != "flights") else None
            ),
        )
        result.silver[entity] = cfg.full_name
    if timings is not None:
        timings["silver"] = _time.perf_counter() - _t0
        _t0 = _time.perf_counter()

    # Re-read materialized silver (medallion contract: layers decouple).
    fact_t = spark.read.table(result.silver["flights"])
    da_t = spark.read.table(result.silver["airlines"])
    dp_t = spark.read.table(result.silver["airports"])
    dd_t = spark.read.table(result.silver["dates"])

    # The gold suite fans ~20 independent aggregates out of ONE fact:
    # persist it so the parquet scan is paid once, not per gold table
    # (spill-safe MEMORY_AND_DISK — at cluster scale a fact that
    # exceeds executor memory degrades to local-disk reads, still
    # cheaper than 20 remote re-scans).  The quality gate below is the
    # action that materializes the cache.
    fact_t = fact_t.persist()

    # Everything from here must run under the try whose finally
    # unpersists: if a quality gate or DDL raises, the cached fact must
    # not leak for the rest of the session (r8 ADVICE item 1).
    try:
        # Quality gates (Q1): fail fast before building gold.
        result.quality["fact_flight"] = validate_data_quality(
            fact_t, "fact_flight", ["flight_sk", "date_sk", "airline_sk"]
        )

        # Gold suite
        ensure_database(spark, f"{environment}_gold")
        return _build_gold_suite(
            fact_t, da_t, dp_t, dd_t, environment, gold_names,
            gold_parallelism, result, timings, _t0,
        )
    finally:
        fact_t.unpersist()


def _build_gold_suite(
    fact_t, da_t, dp_t, dd_t, environment, gold_names,
    gold_parallelism, result, timings, _t0,
):
    import time as _time

    needs = {
        "route_traffic": (fact_t, dp_t),
        "top_routes": (fact_t, dp_t),
        "airline_operational_summary": (fact_t, da_t),
        "daily_flight_summary": (fact_t, dd_t, da_t),
        "weekly_flight_summary": (fact_t, dd_t, da_t),
        "monthly_flight_trends": (fact_t, dd_t, da_t),
        "airline_scorecard": (fact_t, da_t),
        "airline_day_of_week": (fact_t, dd_t, da_t),
        "significant_routes": (fact_t, dp_t),
        "busiest_routes": (fact_t, dp_t),
        "airport_traffic": (fact_t, dp_t),
        "seasonal_flight_summary": (fact_t, dd_t),
        "weekend_weekday_split": (fact_t, dd_t, da_t),
        "quarterly_flight_summary": (fact_t, dd_t, da_t),
        "delay_distribution": (fact_t,),
        "flight_efficiency": (fact_t, da_t),
        "aircraft_utilization": (fact_t, dd_t, da_t),
        "rolling_on_time_performance": (fact_t, dd_t, da_t),
        "flight_number_performance": (fact_t, da_t),
        "distance_bucket_stats": (fact_t,),
    }
    per_table: dict[str, float] = {}
    names = gold_names or list(needs)

    # Shared-grain fan-in (round-10 verdict task 6): the eight
    # (date, airline)-family tables re-aggregate ONE cached partial
    # (~|dates|x|airlines| rows) instead of each re-scanning the 2M-row
    # cached fact, and the three route tables share ONE route_traffic
    # aggregation (filter / top-k are route-level).  Lossless by
    # construction — integer partials; see the derivation section in
    # pipelines/gold_flights.py and the pinned bitwise-equality test.
    dims = {"dd": dd_t, "da": da_t}
    grain_names = [n for n in names if n in gold_flights.GRAIN_SUITE]
    route_names = [
        n for n in names
        if n in ("route_traffic", "top_routes", "significant_routes", "busiest_routes")
    ]
    grain = (
        gold_flights.build_date_airline_grain(fact_t).persist()
        if grain_names
        else None
    )
    traffic = (
        gold_flights.route_traffic(fact_t, dp_t).persist()
        if len(route_names) > 1
        else None
    )
    # Materialize the shared frames BEFORE the fan-out: under
    # gold_parallelism > 1 the first tables to reference a lazily-cached
    # frame RACE to compute it (Spark caches on first completion, but
    # concurrent consumers each run the full aggregation) — measured as
    # route_traffic and top_routes both paying the ~3s traffic agg.
    # One count() each pins the cache, then every consumer reuses it.
    if grain is not None:
        grain.count()
    if traffic is not None:
        traffic.count()

    def _build_df(name: str):
        if grain is not None and name in gold_flights.GRAIN_SUITE:
            fn, needed = gold_flights.GRAIN_SUITE[name]
            return fn(grain, *[dims[d] for d in needed])
        if traffic is not None and name == "route_traffic":
            return traffic
        if traffic is not None and name == "top_routes":
            # round-11 pipelines hunt: top_routes was missing from the
            # shared-traffic family, re-paying the full route aggregation
            return gold_flights.top_routes_from_traffic(traffic, 10)
        if traffic is not None and name == "significant_routes":
            return gold_flights.significant_routes_from_traffic(traffic)
        if traffic is not None and name == "busiest_routes":
            return gold_flights.top_routes_from_traffic(traffic, 50)
        return gold_flights.GOLD_SUITE[name](*needs[name])

    def _write_one(name: str) -> tuple[str, str, float]:
        df = _build_df(name)
        full_name = f"{environment}_gold.{name}"
        _tg = _time.perf_counter()
        df.write.mode("overwrite").format("parquet").saveAsTable(full_name)
        return name, full_name, _time.perf_counter() - _tg

    try:
        outcomes = _fan_out(_write_one, names, gold_parallelism)
    finally:
        if grain is not None:
            grain.unpersist()
        if traffic is not None:
            traffic.unpersist()
    for name, full_name, sec in outcomes:
        per_table[name] = sec
        result.gold[name] = full_name
    if timings is not None:
        timings["gold"] = _time.perf_counter() - _t0
        timings["gold_tables"] = per_table
    return result
