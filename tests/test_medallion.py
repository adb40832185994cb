"""End-to-end medallion pipeline test on the deterministic flight fixtures
(FIXTURES.md): bronze ingest → silver star → gold suite, plus the
reference's runtime quality checks as assertions (SURVEY §5)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def medallion(spark, flight_fixture_dir, test_env_config):
    from unicargo_medallion_data_pipeline_spark.pipelines.medallion import run_medallion

    return run_medallion(
        spark,
        {
            "flights": os.path.join(flight_fixture_dir, "flights.csv"),
            "airlines": os.path.join(flight_fixture_dir, "airlines.csv"),
            "airports": os.path.join(flight_fixture_dir, "airports.csv"),
        },
        environment="test",
        config=test_env_config,
        date_range=("2015-01-01", "2015-12-31"),
    )


def test_bronze_tables_written(spark, medallion):
    for entity, name in medallion.bronze.items():
        df = spark.read.table(name)
        assert df.count() > 0
        assert "metadata" in df.columns and "processed_timestamp" in df.columns


def test_dim_airline_dedup_and_keys(spark, medallion):
    dim = spark.read.table(medallion.silver["airlines"])
    rows = dim.collect()
    codes = [r["iata_code"] for r in rows]
    assert len(codes) == len(set(codes)), "dedup on iata_code failed"
    assert None not in codes
    sks = sorted(r["airline_sk"] for r in rows)
    assert sks == list(range(1, len(rows) + 1)), "surrogate keys not dense"


def test_dim_date_reference_conventions(spark, medallion):
    dd = spark.read.table(medallion.silver["dates"]).filter(F.col("year") == 2015)
    assert dd.count() == 365
    jan1 = dd.filter(F.col("full_date") == "2015-01-01").collect()[0]
    # 2015-01-01 was a Thursday; reference convention Monday=1 → 4
    assert jan1["day_of_week"] == 4
    assert jan1["day_name"] == "Thursday"
    assert jan1["quarter"] == 1 and jan1["is_weekend"] == 0
    sat = dd.filter(F.col("day_name") == "Saturday")
    assert sat.filter(F.col("is_weekend") != 1).count() == 0


def test_fact_cleansing_rules(spark, medallion):
    fact = spark.read.table(medallion.silver["flights"])
    assert fact.count() > 0
    assert fact.filter(F.col("origin_airport_sk") == F.col("destination_airport_sk")).count() == 0
    # business-key dedup survived the hash-key derivation
    assert fact.select("flight_sk").distinct().count() == fact.count()


def test_orphan_fk_audit_zero(spark, medallion):
    from unicargo_medallion_data_pipeline_spark.quality.validation import orphan_fk_counts

    fact = spark.read.table(medallion.silver["flights"])
    counts = orphan_fk_counts(
        fact,
        {
            "date_sk": (spark.read.table(medallion.silver["dates"]), "date_sk"),
            "airline_sk": (spark.read.table(medallion.silver["airlines"]), "airline_sk"),
            "origin_airport_sk": (spark.read.table(medallion.silver["airports"]), "airport_sk"),
            "destination_airport_sk": (spark.read.table(medallion.silver["airports"]), "airport_sk"),
        },
    )
    assert all(v == 0 for v in counts.values()), counts


def test_day_of_week_consistency(spark, medallion):
    """Q3 — the fact's carried day_of_week matches the date dim's
    convention (the engine takes DOW from dim_date, so this must be 0)."""
    fact = spark.read.table(medallion.silver["flights"])
    dd = spark.read.table(medallion.silver["dates"])
    mismatches = (
        fact.join(dd.select("date_sk", dd.day_of_week.alias("dim_dow")), "date_sk")
        .filter(F.col("day_of_week") != F.col("dim_dow"))
        .count()
    )
    assert mismatches == 0


def test_gold_suite_written_and_nonempty(spark, medallion):
    assert len(medallion.gold) == 20
    for name, table in medallion.gold.items():
        df = spark.read.table(table)
        assert df.columns, name
        if name not in ("significant_routes", "flight_number_performance"):
            assert df.count() > 0, f"{name} unexpectedly empty"


def test_gold_route_floor(spark, medallion):
    sig = spark.read.table(medallion.gold["significant_routes"])
    assert sig.filter(F.col("total_flights") < 100).count() == 0
    # fixture biases one route to ~50% of flights → it must pass the floor
    assert sig.count() >= 1


def test_gold_rates_bounded(spark, medallion):
    summary = spark.read.table(medallion.gold["airline_operational_summary"])
    bad = summary.filter(
        (F.col("cancellation_rate_pct") < 0)
        | (F.col("cancellation_rate_pct") > 100)
        | (F.col("on_time_rate_pct") < 0)
        | (F.col("on_time_rate_pct") > 100)
    )
    assert bad.count() == 0


def test_gold_delay_distribution_shares_sum_to_100(spark, medallion):
    dist = spark.read.table(medallion.gold["delay_distribution"])
    total = dist.agg(F.sum("pct_of_all_flights")).collect()[0][0]
    assert abs(total - 100.0) < 1e-9


def test_rolling_otp_window_bounded(spark, medallion):
    r = spark.read.table(medallion.gold["rolling_on_time_performance"])
    bad = r.filter((F.col("rolling_7d_otp") < 0) | (F.col("rolling_7d_otp") > 100))
    assert bad.count() == 0


def test_bronze_quarantine_row_conservation(spark):
    """The default bronze path splits malformed lines into a quarantine
    side table, and good + quarantined == raw data lines (the gate
    raises otherwise).  Malformed here = wrong column count."""
    import tempfile

    from unicargo_medallion_data_pipeline_spark.pipelines.medallion import run_bronze

    d = tempfile.mkdtemp(prefix="quarantine_")
    p = os.path.join(d, "airlines.csv")
    with open(p, "w") as f:
        f.write("iata_code,airline\n")
        f.write("AA,American Airlines\n")
        f.write("DL,Delta Air Lines\n")
        f.write("XX,Broken Line,unexpected,extra,columns\n")
    cfg = {
        "environments": {"qtest": {"storage_root": tempfile.mkdtemp(prefix="qwh_")}},
        "tables": {
            "airlines": {"bronze": {"table": "airlines_raw", "source_format": "csv"}}
        },
    }
    out = run_bronze(spark, {"airlines": p}, environment="qtest", config=cfg)
    assert out["airlines"].count() == 2
    q = spark.read.table("qtest_bronze.airlines_raw_quarantine")
    rows = q.collect()
    assert len(rows) == 1
    # The ORIGINAL line is preserved verbatim for replay.
    assert rows[0]["raw_line"] == "XX,Broken Line,unexpected,extra,columns"
    assert rows[0]["entity"] == "airlines"
    # 2 good + 1 quarantined == 3 raw data lines: conservation held
    # (run_bronze would have raised otherwise).


def test_fact_rerun_is_deterministic(spark, flight_fixture_dir, medallion):
    """SURVEY §7.4 hazard: rerunning the silver build must give identical
    flight_sk values (the reference's monotonically_increasing_id does
    not)."""
    from unicargo_medallion_data_pipeline_spark.pipelines import silver
    from unicargo_medallion_data_pipeline_spark.schemas.flights import FLIGHTS_SCHEMA

    raw = spark.read.schema(FLIGHTS_SCHEMA).option("header", "true").csv(
        os.path.join(flight_fixture_dir, "flights.csv")
    )
    clean = silver.clean_flights(raw)
    fact_existing = spark.read.table(medallion.silver["flights"])
    rebuilt_keys = {
        r[0]
        for r in silver.build_fact_flight(
            clean.repartition(16),  # different partitioning on purpose
            spark.read.table(medallion.silver["dates"]),
            spark.read.table(medallion.silver["airlines"]),
            spark.read.table(medallion.silver["airports"]),
        )
        .select("flight_sk")
        .collect()
    }
    existing_keys = {r[0] for r in fact_existing.select("flight_sk").collect()}
    assert rebuilt_keys == existing_keys


def test_gold_parallelism_matches_serial(spark, medallion, flight_fixture_dir, test_env_config):
    """gold_parallelism>1 must produce bitwise-identical gold tables to
    the serial path (distinct targets, shared read-only cached fact) —
    the correctness contract behind the bench's concurrent fan-out.
    Width 2 (far fewer workers than tables) must match as well."""
    from unicargo_medallion_data_pipeline_spark.pipelines.medallion import run_medallion

    for width in (4, 2):
        env = f"testpar{width}"
        par = run_medallion(
            spark,
            {
                "flights": os.path.join(flight_fixture_dir, "flights.csv"),
                "airlines": os.path.join(flight_fixture_dir, "airlines.csv"),
                "airports": os.path.join(flight_fixture_dir, "airports.csv"),
            },
            environment=env,
            config={
                "environments": {
                    env: test_env_config["environments"]["test"],
                    **{
                        k: v
                        for k, v in test_env_config["environments"].items()
                        if k != "test"
                    },
                },
                "tables": test_env_config["tables"],
            },
            date_range=("2015-01-01", "2015-12-31"),
            gold_parallelism=width,
        )
        assert set(par.gold) == set(medallion.gold)
        for name in par.gold:
            a = spark.read.table(medallion.gold[name])
            b = spark.read.table(par.gold[name])
            assert a.schema == b.schema, (width, name)
            assert (
                a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
            ), f"gold table {name} differs between serial and width {width}"
            assert a.count() == b.count(), (width, name)


def test_quarantine_gate_failure_preserves_previous_bronze(spark, monkeypatch):
    """Round-10 ADVICE 2: a lossy quarantine split must abort WITHOUT
    clobbering the previous good bronze + quarantine tables — writes go
    to staging names and only promote after the conservation gate
    passes."""
    import tempfile

    from unicargo_medallion_data_pipeline_spark.pipelines import medallion as med

    d = tempfile.mkdtemp(prefix="quarantine_gate_")
    p = os.path.join(d, "airlines.csv")
    with open(p, "w") as f:
        f.write("iata_code,airline\n")
        f.write("AA,American Airlines\n")
        f.write("DL,Delta Air Lines\n")
        f.write("XX,Broken Line,unexpected,extra,columns\n")
    cfg = {
        "environments": {"qgate": {"storage_root": tempfile.mkdtemp(prefix="qwh_")}},
        "tables": {
            "airlines": {"bronze": {"table": "airlines_raw", "source_format": "csv"}}
        },
    }
    # first run: good split, tables land
    med.run_bronze(spark, {"airlines": p}, environment="qgate", config=cfg)
    assert spark.read.table("qgate_bronze.airlines_raw").count() == 2
    assert spark.read.table("qgate_bronze.airlines_raw_quarantine").count() == 1

    # second run: simulate a LOSSY split (one good row silently dropped)
    real = med.read_csv_with_quarantine

    def lossy(spark_, path_, schema_, **kw):
        good, bad = real(spark_, path_, schema_, **kw)
        return good.limit(1), bad

    monkeypatch.setattr(med, "read_csv_with_quarantine", lossy)
    with pytest.raises(ValueError, match="lost rows"):
        med.run_bronze(spark, {"airlines": p}, environment="qgate", config=cfg)
    # previous good tables are INTACT (old behavior had already
    # overwritten them before the gate fired)
    assert spark.read.table("qgate_bronze.airlines_raw").count() == 2
    assert spark.read.table("qgate_bronze.airlines_raw_quarantine").count() == 1
    # staging leftovers are cleaned up
    staged = [
        t.name
        for t in spark.catalog.listTables("qgate_bronze")
        if "__staging" in t.name
    ]
    assert staged == []


def test_grain_derived_gold_matches_direct(spark, medallion):
    """Every gold table the medallion driver derives from a shared frame
    must equal its fact lowering BITWISE (exceptAll both ways, schema
    equality): each Rollup from the full-union grain AND from a grain
    built for that rollup alone (the grain a ``--gold`` subset builds),
    and each RouteTable from the shared route_traffic frame.  The grain
    partials are exact longs, so even the double avg/rate columns must
    match bit-for-bit (see the declarations section in gold_flights.py)."""
    from unicargo_medallion_data_pipeline_spark.pipelines import gold_flights as g

    fact = spark.read.table(medallion.silver["flights"])
    da = spark.read.table(medallion.silver["airlines"])
    dp = spark.read.table(medallion.silver["airports"])
    dd = spark.read.table(medallion.silver["dates"])
    dims = {"dd": dd, "da": da, "dp": dp}

    def assert_same(name, direct, derived, source):
        assert derived.schema == direct.schema, f"{name} from {source}"
        assert (
            direct.exceptAll(derived).count() == 0
            and derived.exceptAll(direct).count() == 0
        ), f"{name} derived from {source} differs from the fact lowering"

    rollups = {n: (s, d) for n, (s, d) in g.GOLD_SUITE.items() if isinstance(s, g.Rollup)}
    routes = {n: s for n, (s, _) in g.GOLD_SUITE.items() if isinstance(s, g.RouteTable)}
    assert len(rollups) == 8 and len(routes) == 4

    grain = g.build_grain(fact, [s for s, _ in rollups.values()]).persist()
    try:
        for name, (spec, needed) in rollups.items():
            args = [dims[d] for d in needed]
            direct = spec(fact, *args)
            assert_same(name, direct, spec.from_grain(grain, *args), "the full grain")
            own = g.build_grain(fact, [spec])
            assert_same(name, direct, spec.from_grain(own, *args), "its own grain")
    finally:
        grain.unpersist()
    traffic = g.route_traffic(fact, dp).persist()
    try:
        for name, spec in routes.items():
            assert_same(name, spec(fact, dp), spec.step(traffic), "the traffic frame")
    finally:
        traffic.unpersist()


def test_bronze_quoted_newline_fragments_are_quarantined(spark):
    """r12 upgrade of the r11 "detects" pin to PREVENTS: a quoted cell
    containing a raw newline is two physical lines — the line parser
    would accept the head fragment as a good row with the cell silently
    TRUNCATED (no univocity mode rejects an unterminated quote at EOL).
    The quote-balance audit is now wired INTO read_csv_with_quarantine:
    both fragments land in quarantine verbatim, the truncated twin never
    reaches the good frame, and conservation still balances."""
    import tempfile

    from unicargo_medallion_data_pipeline_spark.pipelines.medallion import run_bronze
    from unicargo_medallion_data_pipeline_spark.sources.readers import (
        audit_csv_quote_balance,
    )

    d = tempfile.mkdtemp(prefix="quarantine_nl_")
    p = os.path.join(d, "airlines.csv")
    with open(p, "w") as f:
        f.write("iata_code,airline\n")
        f.write("AA,American Airlines\n")
        f.write('QQ,"Line\nBreak Air"\n')  # one record, TWO physical lines
        f.write("DL,Delta Air Lines\n")
    cfg = {
        "environments": {"qtest2": {"storage_root": tempfile.mkdtemp(prefix="qwh2_")}},
        "tables": {
            "airlines": {"bronze": {"table": "airlines_raw", "source_format": "csv"}}
        },
    }
    out = run_bronze(spark, {"airlines": p}, environment="qtest2", config=cfg)
    good = {r["iata_code"]: r["airline"] for r in out["airlines"].collect()}
    q_lines = {
        r["raw_line"]
        for r in spark.read.table("qtest2_bronze.airlines_raw_quarantine").collect()
    }
    # conservation balances (4 raw data lines = 2 good + 2 quarantined)
    # and the truncated head fragment is QUARANTINED, not accepted
    assert len(good) + len(q_lines) == 4
    assert good == {"AA": "American Airlines", "DL": "Delta Air Lines"}
    assert q_lines == {'QQ,"Line', 'Break Air"'}  # both fragments, verbatim
    suspects = {r["raw_line"] for r in audit_csv_quote_balance(spark, p).collect()}
    assert suspects == {'QQ,"Line', 'Break Air"'}


def test_bronze_scrubs_nonfinite_doubles_to_null(spark):
    """r12 (r11 verdict item 3): the finite-or-NULL doubles contract is
    made true BY the default ingest — NaN/±Inf double cells in source
    CSVs arrive in bronze as NULL, not as contract-breaking values."""
    import math
    import tempfile

    from unicargo_medallion_data_pipeline_spark.pipelines.medallion import run_bronze

    d = tempfile.mkdtemp(prefix="nonfinite_")
    p = os.path.join(d, "airports.csv")
    with open(p, "w") as f:
        f.write("iata_code,airline,city,state,country,latitude,longitude\n")
        f.write("AAA,Any Airport,Springfield,IL,USA,39.8,-89.6\n")
        f.write("BBB,Bad Airport,Nowhere,XX,USA,NaN,Inf\n")
        f.write("CCC,Cold Airport,Utqiagvik,AK,USA,-Inf,156.8\n")
    cfg = {
        "environments": {"nfin": {"storage_root": tempfile.mkdtemp(prefix="nfwh_")}},
        "tables": {
            "airports": {"bronze": {"table": "airports_raw", "source_format": "csv"}}
        },
    }
    out = run_bronze(spark, {"airports": p}, environment="nfin", config=cfg)
    rows = {r["iata_code"]: r for r in out["airports"].collect()}
    assert len(rows) == 3  # nothing quarantined — NaN/Inf parse fine
    assert rows["AAA"]["latitude"] == 39.8
    assert rows["BBB"]["latitude"] is None and rows["BBB"]["longitude"] is None
    assert rows["CCC"]["latitude"] is None and rows["CCC"]["longitude"] == 156.8
    for r in rows.values():  # nothing non-finite anywhere in bronze
        for c in ("latitude", "longitude"):
            assert r[c] is None or math.isfinite(r[c])


def test_datagen_nonfinite_injection_and_scrub_roundtrip(spark, tmp_path):
    """r11 ADVICE item 4: datagen can inject NaN/±Inf float edges
    (nonfinite=True), and scrub_nonfinite clears every one of them —
    the unit-level pin for the bronze-boundary contract.  The DEFAULT
    sweep stays nonfinite-free (see datagen._NONFINITE_FLOATS: the
    catalog's oracle comparison reads raw tables below the contract
    boundary, where the engines legitimately disagree on NaN)."""
    import math

    from pyspark.sql import functions as F

    from unicargo_medallion_data_pipeline_spark.operators.cleaning import scrub_nonfinite
    from unicargo_medallion_data_pipeline_spark.testing.datagen import write_mutated_dataset

    out_dir = str(tmp_path / "nonfinite_ds")
    write_mutated_dataset(
        "/root/testdata/sf0.001", out_dir, seed="nf1",
        edge_frac=0.4, null_frac=0.0, nonfinite=True,
    )
    ev = spark.read.parquet(os.path.join(out_dir, "events.parquet"))
    n_bad = ev.filter(F.isnan("value") | F.col("value").isin(
        float("inf"), float("-inf"))).count()
    assert n_bad > 0, "nonfinite=True must actually inject NaN/Inf"
    scrubbed = scrub_nonfinite(ev)
    vals = [r["value"] for r in scrubbed.select("value").collect()]
    assert all(v is None or math.isfinite(v) for v in vals)
    # conservation: scrub nulls cells, never drops rows
    assert scrubbed.count() == ev.count()


def _old_dim_date_rows(start, end):
    """Pure-Python copy of the driver-side row builder build_dim_date
    replaced, the reference for the Range-based form."""
    import datetime as dt

    from unicargo_medallion_data_pipeline_spark.pipelines.silver import _DAY_NAMES, _MONTH_NAMES

    rows, d, sk = [], dt.date.fromisoformat(start), 1
    while d <= dt.date.fromisoformat(end):
        dow = d.isoweekday()
        rows.append((
            sk, d, d.year, d.month, d.day, dow, _DAY_NAMES[dow - 1],
            _MONTH_NAMES[d.month - 1], (d.month - 1) // 3 + 1, 1 if dow >= 6 else 0,
        ))
        d += dt.timedelta(days=1)
        sk += 1
    return rows


def test_build_dim_date_equals_driver_side_rows(spark):
    """build_dim_date (spark.range + date functions) must equal the old
    driver-side rows bitwise, schema included, and plan no RDD scan."""
    from unicargo_medallion_data_pipeline_spark.pipelines.silver import (
        DIM_DATE_SCHEMA,
        build_dim_date,
    )
    from unicargo_medallion_data_pipeline_spark.plans.inspect import executed_plan_text

    cases = [
        ("2015-01-01", "2030-12-31", 5844),
        ("2016-02-28", "2016-03-01", 3),  # leap day
        ("2016-02-29", "2016-02-29", 1),
        ("2016-03-01", "2016-02-28", 0),  # end < start
    ]
    for start, end, n in cases:
        got = build_dim_date(spark, start, end)
        want = spark.createDataFrame(_old_dim_date_rows(start, end), DIM_DATE_SCHEMA)
        assert got.schema == want.schema, (start, end)
        assert got.exceptAll(want).count() == 0, (start, end)
        assert want.exceptAll(got).count() == 0, (start, end)
        assert got.count() == n, (start, end)
        assert "ExistingRDD" not in executed_plan_text(got), (start, end)
    # The schema must not depend on the session's ANSI setting.
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for flag in ("false", "true"):
            spark.conf.set("spark.sql.ansi.enabled", flag)
            assert build_dim_date(spark, "2016-02-28", "2016-03-01").schema == DIM_DATE_SCHEMA, flag
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def _three_entity_csvs(flight_fixture_dir, d):
    """Flight fixture flights + airports, and an airlines file with one
    wrong-column-count line, so its quarantine table is non-empty."""
    airlines = os.path.join(d, "airlines.csv")
    with open(airlines, "w") as f:
        f.write("iata_code,airline\n")
        f.write("AA,American Airlines\n")
        f.write("DL,Delta Air Lines\n")
        f.write("XX,Broken Line,unexpected,extra,columns\n")
    return {
        "flights": os.path.join(flight_fixture_dir, "flights.csv"),
        "airlines": airlines,
        "airports": os.path.join(flight_fixture_dir, "airports.csv"),
    }


def _bronze_cfg(env, root):
    return {
        "environments": {env: {"storage_root": root}},
        "tables": {
            e: {"bronze": {"table": f"{e}_raw", "source_format": "csv"}}
            for e in ("flights", "airlines", "airports")
        },
    }


def test_bronze_job_budget_without_fragments(spark, flight_fixture_dir):
    """With no odd-quote-parity line in any input, bronze runs the census,
    the parse pin and the two staged writes per entity, and no quote
    audit: at most 5 Spark jobs per entity, counted by job id from the
    status store (host-independent)."""
    import tempfile

    from unicargo_medallion_data_pipeline_spark.pipelines.medallion import run_bronze
    from unicargo_medallion_data_pipeline_spark.sources.readers import csv_line_census

    paths = _three_entity_csvs(flight_fixture_dir, tempfile.mkdtemp(prefix="budget_"))
    assert all(csv_line_census(spark, p)[1] == 0 for p in paths.values())
    jsc = spark.sparkContext._jsc.sc()

    def last_job_id():
        jsc.listenerBus().waitUntilEmpty()
        jobs = jsc.statusStore().jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    cfg = _bronze_cfg("budget", tempfile.mkdtemp(prefix="budgetwh_"))
    before = last_job_id()
    run_bronze(spark, paths, environment="budget", config=cfg)
    n_jobs = last_job_id() - before
    assert 0 < n_jobs <= 5 * len(paths), n_jobs


def test_concurrent_bronze_failure_is_isolated(spark, monkeypatch, flight_fixture_dir):
    """One lossy entity among three ingesting concurrently: run_bronze
    raises, that entity's previous bronze and quarantine tables are
    untouched, and no __staging or __prev table is left behind."""
    import tempfile

    from unicargo_medallion_data_pipeline_spark.pipelines import medallion as med

    paths = _three_entity_csvs(flight_fixture_dir, tempfile.mkdtemp(prefix="isolate_"))
    cfg = _bronze_cfg("isolate", tempfile.mkdtemp(prefix="isolatewh_"))
    med.run_bronze(spark, paths, environment="isolate", config=cfg)
    assert spark.read.table("isolate_bronze.airlines_raw").count() == 2
    assert spark.read.table("isolate_bronze.airlines_raw_quarantine").count() == 1

    real = med.read_csv_with_quarantine

    def lossy(spark_, path_, schema_, **kw):
        good, bad = real(spark_, path_, schema_, **kw)
        return (good.limit(1), bad) if path_ == paths["airlines"] else (good, bad)

    monkeypatch.setattr(med, "read_csv_with_quarantine", lossy)
    with pytest.raises(ValueError, match="airlines: quarantine split lost rows"):
        med.run_bronze(spark, paths, environment="isolate", config=cfg)
    assert spark.read.table("isolate_bronze.airlines_raw").count() == 2
    assert spark.read.table("isolate_bronze.airlines_raw_quarantine").count() == 1
    left = [
        t.name
        for t in spark.catalog.listTables("isolate_bronze")
        if "__staging" in t.name or "__prev" in t.name
    ]
    assert left == []


def test_bronze_writer_calls_never_overlap(spark, monkeypatch, flight_fixture_dir):
    """The bronze entities ingest from concurrent threads, but their
    calls into save_to_table and promote_table (module attributes that
    a caller may wrap, e.g. in tracing spans that must nest) never run
    at the same time."""
    import tempfile
    import threading
    import time

    from unicargo_medallion_data_pipeline_spark.pipelines import medallion as med

    guard, active, peak, threads = threading.Lock(), [0], [0], set()

    def watched(fn):
        def call(*args, **kwargs):
            with guard:
                threads.add(threading.get_ident())
                active[0] += 1
                peak[0] = max(peak[0], active[0])
            try:
                time.sleep(0.05)  # widen the window an overlap would need
                return fn(*args, **kwargs)
            finally:
                with guard:
                    active[0] -= 1

        return call

    monkeypatch.setattr(med, "save_to_table", watched(med.save_to_table))
    monkeypatch.setattr(med, "promote_table", watched(med.promote_table))
    paths = _three_entity_csvs(flight_fixture_dir, tempfile.mkdtemp(prefix="turns_"))
    cfg = _bronze_cfg("turns", tempfile.mkdtemp(prefix="turnswh_"))
    out = med.run_bronze(spark, paths, environment="turns", config=cfg)
    assert set(out) == set(paths)
    assert spark.read.table("turns_bronze.airlines_raw").count() == 2
    assert len(threads) == len(paths)  # one fan-out thread per entity
    assert peak[0] == 1
