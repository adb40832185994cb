"""Incremental flight processing (S12): late-arriving day merged into the
partitioned fact, idempotently, with corrections overwriting."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def star(spark, flight_fixture_dir):
    from unicargo_medallion_data_pipeline_spark.pipelines import silver
    from unicargo_medallion_data_pipeline_spark.schemas.flights import (
        AIRLINES_SCHEMA,
        AIRPORTS_SCHEMA,
        FLIGHTS_SCHEMA,
    )

    def read_csv(name, schema):
        path = os.path.join(flight_fixture_dir, name)
        return spark.read.schema(schema).option("header", "true").csv(path)

    raw = read_csv("flights.csv", FLIGHTS_SCHEMA)
    airlines = read_csv("airlines.csv", AIRLINES_SCHEMA)
    airports = read_csv("airports.csv", AIRPORTS_SCHEMA)
    dim_airline = silver.build_dim_airline(airlines)
    dim_airport = silver.build_dim_airport(airports)
    dim_date = silver.build_dim_date(spark, "2015-01-01", "2015-12-31")
    return raw, dim_date, dim_airline, dim_airport


def test_incremental_merge_day(spark, star):
    from unicargo_medallion_data_pipeline_spark.pipelines import silver
    from unicargo_medallion_data_pipeline_spark.pipelines.incremental import process_incremental_flights

    raw, dim_date, dim_airline, dim_airport = star
    # Seed the fact with everything EXCEPT February 1st.
    clean = silver.clean_flights(raw)
    fact_all = silver.build_fact_flight(clean, dim_date, dim_airline, dim_airport)
    target = tempfile.mkdtemp(prefix="fact_inc_")
    seed = fact_all.filter(F.col("flight_date") != "2015-02-01")
    seed.write.mode("overwrite").partitionBy("flight_date").parquet(target)
    n_seed = seed.count()
    n_day = fact_all.filter(F.col("flight_date") == "2015-02-01").count()
    assert n_day > 0, "fixture must contain Feb 1 flights"

    # The 'late-arriving' slice: raw rows for Feb 1 only.
    increment = process_incremental_flights(
        spark, raw, target, dim_date, dim_airline, dim_airport, date_str="2015-02-01"
    )
    assert increment.count() == n_day
    merged = spark.read.parquet(target)
    assert merged.count() == n_seed + n_day
    # idempotent: merging the same day again changes nothing
    process_incremental_flights(
        spark, raw, target, dim_date, dim_airline, dim_airport, date_str="2015-02-01"
    )
    assert spark.read.parquet(target).count() == n_seed + n_day


def test_incremental_merge_correction_wins(spark, star):
    from unicargo_medallion_data_pipeline_spark.pipelines import silver
    from unicargo_medallion_data_pipeline_spark.pipelines.incremental import process_incremental_flights

    raw, dim_date, dim_airline, dim_airport = star
    clean = silver.clean_flights(raw)
    fact_all = silver.build_fact_flight(clean, dim_date, dim_airline, dim_airport)
    target = tempfile.mkdtemp(prefix="fact_corr_")
    fact_all.write.mode("overwrite").partitionBy("flight_date").parquet(target)

    # Correction feed: same business keys for Jan 2, arrival_delay zeroed.
    corrected_raw = raw.filter(
        (F.col("month") == 1) & (F.col("day") == 2)
    ).withColumn("arrival_delay", F.lit(0))
    process_incremental_flights(
        spark, corrected_raw, target, dim_date, dim_airline, dim_airport
    )
    merged = spark.read.parquet(target)
    assert merged.count() == fact_all.count(), "corrections must not add rows"
    day = merged.filter(F.col("flight_date") == "2015-01-02")
    assert day.filter(F.col("arrival_delay") != 0).count() == 0, "update-all must win"


def test_snapshot_diff_tolerates_map_columns(spark):
    """r9 hunt: diffing snapshots that carry a map column (e.g. bronze
    metadata) must classify rows instead of failing analysis."""
    from unicargo_medallion_data_pipeline_spark.operators.diff import snapshot_diff

    schema = "k int, v string, props map<string,string>"
    old = spark.createDataFrame(
        [(1, "a", {"m": "1"}), (2, "b", None), (3, "c", {"m": "3"})], schema
    )
    new = spark.createDataFrame(
        [(1, "a", {"m": "1"}), (2, "b", {"m": "2"}), (4, "d", None)], schema
    )
    got = {
        r["k"]: r["change_status"]
        for r in snapshot_diff(old, new, keys=["k"]).collect()
    }
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}
