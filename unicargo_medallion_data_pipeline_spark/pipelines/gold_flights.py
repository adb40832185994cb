"""Gold layer: the reference's 15-table flight-analytics suite
(SURVEY §2.4-§2.6), each as a named, individually-runnable function
(fact, dims) → DataFrame.

Reference notebooks: ``03_gold_flight_analytics.ipynb`` and
``03_gold_unikargo_01..07`` (daily/weekly/monthly, airline performance,
route analytics, airport analytics, time-based, delay, operational
efficiency).

Numeric note: all measures are IntegerType, and integer sums are exact in
IEEE doubles (< 2^53), so plain ``F.avg``/``F.sum`` are already
deterministic here — no decimal routing needed (unlike the double-typed
TPC-H corpus in plans/).

Scale notes: every query is fact-scan → (broadcast dim join) → hash agg;
no global sorts except final top-k (TakeOrderedAndProject), no windows
over unpartitioned fact data (the share-of-total window in delay buckets
runs over the aggregated bucket rows, and the rolling-OTP window is
partitioned by airline over per-day rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _pct(num, den) -> F.Column:
    return num.cast("double") * 100.0 / den


def _cnt_if(cond) -> F.Column:
    return F.sum(F.when(cond, 1).otherwise(0))


def _with_airline(fact: DataFrame, dim_airline: DataFrame) -> DataFrame:
    return fact.join(F.broadcast(dim_airline.select("airline_sk", "airline")), "airline_sk")


# --- 03_gold_flight_analytics ----------------------------------------------

def route_traffic(fact: DataFrame, dim_airport: DataFrame) -> DataFrame:
    """A1/J3: per-route traffic with role-playing airport dim
    (``03_gold_flight_analytics.ipynb:113-127``)."""
    origin = F.broadcast(
        dim_airport.select(
            F.col("airport_sk").alias("origin_airport_sk"),
            F.col("iata_code").alias("origin_code"),
        )
    )
    dest = F.broadcast(
        dim_airport.select(
            F.col("airport_sk").alias("destination_airport_sk"),
            F.col("iata_code").alias("dest_code"),
        )
    )
    return (
        fact.groupBy("origin_airport_sk", "destination_airport_sk")
        .agg(
            F.count(F.lit(1)).alias("total_flights"),
            F.countDistinct("airline_sk").alias("airlines_on_route"),
            F.countDistinct("tail_number").alias("unique_aircraft"),
            F.avg("departure_delay").alias("avg_departure_delay"),
            F.avg("arrival_delay").alias("avg_arrival_delay"),
        )
        .join(origin, "origin_airport_sk")
        .join(dest, "destination_airport_sk")
    )


def top_routes(fact: DataFrame, dim_airport: DataFrame, k: int = 10) -> DataFrame:
    """O3: top-k busiest routes, tie-broken for determinism
    (``03_gold_flight_analytics.ipynb:140-141``)."""
    return top_routes_from_traffic(route_traffic(fact, dim_airport), k)


def airline_operational_summary(fact: DataFrame, dim_airline: DataFrame) -> DataFrame:
    """A2/A3: cancelled/diverted/delayed conditional counts + rates
    (``03_gold_flight_analytics.ipynb:173-181``)."""
    n = F.count(F.lit(1))
    return (
        _with_airline(fact, dim_airline)
        .groupBy("airline_sk", "airline")
        .agg(
            n.alias("total_flights"),
            _cnt_if(F.col("cancelled") == 1).alias("cancelled_flights"),
            _cnt_if(F.col("diverted") == 1).alias("diverted_flights"),
            _cnt_if(F.col("departure_delay") > 15).alias("delayed_departures"),
            _pct(_cnt_if(F.col("cancelled") == 1), n).alias("cancellation_rate_pct"),
            _pct(_cnt_if(F.col("departure_delay") > 15), n).alias("delay_rate_pct"),
            _pct(_cnt_if(F.col("arrival_delay") <= 0), n).alias("on_time_rate_pct"),
        )
    )


# --- 01 daily / weekly / monthly -------------------------------------------

def daily_flight_summary(fact: DataFrame, dim_date: DataFrame, dim_airline: DataFrame) -> DataFrame:
    """A4 (``03_gold_unikargo_01_daily_analytics.ipynb:68-79``)."""
    dd = F.broadcast(dim_date.select("date_sk", "full_date"))
    return (
        _with_airline(fact.join(dd, "date_sk"), dim_airline)
        .groupBy("full_date", "airline")
        .agg(
            F.count(F.lit(1)).alias("total_flights"),
            F.avg("departure_delay").alias("avg_departure_delay"),
            F.avg("arrival_delay").alias("avg_arrival_delay"),
            _cnt_if(F.col("cancelled") == 1).alias("cancelled_flights"),
            _cnt_if(F.col("arrival_delay") <= 0).alias("on_time_flights"),
        )
    )


def weekly_flight_summary(fact: DataFrame, dim_date: DataFrame, dim_airline: DataFrame) -> DataFrame:
    """A5: week-of-year key + max/min/stddev
    (``03_gold_unikargo_01_daily_analytics.ipynb:103-110``)."""
    dd = F.broadcast(dim_date.select("date_sk", "full_date", "year"))
    return (
        _with_airline(fact.join(dd, "date_sk"), dim_airline)
        .groupBy("year", F.weekofyear("full_date").alias("week_of_year"), "airline")
        .agg(
            F.count(F.lit(1)).alias("total_flights"),
            F.max("departure_delay").alias("max_departure_delay"),
            F.min("departure_delay").alias("min_departure_delay"),
            F.stddev("departure_delay").alias("stddev_departure_delay"),
        )
    )


def monthly_flight_trends(fact: DataFrame, dim_date: DataFrame, dim_airline: DataFrame) -> DataFrame:
    """A6 (``03_gold_unikargo_01_daily_analytics.ipynb:135-141``)."""
    dd = F.broadcast(dim_date.select("date_sk", "year", "month"))
    return (
        _with_airline(fact.join(dd, "date_sk"), dim_airline)
        .groupBy("year", "month", "airline")
        .agg(
            F.count(F.lit(1)).alias("total_flights"),
            F.avg("arrival_delay").alias("avg_arrival_delay"),
            F.sum("elapsed_time").alias("total_elapsed_time"),
        )
    )


# --- 02 airline performance -------------------------------------------------

def airline_scorecard(fact: DataFrame, dim_airline: DataFrame) -> DataFrame:
    """A7: the 11-aggregate scorecard
    (``03_gold_unikargo_02_airline_performance.ipynb:69-82``)."""
    n = F.count(F.lit(1))
    return (
        fact.join(
            F.broadcast(dim_airline.select("airline_sk", "iata_code", "airline")),
            "airline_sk",
        )
        .groupBy("airline", "iata_code")
        .agg(
            n.alias("total_flights"),
            F.avg("departure_delay").alias("avg_departure_delay"),
            F.avg("arrival_delay").alias("avg_arrival_delay"),
            F.avg("distance").alias("avg_distance"),
            F.sum("distance").alias("total_distance"),
            F.avg("air_time").alias("avg_air_time"),
            F.avg("taxi_out").alias("avg_taxi_out"),
            F.avg("taxi_in").alias("avg_taxi_in"),
            _pct(_cnt_if(F.col("cancelled") == 1), n).alias("cancellation_rate_pct"),
            _pct(_cnt_if(F.col("arrival_delay") <= 0), n).alias("on_time_rate_pct"),
            F.countDistinct("tail_number").alias("fleet_size"),
        )
    )


def airline_day_of_week(fact: DataFrame, dim_date: DataFrame, dim_airline: DataFrame) -> DataFrame:
    """J6/A-family: airline × day-of-week grid
    (``03_gold_unikargo_02_airline_performance.ipynb:120-129``).  The fact
    carries day_of_week/day_name as degenerate date attributes (like the
    reference's fact projection), so no dim_date join is needed — the dim
    is accepted for signature parity with the reference's aliased-join
    variant but the carried columns win."""
    del dim_date
    return (
        _with_airline(fact, dim_airline)
        .groupBy("airline", "day_of_week", "day_name")
        .agg(
            F.count(F.lit(1)).alias("total_flights"),
            F.avg("departure_delay").alias("avg_departure_delay"),
        )
    )


# --- 03 route analytics ------------------------------------------------------

def significant_routes(fact: DataFrame, dim_airport: DataFrame, floor: int = 100) -> DataFrame:
    """A1+P7: routes over the significance floor
    (``03_gold_unikargo_03_route_analytics.ipynb:80-114``)."""
    return significant_routes_from_traffic(route_traffic(fact, dim_airport), floor)


def busiest_routes(fact: DataFrame, dim_airport: DataFrame, k: int = 50) -> DataFrame:
    """O3 (``03_gold_unikargo_03_route_analytics.ipynb:130-131``)."""
    return top_routes(fact, dim_airport, k)


# --- 04 airport analytics ----------------------------------------------------

def airport_traffic(fact: DataFrame, dim_airport: DataFrame) -> DataFrame:
    """A8: in/out degree per airport
    (``03_gold_unikargo_04_airport_analytics.ipynb:66-108``)."""
    out_stats = (
        fact.groupBy(F.col("origin_airport_sk").alias("airport_sk"))
        .agg(
            F.count(F.lit(1)).alias("departures"),
            F.countDistinct("destination_airport_sk").alias("destinations_served"),
            F.avg("departure_delay").alias("avg_departure_delay"),
        )
    )
    in_stats = (
        fact.groupBy(F.col("destination_airport_sk").alias("airport_sk"))
        .agg(
            F.count(F.lit(1)).alias("arrivals"),
            F.countDistinct("origin_airport_sk").alias("origins_served"),
            F.avg("arrival_delay").alias("avg_arrival_delay"),
        )
    )
    ap = F.broadcast(dim_airport.select("airport_sk", "iata_code", "city", "state"))
    return (
        out_stats.join(in_stats, "airport_sk", "full")
        .join(ap, "airport_sk")
    )


# --- 05 time-based -----------------------------------------------------------

# Column-expression builders are functions, not module constants: building
# a Column requires an active SparkContext, and users import this module
# before creating their session.
def _season() -> F.Column:
    return (
        F.when(F.col("month").isin(12, 1, 2), "Winter")
        .when(F.col("month").isin(3, 4, 5), "Spring")
        .when(F.col("month").isin(6, 7, 8), "Summer")
        .otherwise("Fall")
    )


def _season_order() -> F.Column:
    return (
        F.when(F.col("season") == "Winter", 1)
        .when(F.col("season") == "Spring", 2)
        .when(F.col("season") == "Summer", 3)
        .otherwise(4)
    )


def seasonal_flight_summary(fact: DataFrame, dim_date: DataFrame) -> DataFrame:
    """A9 + O2 (``03_gold_unikargo_05_time_based_analytics.ipynb:67-86``)."""
    dd = F.broadcast(dim_date.select("date_sk", "year", "month"))
    return (
        fact.join(dd, "date_sk")
        .withColumn("season", _season())
        .groupBy("year", "season")
        .agg(
            F.count(F.lit(1)).alias("total_flights"),
            F.avg("departure_delay").alias("avg_departure_delay"),
            _cnt_if(F.col("cancelled") == 1).alias("cancelled_flights"),
        )
        .orderBy("year", _season_order())
    )


def weekend_weekday_split(fact: DataFrame, dim_date: DataFrame, dim_airline: DataFrame) -> DataFrame:
    """A10 (``03_gold_unikargo_05_time_based_analytics.ipynb:108-118``)."""
    dd = F.broadcast(dim_date.select("date_sk", "is_weekend"))
    return (
        _with_airline(fact.join(dd, "date_sk"), dim_airline)
        .groupBy("airline", "is_weekend")
        .agg(
            F.count(F.lit(1)).alias("total_flights"),
            F.avg("departure_delay").alias("avg_departure_delay"),
        )
        .withColumn("day_type", F.when(F.col("is_weekend") == 1, "Weekend").otherwise("Weekday"))
    )


def quarterly_flight_summary(fact: DataFrame, dim_date: DataFrame, dim_airline: DataFrame) -> DataFrame:
    """A11 (``03_gold_unikargo_05_time_based_analytics.ipynb:140-149``)."""
    dd = F.broadcast(dim_date.select("date_sk", "year", "quarter"))
    return (
        _with_airline(fact.join(dd, "date_sk"), dim_airline)
        .groupBy("year", "quarter", "airline")
        .agg(
            F.count(F.lit(1)).alias("total_flights"),
            F.avg("arrival_delay").alias("avg_arrival_delay"),
        )
    )


# --- 06 delay analytics ------------------------------------------------------

def _delay_bucket() -> F.Column:
    return (
        F.when(F.col("departure_delay") <= 0, "on_time")
        .when(F.col("departure_delay") <= 15, "minor_0_15")
        .when(F.col("departure_delay") <= 60, "moderate_16_60")
        .when(F.col("departure_delay") <= 180, "severe_61_180")
        .otherwise("extreme_180_plus")
    )


def delay_distribution(fact: DataFrame) -> DataFrame:
    """A12 + W4: delay histogram with share-of-total
    (``03_gold_unikargo_06_delay_analytics.ipynb:67-81``).  The empty-
    partition window runs over ≤5 aggregated rows — safe at any scale."""
    agg = (
        fact.filter(F.col("departure_delay").isNotNull())
        .withColumn("delay_category", _delay_bucket())
        .groupBy("delay_category")
        .agg(
            F.count(F.lit(1)).alias("flight_count"),
            F.avg("arrival_delay").alias("avg_arrival_delay"),
        )
    )
    return agg.withColumn(
        "pct_of_all_flights",
        _pct(F.col("flight_count"), F.sum("flight_count").over(Window.partitionBy())),
    )


def flight_efficiency(fact: DataFrame, dim_airline: DataFrame) -> DataFrame:
    """A14: computed-measure efficiency agg
    (``03_gold_unikargo_06_delay_analytics.ipynb:101-114``)."""
    return (
        _with_airline(fact, dim_airline)
        .withColumn("schedule_variance", F.col("elapsed_time") - F.col("scheduled_time"))
        .withColumn("ground_time", F.col("taxi_out") + F.col("taxi_in"))
        .groupBy("airline")
        .agg(
            F.avg("schedule_variance").alias("avg_schedule_variance"),
            F.avg("ground_time").alias("avg_ground_time"),
            F.avg("air_time").alias("avg_air_time"),
            F.count(F.lit(1)).alias("total_flights"),
        )
    )


# --- 07 operational efficiency ----------------------------------------------

def aircraft_utilization(fact: DataFrame, dim_date: DataFrame, dim_airline: DataFrame) -> DataFrame:
    """A13: two-level agg — flights/aircraft/day then per airline
    (``03_gold_unikargo_07_operational_efficiency_analytics.ipynb:68-77``)."""
    dd = F.broadcast(dim_date.select("date_sk", "full_date"))
    per_day = (
        _with_airline(fact.join(dd, "date_sk"), dim_airline)
        .filter(F.col("tail_number").isNotNull())
        .groupBy("full_date", "airline", "tail_number")
        .agg(F.count(F.lit(1)).alias("flights_per_day"))
    )
    return per_day.groupBy("airline").agg(
        F.avg("flights_per_day").alias("avg_flights_per_aircraft_day"),
        F.max("flights_per_day").alias("max_flights_per_aircraft_day"),
        F.countDistinct("tail_number").alias("active_aircraft"),
    )


def rolling_on_time_performance(
    fact: DataFrame, dim_date: DataFrame, dim_airline: DataFrame
) -> DataFrame:
    """W3: 7-day rolling OTP per airline
    (``03_gold_unikargo_07_operational_efficiency_analytics.ipynb:98-108``).
    Window over per-(airline, day) aggregates — state is 7 rows per
    airline, partition-parallel."""
    dd = F.broadcast(dim_date.select("date_sk", "full_date"))
    daily = (
        _with_airline(fact.join(dd, "date_sk"), dim_airline)
        .groupBy("airline", "full_date")
        .agg(
            F.count(F.lit(1)).alias("total_flights"),
            _cnt_if(F.col("arrival_delay") <= 0).alias("on_time_flights"),
        )
        .withColumn("daily_otp", _pct(F.col("on_time_flights"), F.col("total_flights")))
    )
    w = Window.partitionBy("airline").orderBy("full_date").rowsBetween(-6, Window.currentRow)
    return daily.withColumn("rolling_7d_otp", F.avg("daily_otp").over(w))


def flight_number_performance(fact: DataFrame, dim_airline: DataFrame, floor: int = 50) -> DataFrame:
    """P7 floor + agg (``...07_operational...ipynb:141``)."""
    return (
        _with_airline(fact, dim_airline)
        .groupBy("airline", "flight_number")
        .agg(
            F.count(F.lit(1)).alias("total_flights"),
            F.avg("arrival_delay").alias("avg_arrival_delay"),
            _pct(_cnt_if(F.col("arrival_delay") <= 0), F.count(F.lit(1))).alias("on_time_rate_pct"),
        )
        .filter(F.col("total_flights") >= floor)
    )


def _distance_bucket() -> F.Column:
    return (
        F.when(F.col("distance") <= 500, "short_haul")
        .when(F.col("distance") <= 1500, "medium_haul")
        .otherwise("long_haul")
    )


def distance_bucket_stats(fact: DataFrame) -> DataFrame:
    """A12 distance variant (``...07_operational...ipynb:163-177``)."""
    return (
        fact.withColumn("distance_category", _distance_bucket())
        .groupBy("distance_category")
        .agg(
            F.count(F.lit(1)).alias("total_flights"),
            F.avg("air_time").alias("avg_air_time"),
            F.avg("arrival_delay").alias("avg_arrival_delay"),
            F.avg("distance").alias("avg_distance"),
        )
    )


# --- shared-grain derivation (round-10 verdict task 6) ----------------------
#
# Eight gold tables aggregate the SAME cached fact at grains that are all
# coarsenings of (date, airline): daily/monthly/quarterly/seasonal/
# weekend/dow roll the date up, scorecard-style summaries roll it away.
# Re-scanning 2M cached fact rows once per table made the gold fan-out
# 44% of the medallion wall time (docs/PLANS.md round-9 profile).  The
# medallion driver therefore builds ONE partial-aggregate at the finest
# shared grain and derives those eight tables from ~5k grain rows each.
#
# Losslessness (the reason this is safe to enable by default): every
# fact measure involved is an INTEGER column, so
#   * counts / conditional counts re-sum exactly (long addition is
#     associative),
#   * Spark's avg over an int column keeps an internal DOUBLE sum whose
#     value is EXACT while |sum| < 2^53 (2M rows x minute-scale ints is
#     orders of magnitude below), so sum(partial long sums) equals it
#     bit-for-bit and the final division is the identical double op,
#   * stddev (weekly) and countDistinct (scorecard, utilization, route
#     family) are NOT losslessly mergeable from these partials — those
#     tables deliberately stay on the direct fact path.
# ``tests/test_medallion.py::test_grain_derived_gold_matches_direct``
# pins bitwise equality (exceptAll both ways) for every derived table.
# At 100 TB the same structure holds: one wide shuffle builds the grain
# (cardinality = |dates| x |airlines|, tiny), and every derived table
# re-aggregates the grain, not the fact.

#: grain keys: day_of_week/day_name are degenerate date attributes the
#: fact carries (functionally dependent on date_sk), included so the
#: dow split needs no extra join.
GRAIN_KEYS = ("date_sk", "day_of_week", "day_name", "airline_sk")


def build_date_airline_grain(fact: DataFrame) -> DataFrame:
    """The shared partial-aggregate all grain-derived gold tables
    re-aggregate.  One keyed shuffle over the fact; every partial is an
    exact long (see the section comment for the losslessness argument)."""
    return fact.groupBy(*GRAIN_KEYS).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("departure_delay").alias("dep_delay_sum"),
        F.count("departure_delay").alias("dep_delay_cnt"),
        F.sum("arrival_delay").alias("arr_delay_sum"),
        F.count("arrival_delay").alias("arr_delay_cnt"),
        F.sum("elapsed_time").alias("elapsed_sum"),
        _cnt_if(F.col("cancelled") == 1).alias("cancelled_cnt"),
        _cnt_if(F.col("diverted") == 1).alias("diverted_cnt"),
        _cnt_if(F.col("departure_delay") > 15).alias("delayed_dep_cnt"),
        _cnt_if(F.col("arrival_delay") <= 0).alias("on_time_cnt"),
    )


def _recount(col: str = "n") -> F.Column:
    """Merged count from partial counts, pinned NON-NULLABLE to match
    the direct builders' ``count(1)`` schema exactly (sum() alone is
    nullable; the value over a non-empty group is identical)."""
    return F.coalesce(F.sum(col), F.lit(0).cast("long"))


def _reavg(sum_col: str, cnt_col: str) -> F.Column:
    """Merged average from exact partials: NULL when the merged count is
    zero (matching Spark's avg over an all-NULL group) — the guard also
    keeps ANSI mode from raising on the 0-denominator division."""
    s, c = F.sum(sum_col), F.sum(cnt_col)
    return F.when(c > F.lit(0), s / c)


def airline_operational_summary_from_grain(grain: DataFrame, dim_airline: DataFrame) -> DataFrame:
    n = _recount("n")
    return (
        _with_airline(grain, dim_airline)
        .groupBy("airline_sk", "airline")
        .agg(
            n.alias("total_flights"),
            F.sum("cancelled_cnt").alias("cancelled_flights"),
            F.sum("diverted_cnt").alias("diverted_flights"),
            F.sum("delayed_dep_cnt").alias("delayed_departures"),
            _pct(F.sum("cancelled_cnt"), n).alias("cancellation_rate_pct"),
            _pct(F.sum("delayed_dep_cnt"), n).alias("delay_rate_pct"),
            _pct(F.sum("on_time_cnt"), n).alias("on_time_rate_pct"),
        )
    )


def daily_flight_summary_from_grain(grain: DataFrame, dim_date: DataFrame, dim_airline: DataFrame) -> DataFrame:
    dd = F.broadcast(dim_date.select("date_sk", "full_date"))
    return (
        _with_airline(grain.join(dd, "date_sk"), dim_airline)
        .groupBy("full_date", "airline")
        .agg(
            _recount("n").alias("total_flights"),
            _reavg("dep_delay_sum", "dep_delay_cnt").alias("avg_departure_delay"),
            _reavg("arr_delay_sum", "arr_delay_cnt").alias("avg_arrival_delay"),
            F.sum("cancelled_cnt").alias("cancelled_flights"),
            F.sum("on_time_cnt").alias("on_time_flights"),
        )
    )


def monthly_flight_trends_from_grain(grain: DataFrame, dim_date: DataFrame, dim_airline: DataFrame) -> DataFrame:
    dd = F.broadcast(dim_date.select("date_sk", "year", "month"))
    return (
        _with_airline(grain.join(dd, "date_sk"), dim_airline)
        .groupBy("year", "month", "airline")
        .agg(
            _recount("n").alias("total_flights"),
            _reavg("arr_delay_sum", "arr_delay_cnt").alias("avg_arrival_delay"),
            F.sum("elapsed_sum").alias("total_elapsed_time"),
        )
    )


def airline_day_of_week_from_grain(grain: DataFrame, dim_airline: DataFrame) -> DataFrame:
    return (
        _with_airline(grain, dim_airline)
        .groupBy("airline", "day_of_week", "day_name")
        .agg(
            _recount("n").alias("total_flights"),
            _reavg("dep_delay_sum", "dep_delay_cnt").alias("avg_departure_delay"),
        )
    )


def seasonal_flight_summary_from_grain(grain: DataFrame, dim_date: DataFrame) -> DataFrame:
    dd = F.broadcast(dim_date.select("date_sk", "year", "month"))
    return (
        grain.join(dd, "date_sk")
        .withColumn("season", _season())
        .groupBy("year", "season")
        .agg(
            _recount("n").alias("total_flights"),
            _reavg("dep_delay_sum", "dep_delay_cnt").alias("avg_departure_delay"),
            F.sum("cancelled_cnt").alias("cancelled_flights"),
        )
        .orderBy("year", _season_order())
    )


def weekend_weekday_split_from_grain(grain: DataFrame, dim_date: DataFrame, dim_airline: DataFrame) -> DataFrame:
    dd = F.broadcast(dim_date.select("date_sk", "is_weekend"))
    return (
        _with_airline(grain.join(dd, "date_sk"), dim_airline)
        .groupBy("airline", "is_weekend")
        .agg(
            _recount("n").alias("total_flights"),
            _reavg("dep_delay_sum", "dep_delay_cnt").alias("avg_departure_delay"),
        )
        .withColumn("day_type", F.when(F.col("is_weekend") == 1, "Weekend").otherwise("Weekday"))
    )


def quarterly_flight_summary_from_grain(grain: DataFrame, dim_date: DataFrame, dim_airline: DataFrame) -> DataFrame:
    dd = F.broadcast(dim_date.select("date_sk", "year", "quarter"))
    return (
        _with_airline(grain.join(dd, "date_sk"), dim_airline)
        .groupBy("year", "quarter", "airline")
        .agg(
            _recount("n").alias("total_flights"),
            _reavg("arr_delay_sum", "arr_delay_cnt").alias("avg_arrival_delay"),
        )
    )


def rolling_on_time_performance_from_grain(grain: DataFrame, dim_date: DataFrame, dim_airline: DataFrame) -> DataFrame:
    dd = F.broadcast(dim_date.select("date_sk", "full_date"))
    daily = (
        _with_airline(grain.join(dd, "date_sk"), dim_airline)
        .groupBy("airline", "full_date")
        .agg(
            _recount("n").alias("total_flights"),
            F.sum("on_time_cnt").alias("on_time_flights"),
        )
        .withColumn("daily_otp", _pct(F.col("on_time_flights"), F.col("total_flights")))
    )
    w = Window.partitionBy("airline").orderBy("full_date").rowsBetween(-6, Window.currentRow)
    return daily.withColumn("rolling_7d_otp", F.avg("daily_otp").over(w))


#: name → (builder over the shared grain, which dims it needs).  The
#: dim keys are ``dd`` (dates), ``da`` (airlines) and ``dp`` (airports).
#: The medallion driver uses these when a shared grain is available; the
#: direct fact builders in GOLD_SUITE remain the semantic definition
#: (and the equality oracle for the pinned test).
GRAIN_SUITE = {
    "airline_operational_summary": (airline_operational_summary_from_grain, ("da",)),
    "daily_flight_summary": (daily_flight_summary_from_grain, ("dd", "da")),
    "monthly_flight_trends": (monthly_flight_trends_from_grain, ("dd", "da")),
    "airline_day_of_week": (airline_day_of_week_from_grain, ("da",)),
    "seasonal_flight_summary": (seasonal_flight_summary_from_grain, ("dd",)),
    "weekend_weekday_split": (weekend_weekday_split_from_grain, ("dd", "da")),
    "quarterly_flight_summary": (quarterly_flight_summary_from_grain, ("dd", "da")),
    "rolling_on_time_performance": (rolling_on_time_performance_from_grain, ("dd", "da")),
}


def significant_routes_from_traffic(traffic: DataFrame, floor: int = 100) -> DataFrame:
    """``significant_routes`` derived from an already-built
    ``route_traffic`` frame (pure filter — shares the one heavy
    route aggregation instead of recomputing it)."""
    return traffic.filter(F.col("total_flights") >= floor)


def top_routes_from_traffic(traffic: DataFrame, k: int) -> DataFrame:
    """``top_routes``/``busiest_routes`` derived from an already-built
    ``route_traffic`` frame (sort + limit over route-level rows)."""
    return traffic.orderBy(
        F.col("total_flights").desc(), "origin_code", "dest_code"
    ).limit(k)


#: name → builder over the shared ``route_traffic`` frame; the
#: medallion driver uses these when several route tables share one
#: route aggregation.
ROUTE_SUITE = {
    "route_traffic": lambda traffic: traffic,
    "top_routes": lambda traffic: top_routes_from_traffic(traffic, 10),
    "significant_routes": significant_routes_from_traffic,
    "busiest_routes": lambda traffic: top_routes_from_traffic(traffic, 50),
}


#: The full gold suite, name → (direct builder over the fact, which dims
#: it needs, as in GRAIN_SUITE); mirrors the reference's 15 gold tables
#: (plus route helpers).  pipelines/medallion.py materializes these, and
#: this table is the one place each gold table's inputs are declared.
GOLD_SUITE = {
    "route_traffic": (route_traffic, ("dp",)),
    "top_routes": (top_routes, ("dp",)),
    "airline_operational_summary": (airline_operational_summary, ("da",)),
    "daily_flight_summary": (daily_flight_summary, ("dd", "da")),
    "weekly_flight_summary": (weekly_flight_summary, ("dd", "da")),
    "monthly_flight_trends": (monthly_flight_trends, ("dd", "da")),
    "airline_scorecard": (airline_scorecard, ("da",)),
    "airline_day_of_week": (airline_day_of_week, ("dd", "da")),
    "significant_routes": (significant_routes, ("dp",)),
    "busiest_routes": (busiest_routes, ("dp",)),
    "airport_traffic": (airport_traffic, ("dp",)),
    "seasonal_flight_summary": (seasonal_flight_summary, ("dd",)),
    "weekend_weekday_split": (weekend_weekday_split, ("dd", "da")),
    "quarterly_flight_summary": (quarterly_flight_summary, ("dd", "da")),
    "delay_distribution": (delay_distribution, ()),
    "flight_efficiency": (flight_efficiency, ("da",)),
    "aircraft_utilization": (aircraft_utilization, ("dd", "da")),
    "rolling_on_time_performance": (rolling_on_time_performance, ("dd", "da")),
    "flight_number_performance": (flight_number_performance, ("da",)),
    "distance_bucket_stats": (distance_bucket_stats, ()),
}
