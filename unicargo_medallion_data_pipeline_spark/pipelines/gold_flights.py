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

Eight (date, airline) rollups are declared once as ``Rollup`` specs and
three route tables as ``RouteTable`` steps over ``route_traffic``; see
the declarations section below.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _pct(num, den) -> F.Column:
    return num.cast("double") * 100.0 / den


def _cnt_if(cond) -> F.Column:
    return F.sum(F.when(cond, 1).otherwise(0))


def _with_airline(fact: DataFrame, dim_airline: DataFrame) -> DataFrame:
    return fact.join(F.broadcast(dim_airline.select("airline_sk", "airline")), "airline_sk")


# --- declarations: one spec per rollup, two lowerings -----------------------
#
# Eight gold tables group the same fact at coarsenings of (date, airline):
# daily/monthly/quarterly/seasonal/weekend/dow roll the date up, the
# operational summary rolls it away.  Each is one ``Rollup``: the dim
# columns it joins, its group keys and its ``Measure``s.  A rollup lowers
# two ways, the view lattice of Gray et al., *Data Cube* (ICDE 1996) and
# Harinarayan et al., *Implementing Data Cubes Efficiently* (SIGMOD 1996):
#   * ``rollup(fact, *dims)`` aggregates fact rows with each measure's
#     ``fact()`` expression (the catalog queries, and the equality oracle);
#   * ``rollup.from_grain(grain, *dims)`` re-aggregates the partial that
#     ``build_grain`` computes at GRAIN_KEYS with each measure's
#     ``merge()`` (the medallion driver: ~|dates| x |airlines| grain rows
#     per table instead of one fact scan per table).
# The grain carries the union of its rollups' ``parts``, nothing more.
#
# Losslessness: every fact measure involved is an INTEGER column, so
#   * counts, conditional counts and sums re-sum exactly (long addition
#     is associative),
#   * Spark's avg over an int column keeps an internal DOUBLE sum whose
#     value is EXACT while |sum| < 2^53 (2M rows x minute-scale ints is
#     orders of magnitude below), so sum(partial long sums) equals it
#     bit-for-bit and the final division is the identical double op,
#   * stddev (weekly) and countDistinct (scorecard, utilization, route
#     family) are NOT mergeable from such partials: those tables stay
#     plain fact builders, and the route tables share ``route_traffic``.
# ``tests/test_medallion.py::test_grain_derived_gold_matches_direct``
# pins bitwise equality of the two lowerings (schema, exceptAll both ways).

#: grain keys: day_of_week/day_name are degenerate date attributes the
#: fact carries (functionally dependent on date_sk), included so the
#: dow split needs no extra join.
GRAIN_KEYS = ("date_sk", "day_of_week", "day_name", "airline_sk")


@dataclass(frozen=True)
class Measure:
    """One rollup measure: ``fact()`` aggregates fact rows, ``parts`` are
    the named exact partials it needs at the grain, and ``merge()``
    re-aggregates those partials over grain rows.  Columns are built on
    call, not at import: building one needs an active SparkContext."""

    fact: Callable[[], F.Column]
    parts: tuple[tuple[str, Callable[[], F.Column]], ...]
    merge: Callable[[], F.Column]

    @staticmethod
    def count() -> Measure:
        def n() -> F.Column:
            return F.count(F.lit(1))

        # coalesce pins the merged count NON-NULLABLE, like count(1); sum()
        # alone is nullable, and its value over a non-empty group is the same.
        return Measure(n, (("n", n),), lambda: F.coalesce(F.sum("n"), F.lit(0).cast("long")))

    @staticmethod
    def sum(col: str) -> Measure:
        def total() -> F.Column:
            return F.sum(col)

        return Measure(total, ((f"sum_{col}", total),), lambda: F.sum(f"sum_{col}"))

    @staticmethod
    def avg(col: str) -> Measure:
        total, nonnull = f"sum_{col}", f"nonnull_{col}"

        # NULL when the merged count is zero, like avg over an all-NULL
        # group; the guard also keeps ANSI mode from raising on 0 / 0.
        def merge() -> F.Column:
            s, c = F.sum(total), F.sum(nonnull)
            return F.when(c > F.lit(0), s / c)

        parts = ((total, lambda: F.sum(col)), (nonnull, lambda: F.count(col)))
        return Measure(lambda: F.avg(col), parts, merge)

    @staticmethod
    def count_if(tag: str, cond: Callable[[], F.Column]) -> Measure:
        def hits() -> F.Column:
            return _cnt_if(cond())

        return Measure(hits, ((f"if_{tag}", hits),), lambda: F.sum(f"if_{tag}"))

    @staticmethod
    def rate(tag: str, cond: Callable[[], F.Column]) -> Measure:
        hits, n = Measure.count_if(tag, cond), Measure.count()
        return Measure(
            lambda: _pct(hits.fact(), n.fact()),
            hits.parts + n.parts,
            lambda: _pct(hits.merge(), n.merge()),
        )


@dataclass(frozen=True, kw_only=True)
class Rollup:
    """One (date, airline) rollup.  Either lowering joins ``dim_date``'s
    ``dates`` columns (if any) and then the airline name (if
    ``airline``), taking those dims positionally in that order, applies
    ``derive``, groups by ``keys``, aggregates ``measures`` in output
    order and applies ``post``."""

    dates: tuple[str, ...] = ()
    airline: bool = False
    derive: Callable[[DataFrame], DataFrame] | None = None
    keys: tuple[str, ...]
    measures: tuple[tuple[str, Measure], ...]
    post: Callable[[DataFrame], DataFrame] | None = None

    def __call__(self, fact: DataFrame, *dims: DataFrame) -> DataFrame:
        return self._lower(fact, dims, [m.fact().alias(name) for name, m in self.measures])

    def from_grain(self, grain: DataFrame, *dims: DataFrame) -> DataFrame:
        return self._lower(grain, dims, [m.merge().alias(name) for name, m in self.measures])

    def _lower(self, rows: DataFrame, dims, aggs: list[F.Column]) -> DataFrame:
        dims = list(dims)
        if self.dates:
            rows = rows.join(F.broadcast(dims.pop(0).select("date_sk", *self.dates)), "date_sk")
        if self.airline:
            rows = _with_airline(rows, dims.pop(0))
        if self.derive is not None:
            rows = self.derive(rows)
        out = rows.groupBy(*self.keys).agg(*aggs)
        return out if self.post is None else self.post(out)


def build_grain(fact: DataFrame, rollups: list[Rollup]) -> DataFrame:
    """The partial aggregate at GRAIN_KEYS that ``Rollup.from_grain``
    re-aggregates: one keyed shuffle over the fact, carrying the union
    of the given rollups' ``parts`` (each an exact long)."""
    parts = {name: col for r in rollups for _, m in r.measures for name, col in m.parts}
    return fact.groupBy(*GRAIN_KEYS).agg(*[col().alias(name) for name, col in parts.items()])


@dataclass(frozen=True)
class RouteTable:
    """A route table that is a route-level ``step`` (filter or top-k)
    over ``route_traffic``.  Called on ``(fact, dim_airport)`` it applies
    ``step`` to a fresh aggregation; the medallion driver applies it to
    the one shared traffic frame."""

    step: Callable[..., DataFrame]

    def __call__(self, fact: DataFrame, dim_airport: DataFrame, **params) -> DataFrame:
        return self.step(route_traffic(fact, dim_airport), **params)


def _cancelled() -> F.Column:
    return F.col("cancelled") == 1


def _diverted() -> F.Column:
    return F.col("diverted") == 1


def _delayed_departure() -> F.Column:
    return F.col("departure_delay") > 15


def _on_time() -> F.Column:
    return F.col("arrival_delay") <= 0


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


def _top_k(traffic: DataFrame, k: int) -> DataFrame:
    return traffic.orderBy(F.col("total_flights").desc(), "origin_code", "dest_code").limit(k)


#: O3: top-k busiest routes, tie-broken for determinism
#: (``03_gold_flight_analytics.ipynb:140-141``).
top_routes = RouteTable(lambda traffic, k=10: _top_k(traffic, k))

#: A2/A3: cancelled/diverted/delayed conditional counts + rates
#: (``03_gold_flight_analytics.ipynb:173-181``).
airline_operational_summary = Rollup(
    airline=True,
    keys=("airline_sk", "airline"),
    measures=(
        ("total_flights", Measure.count()),
        ("cancelled_flights", Measure.count_if("cancelled", _cancelled)),
        ("diverted_flights", Measure.count_if("diverted", _diverted)),
        ("delayed_departures", Measure.count_if("delayed_departure", _delayed_departure)),
        ("cancellation_rate_pct", Measure.rate("cancelled", _cancelled)),
        ("delay_rate_pct", Measure.rate("delayed_departure", _delayed_departure)),
        ("on_time_rate_pct", Measure.rate("on_time", _on_time)),
    ),
)


# --- 01 daily / weekly / monthly -------------------------------------------

#: A4 (``03_gold_unikargo_01_daily_analytics.ipynb:68-79``).
daily_flight_summary = Rollup(
    dates=("full_date",),
    airline=True,
    keys=("full_date", "airline"),
    measures=(
        ("total_flights", Measure.count()),
        ("avg_departure_delay", Measure.avg("departure_delay")),
        ("avg_arrival_delay", Measure.avg("arrival_delay")),
        ("cancelled_flights", Measure.count_if("cancelled", _cancelled)),
        ("on_time_flights", Measure.count_if("on_time", _on_time)),
    ),
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


#: A6 (``03_gold_unikargo_01_daily_analytics.ipynb:135-141``).
monthly_flight_trends = Rollup(
    dates=("year", "month"),
    airline=True,
    keys=("year", "month", "airline"),
    measures=(
        ("total_flights", Measure.count()),
        ("avg_arrival_delay", Measure.avg("arrival_delay")),
        ("total_elapsed_time", Measure.sum("elapsed_time")),
    ),
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


#: J6/A-family: airline × day-of-week grid
#: (``03_gold_unikargo_02_airline_performance.ipynb:120-129``).  The fact
#: carries day_of_week/day_name as degenerate date attributes (like the
#: reference's fact projection), so no dim_date join is needed.
airline_day_of_week = Rollup(
    airline=True,
    keys=("airline", "day_of_week", "day_name"),
    measures=(
        ("total_flights", Measure.count()),
        ("avg_departure_delay", Measure.avg("departure_delay")),
    ),
)


# --- 03 route analytics ------------------------------------------------------

#: A1+P7: routes over the significance floor
#: (``03_gold_unikargo_03_route_analytics.ipynb:80-114``).
significant_routes = RouteTable(
    lambda traffic, floor=100: traffic.filter(F.col("total_flights") >= floor)
)

#: O3 (``03_gold_unikargo_03_route_analytics.ipynb:130-131``).
busiest_routes = RouteTable(lambda traffic, k=50: _top_k(traffic, k))


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


#: A9 + O2 (``03_gold_unikargo_05_time_based_analytics.ipynb:67-86``).
seasonal_flight_summary = Rollup(
    dates=("year", "month"),
    derive=lambda rows: rows.withColumn("season", _season()),
    keys=("year", "season"),
    measures=(
        ("total_flights", Measure.count()),
        ("avg_departure_delay", Measure.avg("departure_delay")),
        ("cancelled_flights", Measure.count_if("cancelled", _cancelled)),
    ),
    post=lambda out: out.orderBy("year", _season_order()),
)

#: A10 (``03_gold_unikargo_05_time_based_analytics.ipynb:108-118``).
weekend_weekday_split = Rollup(
    dates=("is_weekend",),
    airline=True,
    keys=("airline", "is_weekend"),
    measures=(
        ("total_flights", Measure.count()),
        ("avg_departure_delay", Measure.avg("departure_delay")),
    ),
    post=lambda out: out.withColumn(
        "day_type", F.when(F.col("is_weekend") == 1, "Weekend").otherwise("Weekday")
    ),
)

#: A11 (``03_gold_unikargo_05_time_based_analytics.ipynb:140-149``).
quarterly_flight_summary = Rollup(
    dates=("year", "quarter"),
    airline=True,
    keys=("year", "quarter", "airline"),
    measures=(
        ("total_flights", Measure.count()),
        ("avg_arrival_delay", Measure.avg("arrival_delay")),
    ),
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


def _rolling_otp(daily: DataFrame) -> DataFrame:
    w = Window.partitionBy("airline").orderBy("full_date").rowsBetween(-6, Window.currentRow)
    return daily.withColumn(
        "daily_otp", _pct(F.col("on_time_flights"), F.col("total_flights"))
    ).withColumn("rolling_7d_otp", F.avg("daily_otp").over(w))


#: W3: 7-day rolling OTP per airline
#: (``03_gold_unikargo_07_operational_efficiency_analytics.ipynb:98-108``).
#: Window over per-(airline, day) aggregates — state is 7 rows per
#: airline, partition-parallel.
rolling_on_time_performance = Rollup(
    dates=("full_date",),
    airline=True,
    keys=("airline", "full_date"),
    measures=(
        ("total_flights", Measure.count()),
        ("on_time_flights", Measure.count_if("on_time", _on_time)),
    ),
    post=_rolling_otp,
)


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


#: The full gold suite: name → (declaration, dim keys), mirroring the
#: reference's 15 gold tables (plus route helpers).  The dim keys are
#: ``dd`` (dim_date), ``da`` (dim_airline) and ``dp`` (dim_airport), passed
#: after the fact in that order.  A declaration is a ``Rollup``, a
#: ``RouteTable`` or a plain fact builder, and calling it lowers it over
#: the fact.  pipelines/medallion.py materializes the suite and dispatches
#: on the type: rollups read one shared grain, route tables one shared
#: ``route_traffic`` frame, everything else the fact.
GOLD_SUITE = {
    "route_traffic": (RouteTable(lambda traffic: traffic), ("dp",)),
    "top_routes": (top_routes, ("dp",)),
    "airline_operational_summary": (airline_operational_summary, ("da",)),
    "daily_flight_summary": (daily_flight_summary, ("dd", "da")),
    "weekly_flight_summary": (weekly_flight_summary, ("dd", "da")),
    "monthly_flight_trends": (monthly_flight_trends, ("dd", "da")),
    "airline_scorecard": (airline_scorecard, ("da",)),
    "airline_day_of_week": (airline_day_of_week, ("da",)),
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
