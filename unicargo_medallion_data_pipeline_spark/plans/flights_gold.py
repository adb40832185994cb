"""Flight-domain gold queries under the driver's DuckDB oracle.

Until round 4 the reference's OWN domain — the 15 gold flight analytics
(``NB_GOLD/03_gold_*.ipynb``), mirrored by ``pipelines/gold_flights.py``
— was verified only by pytest on tiny fixtures while the hash gate ran
exclusively on the TPC-H-ish analogues.  These entries close that gap:
each one drives the REAL silver build (``pipelines/silver.py`` —
canonical dedup, try_to_date null-handling, star join) over the
deterministic FIXTURES.md tables (``sources/flights_fixture.py``,
committed parquet both engines read), then a gold builder, and
hash-compares against DuckDB SQL that re-derives the same silver model.

Bitwise-determinism notes (why these three compare exactly):

* every flight measure is an INTEGER, so sums are exact in any engine
  at any parallelism and ``avg = exact_sum / count`` is a single IEEE
  division — no DECIMAL routing needed (``pipelines/gold_flights.py``
  module note);
* surrogate keys are single-partition ``row_number`` over the deduped
  natural key (dim-sized by construction), reproduced in SQL as
  ``ROW_NUMBER() OVER (ORDER BY iata_code)``;
* canonical_dedup's tiebreak (``scheduled_departure, tail_number``) is
  mirrored with explicit ``NULLS FIRST`` (Spark's asc default; DuckDB
  defaults to NULLS LAST);
* the rolling-OTP entry uses the flight-WEIGHTED 7-day rate
  (``100·Σ7(on_time)/Σ7(flights)`` — integer window sums, one final
  division) rather than the reference notebook's avg-of-daily-rates
  (``03_gold_unikargo_07...ipynb:98-108``, kept verbatim in
  ``gold_flights.rolling_on_time_performance`` under pytest): a
  windowed AVG over arbitrary doubles is summation-order-dependent
  (DuckDB's segment-tree window combine vs Spark's sequential frame
  scan), while the weighted form is exact — and it is the
  operationally-correct rate (days with 1 flight no longer count as
  much as days with 100).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from unicargo_medallion_data_pipeline_spark.pipelines import gold_flights as G
from unicargo_medallion_data_pipeline_spark.pipelines.silver import (
    build_dim_airline,
    build_dim_airport,
    build_dim_date,
    build_fact_flight,
    clean_flights,
)
from unicargo_medallion_data_pipeline_spark.plans.catalog import register
from unicargo_medallion_data_pipeline_spark.session import session_state
from unicargo_medallion_data_pipeline_spark.sources.flights_fixture import (
    FIXTURE_DIR,
    ensure_flights_fixture,
)


def _silver(spark: SparkSession):
    """Fixture parquet → silver star schema (the real pipeline path),
    built once per session.

    The medallion contract materializes silver ONCE and serves every
    gold query from it — rebuilding the star per query was a
    bench/correctness-harness artifact (r5 verdict).  Frames are pinned
    with an eager localCheckpoint so reuse hits materialized blocks, not
    a shared lazy DAG, and memoized in ``session_state(spark)``, so they
    die with their session."""
    state = session_state(spark)
    if "flights_silver" in state:
        return state["flights_silver"]
    paths = ensure_flights_fixture()
    dim_airline = build_dim_airline(
        spark.read.parquet(paths["airlines"])
    ).localCheckpoint(eager=True)
    dim_airport = build_dim_airport(
        spark.read.parquet(paths["airports"])
    ).localCheckpoint(eager=True)
    dim_date = build_dim_date(spark, "2015-01-01", "2015-12-31").localCheckpoint(
        eager=True
    )
    fact = build_fact_flight(
        clean_flights(spark.read.parquet(paths["flights"])),
        dim_date,
        dim_airline,
        dim_airport,
    ).localCheckpoint(eager=True)
    state["flights_silver"] = (fact, dim_airline, dim_airport, dim_date)
    return state["flights_silver"]


# Shared oracle prelude re-deriving the silver model in DuckDB SQL.
# NULLS FIRST mirrors Spark's ascending-null ordering; try_strptime
# mirrors try_to_date's calendar-invalid → NULL behavior (both verified
# to reject Feb 30 / Apr 31 and accept Jan 29 identically).
_PRELUDE = f"""
WITH al AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY iata_code) AS INTEGER) AS airline_sk,
         iata_code, airline
  FROM (
    SELECT iata_code, airline,
           ROW_NUMBER() OVER (PARTITION BY iata_code
                              ORDER BY airline ASC NULLS FIRST) AS dup_rn
    FROM read_parquet('{FIXTURE_DIR}/airlines.parquet')
    WHERE iata_code IS NOT NULL
  ) WHERE dup_rn = 1
),
ap AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY iata_code) AS INTEGER) AS airport_sk,
         iata_code, city, state
  FROM (
    SELECT iata_code, city, state,
           ROW_NUMBER() OVER (PARTITION BY iata_code
                              ORDER BY airline ASC NULLS FIRST,
                                       city ASC NULLS FIRST,
                                       state ASC NULLS FIRST,
                                       country ASC NULLS FIRST,
                                       latitude ASC NULLS FIRST,
                                       longitude ASC NULLS FIRST) AS dup_rn
    FROM read_parquet('{FIXTURE_DIR}/airports.parquet')
    WHERE iata_code IS NOT NULL
  ) WHERE dup_rn = 1
),
fl AS (
  SELECT * FROM (
    -- Tie-break is a TOTAL order (mirrors clean_flights): the
    -- reference pair leads, every remaining column follows, so
    -- key-duplicates that tie on (scheduled_departure, tail_number)
    -- with divergent measures keep an engine-independent survivor.
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY flight_number, flight_date, origin_airport, destination_airport
        ORDER BY scheduled_departure ASC NULLS FIRST,
                 tail_number ASC NULLS FIRST,
                 year ASC NULLS FIRST, month ASC NULLS FIRST,
                 day ASC NULLS FIRST, day_of_week ASC NULLS FIRST,
                 airline ASC NULLS FIRST,
                 departure_time ASC NULLS FIRST,
                 departure_delay ASC NULLS FIRST,
                 taxi_out ASC NULLS FIRST, wheels_off ASC NULLS FIRST,
                 scheduled_time ASC NULLS FIRST,
                 elapsed_time ASC NULLS FIRST, air_time ASC NULLS FIRST,
                 distance ASC NULLS FIRST, wheels_on ASC NULLS FIRST,
                 taxi_in ASC NULLS FIRST,
                 scheduled_arrival ASC NULLS FIRST,
                 arrival_time ASC NULLS FIRST,
                 arrival_delay ASC NULLS FIRST,
                 diverted ASC NULLS FIRST, cancelled ASC NULLS FIRST,
                 cancellation_reason ASC NULLS FIRST,
                 air_system_delay ASC NULLS FIRST,
                 security_delay ASC NULLS FIRST,
                 airline_delay ASC NULLS FIRST,
                 late_aircraft_delay ASC NULLS FIRST,
                 weather_delay ASC NULLS FIRST) AS dedup_rn
    FROM (
      SELECT *, CAST(try_strptime(printf('%04d-%02d-%02d', year, month, day),
                                  '%Y-%m-%d') AS DATE) AS flight_date
      FROM read_parquet('{FIXTURE_DIR}/flights.parquet')
      WHERE airline IS NOT NULL AND origin_airport IS NOT NULL
        AND destination_airport IS NOT NULL
        AND origin_airport <> destination_airport
    ) WHERE flight_date IS NOT NULL
  ) WHERE dedup_rn = 1
),
fact AS (
  SELECT f.*, al.airline_sk, al.airline AS carrier, al.iata_code AS carrier_code,
         o.airport_sk AS origin_airport_sk, d.airport_sk AS destination_airport_sk
  FROM fl f
  JOIN al ON f.airline = al.iata_code
  JOIN ap o ON f.origin_airport = o.iata_code
  JOIN ap d ON f.destination_airport = d.iata_code
  -- Mirrors the Spark fact's INNER join against the 2015-bounded
  -- dim_date calendar (build_dim_date in _silver): out-of-range dates
  -- leave the universe on BOTH engines.  Invisible on the committed
  -- all-2015 fixture; load-bearing under the r12 hostile-fixture sweep
  -- (mutated year/month/day ints parse to non-2015 dates).
  WHERE f.flight_date BETWEEN DATE '2015-01-01' AND DATE '2015-12-31'
)
"""


@register(
    "flight_airline_scorecard",
    sql=_PRELUDE
    + """
    SELECT carrier AS airline, carrier_code AS iata_code,
      COUNT(*) AS total_flights,
      CAST(SUM(departure_delay) AS DOUBLE) / COUNT(departure_delay) AS avg_departure_delay,
      CAST(SUM(arrival_delay) AS DOUBLE) / COUNT(arrival_delay) AS avg_arrival_delay,
      CAST(SUM(distance) AS DOUBLE) / COUNT(distance) AS avg_distance,
      CAST(SUM(distance) AS BIGINT) AS total_distance,
      CAST(SUM(air_time) AS DOUBLE) / COUNT(air_time) AS avg_air_time,
      CAST(SUM(taxi_out) AS DOUBLE) / COUNT(taxi_out) AS avg_taxi_out,
      CAST(SUM(taxi_in) AS DOUBLE) / COUNT(taxi_in) AS avg_taxi_in,
      CAST(SUM(CASE WHEN cancelled = 1 THEN 1 ELSE 0 END) AS DOUBLE) * 100.0
        / COUNT(*) AS cancellation_rate_pct,
      CAST(SUM(CASE WHEN arrival_delay <= 0 THEN 1 ELSE 0 END) AS DOUBLE) * 100.0
        / COUNT(*) AS on_time_rate_pct,
      COUNT(DISTINCT tail_number) AS fleet_size
    FROM fact GROUP BY 1, 2
    """,
    operators=("A7", "J2", "P10", "W1"),
    bench=True,
)
def flight_airline_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's 11-aggregate airline scorecard
    (``03_gold_unikargo_02_airline_performance.ipynb:69-82``) over the
    REAL silver build — bronze fixture → cleanse/dedup → star join →
    gold.  ``sf_dir`` is unused: the committed FIXTURES.md tables are
    the scale-independent correctness input."""
    del sf_dir
    fact, dim_airline, _, _ = _silver(spark)
    return G.airline_scorecard(fact, dim_airline)


@register(
    "flight_busiest_routes",
    sql=_PRELUDE
    + """
    , rt AS (
      SELECT origin_airport_sk, destination_airport_sk,
        COUNT(*) AS total_flights,
        COUNT(DISTINCT airline_sk) AS airlines_on_route,
        COUNT(DISTINCT tail_number) AS unique_aircraft,
        CAST(SUM(departure_delay) AS DOUBLE) / COUNT(departure_delay) AS avg_departure_delay,
        CAST(SUM(arrival_delay) AS DOUBLE) / COUNT(arrival_delay) AS avg_arrival_delay,
        origin_airport AS origin_code,
        destination_airport AS dest_code
      FROM fact
      GROUP BY origin_airport_sk, destination_airport_sk, origin_airport, destination_airport
    )
    SELECT * FROM rt
    ORDER BY total_flights DESC, origin_code, dest_code
    LIMIT 50
    """,
    operators=("A1", "J3", "O3"),
)
def flight_busiest_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 busiest routes with the role-playing airport dim and a
    deterministic tiebreak (``03_gold_unikargo_03_route_analytics.ipynb:
    101-131``), over the real silver build."""
    del sf_dir
    fact, _, dim_airport, _ = _silver(spark)
    return G.busiest_routes(fact, dim_airport, k=50)


@register(
    "flight_rolling_otp",
    sql=_PRELUDE
    + """
    , daily AS (
      SELECT carrier AS airline, flight_date AS full_date,
        COUNT(*) AS total_flights,
        CAST(SUM(CASE WHEN arrival_delay <= 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS on_time_flights
      FROM fact GROUP BY 1, 2
    )
    SELECT airline, full_date, total_flights, on_time_flights,
      CAST(on_time_flights AS DOUBLE) * 100.0 / total_flights AS daily_otp,
      CAST(SUM(total_flights) OVER w AS BIGINT) AS rolling_7d_flights,
      CAST(SUM(on_time_flights) OVER w AS BIGINT) AS rolling_7d_on_time,
      CAST(SUM(on_time_flights) OVER w AS DOUBLE) * 100.0
        / CAST(SUM(total_flights) OVER w AS DOUBLE) AS rolling_7d_otp
    FROM daily
    WINDOW w AS (PARTITION BY airline ORDER BY full_date
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    operators=("W3", "A4"),
)
def flight_rolling_otp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling on-time performance per airline — the flight-
    weighted exact variant of ``gold_flights.rolling_on_time_performance``
    (``03_gold_unikargo_07_operational_efficiency_analytics.ipynb:98-108``;
    see module docstring for why the weighted form is the hash-gatable
    one).  Window state is 7 per-(airline, day) rows — partition-
    parallel at any scale."""
    del sf_dir
    fact, dim_airline, _, _ = _silver(spark)
    daily = (
        fact.join(F.broadcast(dim_airline.select("airline_sk", "airline")), "airline_sk")
        .groupBy("airline", F.col("flight_date").alias("full_date"))
        .agg(
            F.count(F.lit(1)).alias("total_flights"),
            F.sum(F.when(F.col("arrival_delay") <= 0, 1).otherwise(0)).alias(
                "on_time_flights"
            ),
        )
    )
    w = (
        Window.partitionBy("airline")
        .orderBy("full_date")
        .rowsBetween(-6, Window.currentRow)
    )
    return (
        daily.withColumn(
            "daily_otp",
            F.col("on_time_flights").cast("double") * 100.0 / F.col("total_flights"),
        )
        .withColumn("rolling_7d_flights", F.sum("total_flights").over(w))
        .withColumn("rolling_7d_on_time", F.sum("on_time_flights").over(w))
        .withColumn(
            "rolling_7d_otp",
            F.col("rolling_7d_on_time").cast("double")
            * 100.0
            / F.col("rolling_7d_flights").cast("double"),
        )
    )


@register(
    "flight_delay_distribution",
    sql=_PRELUDE
    + """
    , agg AS (
      SELECT CASE
               WHEN departure_delay <= 0 THEN 'on_time'
               WHEN departure_delay <= 15 THEN 'minor_0_15'
               WHEN departure_delay <= 60 THEN 'moderate_16_60'
               WHEN departure_delay <= 180 THEN 'severe_61_180'
               ELSE 'extreme_180_plus'
             END AS delay_category,
             COUNT(*) AS flight_count,
             CAST(SUM(arrival_delay) AS DOUBLE) / COUNT(arrival_delay)
               AS avg_arrival_delay
      FROM fact WHERE departure_delay IS NOT NULL
      GROUP BY 1
    )
    SELECT delay_category, flight_count, avg_arrival_delay,
           CAST(flight_count AS DOUBLE) * 100.0 / SUM(flight_count) OVER ()
             AS pct_of_all_flights
    FROM agg
    """,
    operators=("A12", "W4"),
)
def flight_delay_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's delay-severity histogram with share-of-total
    (``03_gold_unikargo_06_delay_analytics.ipynb:67-81``) over the real
    silver build.  The share window runs over the ≤5 aggregated bucket
    rows, never the fact.  Integer sums → exact; a single division per
    output cell."""
    del sf_dir
    fact, _, _, _ = _silver(spark)
    return G.delay_distribution(fact)


@register(
    "flight_seasonal_summary",
    sql=_PRELUDE
    + """
    SELECT CAST(YEAR(flight_date) AS INTEGER) AS year,
           CASE
             WHEN MONTH(flight_date) IN (12, 1, 2) THEN 'Winter'
             WHEN MONTH(flight_date) IN (3, 4, 5) THEN 'Spring'
             WHEN MONTH(flight_date) IN (6, 7, 8) THEN 'Summer'
             ELSE 'Fall'
           END AS season,
           COUNT(*) AS total_flights,
           CAST(SUM(departure_delay) AS DOUBLE) / COUNT(departure_delay)
             AS avg_departure_delay,
           CAST(SUM(CASE WHEN cancelled = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS cancelled_flights
    FROM fact
    GROUP BY 1, 2
    """,
    operators=("A9", "O2", "J1"),
)
def flight_seasonal_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's season CASE-key aggregate with custom season
    ordering (``03_gold_unikargo_05_time_based_analytics.ipynb:67-86``)
    over the real silver build — puts A9/O2 for the flight domain under
    the hash gate (previously pytest-only).  The oracle derives
    year/month from flight_date; the engine path takes them from
    dim_date via the date_sk join — same values by construction of the
    generated calendar dim."""
    del sf_dir
    fact, _, _, dim_date = _silver(spark)
    return G.seasonal_flight_summary(fact, dim_date)


@register(
    "airport_neighbor_pairs",
    sql=f"""
    WITH ap AS (
      SELECT iata_code, latitude, longitude,
             CAST(FLOOR(latitude / 2) AS BIGINT) AS cy,
             CAST(FLOOR(longitude / 2) AS BIGINT) AS cx
      FROM read_parquet('{FIXTURE_DIR}/airports.parquet')
      WHERE latitude IS NOT NULL AND longitude IS NOT NULL
    ),
    cand AS (
      SELECT a.iata_code AS a_code, b.iata_code AS b_code,
             a.latitude - b.latitude AS dlat,
             a.longitude - b.longitude AS dlon
      FROM ap a
      CROSS JOIN (VALUES (-1), (0), (1)) dy(dy)
      CROSS JOIN (VALUES (-1), (0), (1)) dx(dx)
      JOIN ap b ON b.cy = a.cy + dy.dy AND b.cx = a.cx + dx.dx
      WHERE a.iata_code < b.iata_code
    )
    SELECT a_code, b_code, dlat * dlat + dlon * dlon AS dist_sq
    FROM cand
    WHERE dlat * dlat + dlon * dlon <= 4.0
    """,
    operators=("J6", "P4"),
)
def airport_neighbor_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial self-join via grid bucketing: all airport pairs within a
    2-degree radius (squared-euclidean in degree space), found by
    replicating each point into its 3×3 neighbor cells and equi-joining
    on the cell key — the standard distributed spatial-join pattern
    (point → grid cell, neighbor-cell replication, exact re-check
    post-join).

    NEVER a cross join: candidate generation is an equi-join on
    (cell_y, cell_x), output is linear in points × local density.  Each
    unordered pair appears exactly once (b's cell is unique, a's 9-cell
    replication covers it once; a_code < b_code halves).  The distance
    re-check is subtract/multiply of 2-dp doubles — IEEE-exact in both
    engines, so the boundary cannot flip.  Haversine is deliberately
    NOT used here: trig is not correctly rounded and cannot
    hash-verify; at these radii the degree-space check is the same
    candidate semantics (document the latitude distortion if used for
    real geodesy).

    Scale: 10^9 points × ~10 neighbors/cell → ~10^10 candidate rows
    through one hash join — partition by cell key; choose the cell size
    ≈ the query radius so replication stays 9× and cells stay small.
    """
    del sf_dir
    paths = ensure_flights_fixture()
    ap = (
        spark.read.parquet(paths["airports"])
        .select("iata_code", "latitude", "longitude")
        .filter(F.col("latitude").isNotNull() & F.col("longitude").isNotNull())
        .withColumn("cy", F.floor(F.col("latitude") / 2).cast("long"))
        .withColumn("cx", F.floor(F.col("longitude") / 2).cast("long"))
    )
    offsets = F.explode(
        F.expr(
            "flatten(transform(array(-1, 0, 1), dy -> "
            "transform(array(-1, 0, 1), dx -> named_struct('dy', dy, 'dx', dx))))"
        )
    ).alias("o")
    a = ap.select(
        F.col("iata_code").alias("a_code"),
        F.col("latitude").alias("a_lat"),
        F.col("longitude").alias("a_lon"),
        "cy",
        "cx",
    ).select("*", offsets)
    b = ap.select(
        F.col("iata_code").alias("b_code"),
        F.col("latitude").alias("b_lat"),
        F.col("longitude").alias("b_lon"),
        F.col("cy").alias("b_cy"),
        F.col("cx").alias("b_cx"),
    )
    dlat = F.col("a_lat") - F.col("b_lat")
    dlon = F.col("a_lon") - F.col("b_lon")
    dist_sq = dlat * dlat + dlon * dlon
    return (
        a.join(
            b,
            (F.col("b_cy") == F.col("cy") + F.col("o.dy"))
            & (F.col("b_cx") == F.col("cx") + F.col("o.dx"))
            & (F.col("a_code") < F.col("b_code")),
        )
        .select("a_code", "b_code", dist_sq.alias("dist_sq"))
        .filter(F.col("dist_sq") <= 4.0)
    )


@register(
    "flight_airline_dow",
    sql=_PRELUDE
    + """
    SELECT carrier AS airline,
           CAST(isodow(flight_date) AS INTEGER) AS day_of_week,
           dayname(flight_date) AS day_name,
           COUNT(*) AS total_flights,
           CAST(SUM(departure_delay) AS DOUBLE) / COUNT(departure_delay)
             AS avg_departure_delay
    FROM fact
    GROUP BY 1, 2, 3
    ORDER BY airline, day_of_week
    """,
    operators=("A2", "J6", "Q3"),
)
def flight_airline_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's airline × day-of-week grid
    (``03_gold_unikargo_02_airline_performance.ipynb:120-129``) over the
    real silver build — and the query that pins the engine's DOW FIX
    under the hash gate: the silver model takes day_of_week from the
    generated date dim (Monday=1, SURVEY §4 — the reference's raw
    Sunday=1 column is discarded), and the oracle independently derives
    the same key with ISO ``isodow``/``dayname``.  A regression to the
    reference's bug would hash-mismatch every row.
    """
    del sf_dir
    fact, dim_airline, _, _ = _silver(spark)
    return G.airline_day_of_week(fact, dim_airline).orderBy("airline", "day_of_week")


@register(
    "flight_airport_traffic",
    sql=_PRELUDE
    + """
    , out_stats AS (
      SELECT origin_airport_sk AS airport_sk,
             COUNT(*) AS departures,
             COUNT(DISTINCT destination_airport_sk) AS destinations_served,
             CAST(SUM(departure_delay) AS DOUBLE) / COUNT(departure_delay)
               AS avg_departure_delay
      FROM fact GROUP BY 1
    ),
    in_stats AS (
      SELECT destination_airport_sk AS airport_sk,
             COUNT(*) AS arrivals,
             COUNT(DISTINCT origin_airport_sk) AS origins_served,
             CAST(SUM(arrival_delay) AS DOUBLE) / COUNT(arrival_delay)
               AS avg_arrival_delay
      FROM fact GROUP BY 1
    )
    SELECT COALESCE(o.airport_sk, i.airport_sk) AS airport_sk,
           o.departures, o.destinations_served, o.avg_departure_delay,
           i.arrivals, i.origins_served, i.avg_arrival_delay,
           ap.iata_code, ap.city, ap.state
    FROM out_stats o
    FULL OUTER JOIN in_stats i ON o.airport_sk = i.airport_sk
    JOIN ap ON ap.airport_sk = COALESCE(o.airport_sk, i.airport_sk)
    ORDER BY airport_sk
    """,
    operators=("A8", "J3", "J7"),
)
def flight_airport_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's airport in/out-degree analytics
    (``03_gold_unikargo_04_airport_analytics.ipynb:66-108``) over the
    real silver build: the role-playing airport dim consumed in both
    roles, two role-grain aggregates full-outer-joined, dim attributes
    broadcast back — the flight-domain A8 twin of nation_trade_degree,
    now under the hash gate."""
    del sf_dir
    fact, _, dim_airport, _ = _silver(spark)
    return G.airport_traffic(fact, dim_airport).orderBy("airport_sk")


@register(
    "flight_weekly_summary",
    sql=_PRELUDE
    + """
    , base AS (
      SELECT CAST(YEAR(flight_date) AS INTEGER) AS year,
             CAST(weekofyear(flight_date) AS INTEGER) AS week_of_year,
             carrier AS airline,
             departure_delay
      FROM fact
    ),
    s AS (
      SELECT year, week_of_year, airline,
             COUNT(*) AS total_flights,
             MAX(departure_delay) AS max_departure_delay,
             MIN(departure_delay) AS min_departure_delay,
             CAST(COUNT(departure_delay) AS DECIMAL(10,0)) AS nd,
             CAST(SUM(departure_delay) AS DECIMAL(19,0)) AS sx,
             CAST(SUM(CAST(departure_delay AS BIGINT) * departure_delay)
                  AS DECIMAL(28,0)) AS sxx
      FROM base
      GROUP BY 1, 2, 3
    )
    SELECT year, week_of_year, airline, total_flights,
           max_departure_delay, min_departure_delay,
           CASE WHEN nd >= 2 THEN
             SQRT(CAST(CAST(nd * sxx - sx * sx AS VARCHAR) AS DOUBLE)
                  / (CAST(nd AS DOUBLE) * (CAST(nd AS DOUBLE) - 1.0)))
           END AS stddev_departure_delay
    FROM s
    ORDER BY year, week_of_year, airline
    """,
    operators=("A5", "J1", "J2"),
)
def flight_weekly_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's weekly airline summary with delay spread
    (``03_gold_unikargo_01_daily_analytics.ipynb:103-110``) — stddev
    derived from EXACT integer sums (Σx, Σx², closed form through the
    string-routed conversion, NULL below two samples in both engines by
    construction), because the built-in streaming ``stddev`` accumulates
    doubles in engine order and cannot hash-verify: the same
    engine-vs-notebook substitution as flight_rolling_otp, with the
    notebook-verbatim ``gold_flights.weekly_flight_summary`` kept under
    pytest.  ISO week-of-year agrees across engines; the year key is
    the calendar year, so ISO-week-1 spillover weeks group under both
    their calendar years exactly as the reference's dim-date join does.
    """
    del sf_dir
    from unicargo_medallion_data_pipeline_spark.functions.exact import exact_double

    fact, dim_airline, _, dim_date = _silver(spark)
    dd = F.broadcast(dim_date.select("date_sk", "full_date", "year"))
    base = (
        fact.join(dd, "date_sk")
        .join(F.broadcast(dim_airline.select("airline_sk", "airline")), "airline_sk")
        .select(
            "year",
            F.weekofyear("full_date").alias("week_of_year"),
            "airline",
            "departure_delay",
        )
    )
    s = base.groupBy("year", "week_of_year", "airline").agg(
        F.count(F.lit(1)).alias("total_flights"),
        F.max("departure_delay").alias("max_departure_delay"),
        F.min("departure_delay").alias("min_departure_delay"),
        F.count("departure_delay").cast("decimal(10,0)").alias("nd"),
        F.sum("departure_delay").cast("decimal(19,0)").alias("sx"),
        F.sum(F.col("departure_delay").cast("bigint") * F.col("departure_delay"))
        .cast("decimal(28,0)")
        .alias("sxx"),
    )
    nd_d = F.col("nd").cast("double")
    # try_divide: a single-flight week has n(n-1) = 0 — sample stddev
    # is undefined, NULL in both engines (r13y hazard class)
    std = F.sqrt(
        F.try_divide(
            exact_double(F.col("nd") * F.col("sxx") - F.col("sx") * F.col("sx")),
            nd_d * (nd_d - F.lit(1.0)),
        )
    )
    return s.select(
        "year",
        "week_of_year",
        "airline",
        "total_flights",
        "max_departure_delay",
        "min_departure_delay",
        F.when(F.col("nd") >= 2, std).alias("stddev_departure_delay"),
    ).orderBy("year", "week_of_year", "airline")


@register(
    "flight_distance_buckets",
    sql=_PRELUDE
    + """
    SELECT CASE
             WHEN distance <= 500 THEN 'short_haul'
             WHEN distance <= 1500 THEN 'medium_haul'
             ELSE 'long_haul'
           END AS distance_category,
           COUNT(*) AS total_flights,
           CAST(SUM(air_time) AS DOUBLE) / COUNT(air_time) AS avg_air_time,
           CAST(SUM(arrival_delay) AS DOUBLE) / COUNT(arrival_delay)
             AS avg_arrival_delay,
           CAST(SUM(distance) AS DOUBLE) / COUNT(distance) AS avg_distance
    FROM fact
    GROUP BY 1
    ORDER BY distance_category
    """,
    operators=("A12", "P7"),
)
def flight_distance_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's haul-length histogram
    (``03_gold_unikargo_07_operational_efficiency_analytics.ipynb:163-177``)
    over the real silver build — integer-sum averages per CASE bucket."""
    del sf_dir
    fact, _, _, _ = _silver(spark)
    return G.distance_bucket_stats(fact).orderBy("distance_category")


@register(
    "flight_monthly_trends",
    sql=_PRELUDE
    + """
    SELECT CAST(YEAR(flight_date) AS INTEGER) AS year,
           CAST(MONTH(flight_date) AS INTEGER) AS month,
           carrier AS airline,
           COUNT(*) AS total_flights,
           CAST(SUM(arrival_delay) AS DOUBLE) / COUNT(arrival_delay)
             AS avg_arrival_delay,
           CAST(SUM(elapsed_time) AS BIGINT) AS total_elapsed_time
    FROM fact
    GROUP BY 1, 2, 3
    ORDER BY year, month, airline
    """,
    operators=("A6", "J1", "J2"),
)
def flight_monthly_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's monthly airline trends
    (``03_gold_unikargo_01_daily_analytics.ipynb:135-141``) over the
    real silver build — integer sums and counts, year/month from the
    date dim on the engine side and derived from flight_date in the
    oracle (equal by construction of the generated calendar)."""
    del sf_dir
    fact, dim_airline, _, dim_date = _silver(spark)
    return (
        G.monthly_flight_trends(fact, dim_date, dim_airline)
        .orderBy("year", "month", "airline")
    )


@register(
    "flight_efficiency",
    sql=_PRELUDE
    + """
    , m AS (
      SELECT carrier AS airline,
             elapsed_time - scheduled_time AS schedule_variance,
             taxi_out + taxi_in AS ground_time,
             air_time
      FROM fact
    )
    SELECT airline,
           CAST(SUM(schedule_variance) AS DOUBLE) / COUNT(schedule_variance)
             AS avg_schedule_variance,
           CAST(SUM(ground_time) AS DOUBLE) / COUNT(ground_time)
             AS avg_ground_time,
           CAST(SUM(air_time) AS DOUBLE) / COUNT(air_time) AS avg_air_time,
           COUNT(*) AS total_flights
    FROM m
    GROUP BY airline
    ORDER BY airline
    """,
    operators=("A14", "P4", "J2"),
)
def flight_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's computed-measure efficiency aggregate
    (``03_gold_unikargo_06_delay_analytics.ipynb:101-114``): schedule
    variance and ground time derived per row (NULL-propagating integer
    arithmetic, identical in both engines), then null-aware averages
    from exact sums."""
    del sf_dir
    fact, dim_airline, _, _ = _silver(spark)
    return G.flight_efficiency(fact, dim_airline).orderBy("airline")


@register(
    "flight_daily_summary",
    sql=_PRELUDE
    + """
    SELECT flight_date AS full_date,
           carrier AS airline,
           COUNT(*) AS total_flights,
           CAST(SUM(departure_delay) AS DOUBLE) / COUNT(departure_delay)
             AS avg_departure_delay,
           CAST(SUM(arrival_delay) AS DOUBLE) / COUNT(arrival_delay)
             AS avg_arrival_delay,
           CAST(SUM(CASE WHEN cancelled = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS cancelled_flights,
           CAST(SUM(CASE WHEN arrival_delay <= 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS on_time_flights
    FROM fact
    GROUP BY 1, 2
    ORDER BY full_date, airline
    """,
    operators=("A4", "A2", "J1"),
)
def flight_daily_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's daily airline summary
    (``03_gold_unikargo_01_daily_analytics.ipynb:68-79``) over the real
    silver build — conditional counts + null-aware integer averages at
    (day, airline) grain."""
    del sf_dir
    fact, dim_airline, _, dim_date = _silver(spark)
    return (
        G.daily_flight_summary(fact, dim_date, dim_airline)
        .orderBy("full_date", "airline")
    )


@register(
    "flight_aircraft_utilization",
    sql=_PRELUDE
    + """
    , per_day AS (
      SELECT flight_date, carrier AS airline, tail_number,
             COUNT(*) AS flights_per_day
      FROM fact
      WHERE tail_number IS NOT NULL
      GROUP BY 1, 2, 3
    )
    SELECT airline,
           CAST(SUM(flights_per_day) AS DOUBLE) / COUNT(*)
             AS avg_flights_per_aircraft_day,
           MAX(flights_per_day) AS max_flights_per_aircraft_day,
           COUNT(DISTINCT tail_number) AS active_aircraft
    FROM per_day
    GROUP BY airline
    ORDER BY airline
    """,
    operators=("A13", "J2", "P6"),
)
def flight_aircraft_utilization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's two-level aircraft-utilization aggregate
    (``03_gold_unikargo_07_operational_efficiency_analytics.ipynb:68-77``):
    flights per (day, airline, tail) first, then per-airline fleet
    stats — the A13 pattern on the reference's own domain."""
    del sf_dir
    fact, dim_airline, _, dim_date = _silver(spark)
    return (
        G.aircraft_utilization(fact, dim_date, dim_airline).orderBy("airline")
    )


@register(
    "flight_number_performance",
    sql=_PRELUDE
    + """
    SELECT carrier AS airline, flight_number,
           COUNT(*) AS total_flights,
           CAST(SUM(arrival_delay) AS DOUBLE) / COUNT(arrival_delay)
             AS avg_arrival_delay,
           CAST(SUM(CASE WHEN arrival_delay <= 0 THEN 1 ELSE 0 END) AS DOUBLE)
             * 100.0 / COUNT(*) AS on_time_rate_pct
    FROM fact
    GROUP BY 1, 2
    HAVING COUNT(*) >= 3
    ORDER BY airline, flight_number
    """,
    operators=("P7", "A2", "J2"),
)
def flight_number_performance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's per-flight-number reliability table with the
    significance floor (``...07_operational...ipynb:141``) — P7's
    post-aggregation HAVING on the flight-domain fact.  The floor is 3
    here (fixture flight numbers repeat at most ~6 times; the
    reference-scale default of 50 would make the oracle trivially empty
    — oracles must discriminate); the builder's parameter keeps the
    production default."""
    del sf_dir
    fact, dim_airline, _, _ = _silver(spark)
    return (
        G.flight_number_performance(fact, dim_airline, floor=3)
        .orderBy("airline", "flight_number")
    )


@register(
    "flight_operational_summary",
    sql=_PRELUDE
    + """
    SELECT airline_sk, carrier AS airline,
           COUNT(*) AS total_flights,
           CAST(SUM(CASE WHEN cancelled = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS cancelled_flights,
           CAST(SUM(CASE WHEN diverted = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS diverted_flights,
           CAST(SUM(CASE WHEN departure_delay > 15 THEN 1 ELSE 0 END) AS BIGINT)
             AS delayed_departures,
           CAST(SUM(CASE WHEN cancelled = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             * 100.0 / COUNT(*) AS cancellation_rate_pct,
           CAST(SUM(CASE WHEN departure_delay > 15 THEN 1 ELSE 0 END) AS DOUBLE)
             * 100.0 / COUNT(*) AS delay_rate_pct,
           CAST(SUM(CASE WHEN arrival_delay <= 0 THEN 1 ELSE 0 END) AS DOUBLE)
             * 100.0 / COUNT(*) AS on_time_rate_pct
    FROM fact
    GROUP BY 1, 2
    ORDER BY airline_sk
    """,
    operators=("A2", "A3", "J2"),
)
def flight_operational_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's cancellation/diversion/delay scoreboard with
    derived rates (``03_gold_flight_analytics.ipynb:173-181``) — A2
    conditional counts and A3 post-aggregation ratios on the flight
    fact."""
    del sf_dir
    fact, dim_airline, _, _ = _silver(spark)
    return G.airline_operational_summary(fact, dim_airline).orderBy("airline_sk")


@register(
    "flight_weekend_split",
    sql=_PRELUDE
    + """
    SELECT carrier AS airline,
           CAST(CASE WHEN isodow(flight_date) >= 6 THEN 1 ELSE 0 END
                AS INTEGER) AS is_weekend,
           COUNT(*) AS total_flights,
           CAST(SUM(departure_delay) AS DOUBLE) / COUNT(departure_delay)
             AS avg_departure_delay,
           CASE WHEN isodow(flight_date) >= 6 THEN 'Weekend' ELSE 'Weekday' END
             AS day_type
    FROM fact
    GROUP BY 1, 2, 5
    ORDER BY airline, is_weekend
    """,
    operators=("A10", "J1", "J2"),
)
def flight_weekend_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's weekend/weekday comparison
    (``03_gold_unikargo_05_time_based_analytics.ipynb:108-118``) — the
    engine takes is_weekend from the generated date dim, the oracle
    re-derives it with isodow ≥ 6; agreement pins the dim's weekend
    flag semantics."""
    del sf_dir
    fact, dim_airline, _, dim_date = _silver(spark)
    return (
        G.weekend_weekday_split(fact, dim_date, dim_airline)
        .orderBy("airline", "is_weekend")
    )


@register(
    "flight_quarterly_summary",
    sql=_PRELUDE
    + """
    SELECT CAST(YEAR(flight_date) AS INTEGER) AS year,
           CAST(QUARTER(flight_date) AS INTEGER) AS quarter,
           carrier AS airline,
           COUNT(*) AS total_flights,
           CAST(SUM(arrival_delay) AS DOUBLE) / COUNT(arrival_delay)
             AS avg_arrival_delay
    FROM fact
    GROUP BY 1, 2, 3
    ORDER BY year, quarter, airline
    """,
    operators=("A11", "J1", "J2"),
)
def flight_quarterly_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's quarterly airline trends
    (``03_gold_unikargo_05_time_based_analytics.ipynb:140-149``) — A11
    on the flight domain, quarter keys from the date dim vs the
    oracle's QUARTER()."""
    del sf_dir
    fact, dim_airline, _, dim_date = _silver(spark)
    return (
        G.quarterly_flight_summary(fact, dim_date, dim_airline)
        .orderBy("year", "quarter", "airline")
    )
