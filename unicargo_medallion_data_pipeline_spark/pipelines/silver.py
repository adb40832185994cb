"""Silver layer: dimensional model build (SURVEY §1.3, §7.2 step 3).

Reference counterparts (capability, not code):
  - dim_airline: ``02_silver_unicargo_create_dim_airlines.ipynb:99-105``
  - dim_airport: ``02_silver_unicargo_create_dim_airports.ipynb:38-53``
  - dim_date:    ``02_silver_unicargo_create_dim_date.ipynb`` cells 2-8
  - flights_clean + fact_flight: ``02_silver_unicargo_create_fact_flights.ipynb``
    (cleansing 42-65, dim joins 218-300, projection 318-366)

Deliberate departures (SURVEY §7.4):
  - ``flight_sk`` is ``xxhash64`` of the dedup business key, not
    ``monotonically_increasing_id`` — deterministic across runs and
    partitionings (scale hazard 2).
  - subset-dedup keeps the first row under an explicit tiebreak order
    (canonical_dedup), not an arbitrary survivor.
  - ``day_of_week`` uses the reference's Monday=1 convention, computed
    from the date itself (the reference trips over Spark's Sunday=1
    ``dayofweek`` — ``...create_fact_flights.ipynb:410-428``).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from unicargo_medallion_data_pipeline_spark.operators.cleaning import canonical_dedup
from unicargo_medallion_data_pipeline_spark.operators.keys import dim_surrogate_key, fact_hash_key

_DAY_NAMES = ("Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday")
_MONTH_NAMES = (
    "January", "February", "March", "April", "May", "June",
    "July", "August", "September", "October", "November", "December",
)

DIM_DATE_SCHEMA = StructType(
    [
        StructField("date_sk", IntegerType(), False),
        StructField("full_date", DateType(), False),
        StructField("year", IntegerType(), False),
        StructField("month", IntegerType(), False),
        StructField("day", IntegerType(), False),
        StructField("day_of_week", IntegerType(), False),  # Monday=1..Sunday=7
        StructField("day_name", StringType(), False),
        StructField("month_name", StringType(), False),
        StructField("quarter", IntegerType(), False),
        StructField("is_weekend", IntegerType(), False),
    ]
)


def build_dim_date(
    spark: SparkSession,
    start: str = "2015-01-01",
    end: str = "2030-12-31",
) -> DataFrame:
    """Generated date dimension, one row per day (5,844 rows for the
    reference's range; none when ``end`` precedes ``start``).  Built from
    ``spark.range`` and date functions, so it plans as a codegen'd Range
    scan: no driver-side row list to pickle, no Python worker.  Every
    column is non-nullable whatever ``spark.sql.ansi.enabled`` says, so
    the result has ``DIM_DATE_SCHEMA`` exactly."""
    d0 = dt.date.fromisoformat(start)
    n_days = max((dt.date.fromisoformat(end) - d0).days + 1, 0)
    d = F.date_add(F.lit(d0), F.col("id").cast("int"))
    iso_dow = F.weekday(d) + 1  # Monday=1..Sunday=7 (reference convention)
    return spark.range(n_days).select(
        (F.col("id") + 1).cast("int").alias("date_sk"),
        d.alias("full_date"),
        F.year(d).alias("year"),
        F.month(d).alias("month"),
        F.dayofmonth(d).alias("day"),
        iso_dow.alias("day_of_week"),
        _name_of(iso_dow, _DAY_NAMES).alias("day_name"),
        _name_of(F.month(d), _MONTH_NAMES).alias("month_name"),
        F.quarter(d).alias("quarter"),
        (iso_dow >= 6).cast("int").alias("is_weekend"),
    )


def _name_of(idx, names):
    """``names[idx - 1]`` for a 1-based ``idx`` in range, as a CASE over
    literals: unlike ``element_at``, whose result is nullable when ANSI
    mode is off, a CASE whose branches are all literals is never NULL."""
    case = F.when(idx == 1, names[0])
    for i, name in enumerate(names[1:-1], 2):
        case = case.when(idx == i, name)
    return case.otherwise(names[-1])


def build_dim_airline(airlines_raw: DataFrame) -> DataFrame:
    """dedup on iata_code + dense surrogate key (W1, P6, P10)."""
    clean = canonical_dedup(
        airlines_raw.filter(F.col("iata_code").isNotNull()),
        keys=["iata_code"],
        order_by=["airline"],
    )
    return dim_surrogate_key(clean, ["iata_code"], "airline_sk").select(
        "airline_sk", "iata_code", "airline"
    )


def build_dim_airport(airports_raw: DataFrame) -> DataFrame:
    # airline (the reference's sic name column) leads; the remaining
    # columns complete a TOTAL order so duplicate codes whose rows tie
    # on the name but diverge elsewhere (r12 hostile-fixture sweep)
    # still have an engine-independent survivor.
    clean = canonical_dedup(
        airports_raw.filter(F.col("iata_code").isNotNull()),
        keys=["iata_code"],
        order_by=["airline", "city", "state", "country", "latitude", "longitude"],
    )
    return dim_surrogate_key(clean, ["iata_code"], "airport_sk").select(
        "airport_sk", "iata_code", "airline", "city", "state", "country", "latitude", "longitude"
    )


def clean_flights(flights_raw: DataFrame, cluster_col: str | None = None) -> DataFrame:
    """Cleansing stage (``...create_fact_flights.ipynb:42-65``): null-key
    filters, origin≠destination, derived flight_date, canonical dedup on
    the business key.  All narrow except the dedup shuffle.

    ``cluster_col`` (must be one of the dedup keys, typically
    ``flight_date``) makes the dedup shuffle double as the downstream
    WRITE clustering: the frame is repartitioned on that single column,
    and because it is a SUBSET of the dedup key, Catalyst recognizes the
    distribution as satisfying the window's required clustering — one
    exchange serves both (probe-verified: a single
    ``Exchange hashpartitioning(cluster_col)`` in the plan).  Rows of one
    date then stay in one task through the broadcast joins, so a
    date-partitioned fact write emits one file per date WITHOUT its own
    repartition shuffle."""
    df = (
        flights_raw.filter(F.col("airline").isNotNull())
        .filter(F.col("origin_airport").isNotNull())
        .filter(F.col("destination_airport").isNotNull())
        .filter(F.col("origin_airport") != F.col("destination_airport"))
        .withColumn(
            "flight_date",
            # try_to_date, not to_date: calendar-invalid source rows
            # (Feb 30) must become NULL and be filtered — under ANSI mode
            # (Spark 4 default in a vanilla session) plain to_date would
            # throw on the first bad row instead.
            F.try_to_date(
                F.concat_ws(
                    "-",
                    F.col("year"),
                    F.lpad(F.col("month").cast("string"), 2, "0"),
                    F.lpad(F.col("day").cast("string"), 2, "0"),
                ),
                "yyyy-MM-dd",
            ),
        )
        .filter(F.col("flight_date").isNotNull())
    )
    keys = ["flight_number", "flight_date", "origin_airport", "destination_airport"]
    if cluster_col is not None:
        if cluster_col not in keys:
            raise ValueError(
                f"cluster_col {cluster_col!r} must be one of the dedup keys "
                f"{keys} — a non-key clustering would not satisfy the dedup "
                "window's required distribution and Spark would re-shuffle"
            )
        df = df.repartition(F.col(cluster_col))
    # TOTAL tie-break order (r12 hostile-fixture sweep): the reference's
    # (scheduled_departure, tail_number) pair leads, but key-duplicate
    # rows that TIE on it while diverging in other measures would leave
    # the survivor engine-dependent — append every remaining ORDERABLE
    # column so row_number()==1 is well-defined on any input (the bronze
    # frame also carries a metadata MAP, which sort orders reject).  All
    # asc-nulls-first (Spark's asc default), mirrored by the oracle
    # prelude.
    unorderable = {
        f.name for f in flights_raw.schema.fields
        if f.dataType.typeName() in ("map", "variant")
    }
    tiebreak = ["scheduled_departure", "tail_number"] + [
        c for c in flights_raw.columns
        if c not in keys
        and c not in ("scheduled_departure", "tail_number")
        and c not in unorderable
    ]
    return canonical_dedup(df, keys=keys, order_by=tiebreak)


#: Measures carried into the fact (``...create_fact_flights.ipynb:340-360``);
#: delay-cause columns are intentionally dropped, as in the reference.
_FACT_MEASURES = (
    "scheduled_departure",
    "departure_time",
    "departure_delay",
    "taxi_out",
    "wheels_off",
    "scheduled_time",
    "elapsed_time",
    "air_time",
    "distance",
    "wheels_on",
    "taxi_in",
    "scheduled_arrival",
    "arrival_time",
    "arrival_delay",
    "diverted",
    "cancelled",
)


def build_fact_flight(
    flights_clean: DataFrame,
    dim_date: DataFrame,
    dim_airline: DataFrame,
    dim_airport: DataFrame,
) -> DataFrame:
    """4-way star join with role-playing airport dim (J1-J3) and a
    deterministic hash key.  All three dims broadcast; the fact side never
    shuffles — at 100 TB this is a single map-side stage."""
    # day_of_week/day_name come from the date dim (reference convention,
    # Monday=1) — aliased to avoid clashing with the source's carried column.
    dd = F.broadcast(
        dim_date.select(
            "date_sk",
            "full_date",
            F.col("day_of_week").alias("dd_day_of_week"),
            F.col("day_name").alias("dd_day_name"),
        )
    )
    da = F.broadcast(dim_airline.select("airline_sk", F.col("iata_code").alias("al_code")))
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
    joined = (
        flights_clean.join(dd, flights_clean.flight_date == dd.full_date, "inner")
        .join(da, flights_clean.airline == F.col("al_code"), "inner")
        .join(origin, flights_clean.origin_airport == F.col("origin_code"), "inner")
        .join(dest, flights_clean.destination_airport == F.col("dest_code"), "inner")
    )
    return joined.select(
        fact_hash_key(
            ["flight_number", "flight_date", "origin_airport", "destination_airport"]
        ).alias("flight_sk"),
        "date_sk",
        "flight_date",
        "airline_sk",
        "origin_airport_sk",
        "destination_airport_sk",
        "flight_number",
        "tail_number",
        F.col("dd_day_of_week").alias("day_of_week"),
        F.col("dd_day_name").alias("day_name"),
        *[F.col(c).cast("int").alias(c) for c in _FACT_MEASURES],
    )
