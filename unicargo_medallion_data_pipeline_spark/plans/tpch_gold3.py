"""Gold queries, batch 3: generated sources, null handling, map metadata,
multi-level grouping, JSON extraction, regex tokenization.

Fills the remaining SURVEY §2 cells: S4 (local-collection source), P9
(null fill), P12 (map metadata), §2.8 map/JSON/regex families, plus
rollup/grouping aggregation (beyond-reference, free in Spark)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unicargo_medallion_data_pipeline_spark.functions.exact import dsum, sql_dsum
from unicargo_medallion_data_pipeline_spark.plans.catalog import register
from unicargo_medallion_data_pipeline_spark.sources.readers import load_table


@register(
    "generated_dim_date",
    sql="""
    SELECT
      CAST(ROW_NUMBER() OVER (ORDER BY d) AS INTEGER) AS date_sk,
      CAST(d AS DATE) AS full_date,
      CAST(year(d) AS INTEGER) AS year,
      CAST(month(d) AS INTEGER) AS month,
      CAST(day(d) AS INTEGER) AS day,
      CAST(isodow(d) AS INTEGER) AS day_of_week,
      dayname(d) AS day_name,
      monthname(d) AS month_name,
      CAST(quarter(d) AS INTEGER) AS quarter,
      CASE WHEN isodow(d) >= 6 THEN 1 ELSE 0 END AS is_weekend
    FROM generate_series(DATE '1995-01-01', DATE '1996-12-31', INTERVAL 1 DAY) t(d)
    """,
    operators=("S4", "W1", "P4"),
)
def generated_dim_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 — generated date dimension (reference:
    ``02_silver_unicargo_create_dim_date.ipynb`` cells 2-8), bounded to the
    orders date range so the oracle is cheap: 731 rows from a Range scan,
    no data dependency."""
    from unicargo_medallion_data_pipeline_spark.pipelines.silver import build_dim_date

    del sf_dir
    return build_dim_date(spark, "1995-01-01", "1996-12-31")


@register(
    "fillna_cleaned_events",
    sql="""
    SELECT
      event_id,
      COALESCE(event_type, 'unknown') AS event_type_filled,
      COALESCE(value, 0.0) AS value_filled,
      CASE WHEN value IS NULL THEN 1 ELSE 0 END AS was_null
    FROM events
    """,
    operators=("P9", "P6"),
)
def fillna_cleaned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 — null-fill projection (reference: ``cleaning.py:89-130``).
    The driver corpus has no nulls, so the fill is a provable no-op — the
    was_null audit column pins that on both engines."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.coalesce(F.col("event_type"), F.lit("unknown")).alias("event_type_filled"),
        F.coalesce(F.col("value"), F.lit(0.0)).alias("value_filled"),
        F.when(F.col("value").isNull(), 1).otherwise(0).alias("was_null"),
    )


@register(
    "metadata_enriched_orders",
    sql="""
    SELECT
      o_orderkey,
      'unicargo-medallion' AS meta_pipeline,
      'orders' AS meta_entity,
      'bronze' AS meta_layer,
      3 AS meta_size
    FROM orders
    WHERE o_orderkey <= 100
    """,
    operators=("P12",),
)
def metadata_enriched_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12 — map<string,string> metadata enrichment (reference:
    ``df_transform_utils.py:28-35``).  The map column itself is not
    hash-comparable cross-engine, so the query materializes element
    accesses + map_size — proving the map is built and addressable."""
    from unicargo_medallion_data_pipeline_spark.operators.transforms import with_metadata

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 100)
    enriched = with_metadata(
        o, {"pipeline": "unicargo-medallion", "entity": "orders", "layer": "bronze"}
    )
    return enriched.select(
        "o_orderkey",
        F.col("metadata").getItem("pipeline").alias("meta_pipeline"),
        F.col("metadata").getItem("entity").alias("meta_entity"),
        F.col("metadata").getItem("layer").alias("meta_layer"),
        F.size("metadata").alias("meta_size"),
    )


@register(
    "order_priority_rollup",
    sql=f"""
    SELECT
      COALESCE(o_orderstatus, 'ALL') AS order_status,
      COALESCE(o_orderpriority, 'ALL') AS order_priority,
      COUNT(*) AS total_orders,
      {sql_dsum('o_totalprice')} AS total_revenue
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    -- Spark's ROLLUP emits NO grand-total row over an empty relation
    -- (the SQL standard emits one with COUNT 0); the oracle mirrors the
    -- engine's semantics — on any non-empty input every group has
    -- COUNT > 0 so this HAVING is a no-op (r11 sweep)
    HAVING COUNT(*) > 0
    """,
    operators=("A1",),
)
def order_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation: (status, priority), (status), () levels in one
    pass — beyond the reference's surface (SURVEY §2.4 lists no grouping
    sets), free in Spark.  Spark plans this as a single Expand + hash agg,
    so it costs one shuffle like a plain groupBy."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("total_orders"),
            dsum("o_totalprice").alias("total_revenue"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("order_status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("order_priority"),
            "total_orders",
            "total_revenue",
        )
    )


@register(
    "events_props_json",
    sql=f"""
    SELECT
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CASE WHEN json_valid(props)
                    THEN TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)
               END) AS BIGINT) AS sum_k,
      MIN(CASE WHEN json_valid(props)
               THEN TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) END) AS min_k,
      MAX(CASE WHEN json_valid(props)
               THEN TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) END) AS max_k
    FROM events
    GROUP BY event_type
    """,
    operators=("P4", "A4"),
)
def events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from a string payload column (§2.8 'JSON absent in
    reference' — engine provides it): parse ``props`` and aggregate the
    extracted field."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
    )


_BPE_ISH = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


@register(
    "doc_bpe_token_stats",
    sql=f"""
    SELECT
      doc_id,
      CAST(len(regexp_extract_all(lower(text), '{_BPE_ISH}')) AS INTEGER) AS n_bpe_tokens,
      CAST(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
           AS INTEGER) AS n_ws_tokens,
      CAST(len(regexp_extract_all(lower(text), '[0-9]+')) AS INTEGER) AS n_number_tokens,
      CAST(len(regexp_extract_all(lower(text), '[^a-z0-9\\s]')) AS INTEGER) AS n_symbol_tokens
    FROM documents
    """,
    operators=("P4",),
)
def doc_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenization (north-star token counting): word /
    number / symbol token classes via regexp_extract_all — narrow map,
    codegen'd, identical regex on both engines."""
    d = load_table(spark, sf_dir, "documents")
    lower = F.lower("text")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(lower, F.lit(_BPE_ISH), 0)).alias("n_bpe_tokens"),
        F.size(F.split(F.trim(F.regexp_replace(lower, r"\s+", " ")), " ")).alias(
            "n_ws_tokens"
        ),
        F.size(F.regexp_extract_all(lower, F.lit("[0-9]+"), 0)).alias("n_number_tokens"),
        F.size(F.regexp_extract_all(lower, F.lit(r"[^a-z0-9\s]"), 0)).alias(
            "n_symbol_tokens"
        ),
    )


@register(
    "events_props_variant",
    sql="""
    WITH e AS (
      SELECT
        CASE WHEN json_valid(props)
             THEN TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) END AS k,
        event_type
      FROM events
    )
    SELECT
      CAST(floor(k / 10.0) AS BIGINT) AS k_bucket,
      COUNT(*) AS n_events,
      CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_event_types,
      MIN(k) AS min_k,
      MAX(k) AS max_k
    FROM e
    GROUP BY 1
    """,
    operators=("P4", "A12"),
)
def events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payloads through Spark 4's VARIANT type
    (``parse_json`` → binary variant → ``variant_get``), the scale path
    ``events_props_json``'s per-extract string parsing is not: variant
    parses each payload ONCE into a typed binary encoding, and every
    subsequent field probe is an O(depth) binary lookup instead of a
    regex/JSON re-parse — at a silver layer you materialize the variant
    column and fan out dozens of extracts for free.  The DuckDB oracle
    reads the same field from the raw JSON text, proving the
    variant-routed values are identical to direct JSON extraction.

    The aggregation itself is the A12 histogram shape over the extracted
    field (decade buckets of ``k``), so the query also demonstrates that
    variant extracts compose with ordinary relational operators —
    grouping keys, distinct counts — inside one codegen'd stage with a
    single shuffle."""
    ev = load_table(spark, sf_dir, "events")
    # try_parse_json: a malformed payload yields a NULL variant (like
    # get_json_object) instead of a FAILFAST task abort (r11 sweep)
    k = F.variant_get(F.try_parse_json("props"), "$.k", "int")
    return (
        ev.select(k.alias("k"), "event_type")
        .groupBy(F.floor(F.col("k") / 10.0).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_event_types"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )
