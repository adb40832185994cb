"""Continuous-aggregate maintenance: additive merge of a pre-aggregated
increment into a materialized rollup table (the batch analog of a
hypertable continuous aggregate / materialized-view refresh).

``events_hourly_rollup`` shows the READ side of the pattern (coarse
grains re-aggregate from the fine grain).  This operator is the WRITE
side: the fine-grain rollup is materialized once, and each new slice of
raw data folds in as ``new_value = combine(old_value, delta_value)`` —
no recompute over history.

Only MERGEABLE aggregates may live in such a table:

  - ``sum`` / counts  → combine with ``+``   (counts are sums of 1s)
  - ``min`` / ``max`` → combine with least / greatest
  - distinct counts of integer keys → ``"bitmap_or"`` (EXACT — bitwise
    OR of domain-bucketed bitmaps, see :func:`bitmap_grain`)

Non-mergeable aggregates (exact COUNT DISTINCT, exact percentiles) must
be recomputed from raw or replaced by mergeable sketches — and the
sketch path is provided here: store a Datasketches HLL per rollup row
(``hll_sketch("user_id")``) and combine with ``"hll_union"``
(register-wise max — commutative, associative, idempotent, so an
incremental merge REPRESENTS exactly the set a full recompute would,
and ``hll_estimate`` returns the identical number for both; the
serialized bytes may differ only in low-cardinality "list mode", where
Datasketches stores raw hashes in arrival order).  Exact percentiles
stay out — rank
information is genuinely not mergeable; use t-digest
(``approx_percentile``) recomputed per grain instead.

Scale shape: identical to ``sources/merge.py`` — the increment's touched
partitions (bounded, collected with a cap) are read back, combined with
ONE keyed aggregation over (existing ∪ delta), and dynamically
overwritten; untouched partitions are never read.  State per refresh is
O(touched partitions), not O(table).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: measure name -> (combine aggregate over the unioned rows)
_COMBINERS = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    # Datasketches HLL union: register-wise max over binary sketches.
    # The represented set (hence the estimate) is order-independent;
    # serialized bytes can permute in low-cardinality list mode.
    "hll_union": F.hll_union_agg,
    # Roaring-style bitmap OR: EXACT mergeable distinct counting for
    # integer keys (see bitmap_grain / bitmap_distinct).
    "bitmap_or": F.bitmap_or_agg,
}


def hll_sketch(col: str, lg_config_k: int = 12) -> Column:
    """Build the mergeable distinct-count measure for a rollup grain.

    Use in the fine-grain aggregation (``.agg(hll_sketch("user_id")
    .alias("users_hll"))``); store the binary column; combine across
    increments/grains with the ``"hll_union"`` rule.  ``lg_config_k``
    fixes the register count (2^k) — all sketches that will ever be
    unioned must share it, so it is part of the table contract, not a
    per-call tuning knob.  12 → 4 KiB per sketch, ~±1.6% standard error
    at any cardinality: the fixed-memory shape that makes 10^9-key
    rollups safe where an exact COUNT(DISTINCT) would need unbounded
    per-key state.
    """
    return F.hll_sketch_agg(col, lg_config_k)


def hll_estimate(col: str) -> Column:
    """Read a stored/combined sketch as a cardinality estimate (bigint)."""
    return F.hll_sketch_estimate(col)


#: Name of the hidden bucket key a bitmap grain adds (each bitmap covers a
#: fixed range of the integer domain; distinct values land in exactly one
#: bucket, so bucket bitmaps are disjoint and counts SUM exactly).
BITMAP_BUCKET_COL = "_bitmap_bucket"


def bitmap_grain(
    df: DataFrame, keys: list[str], value_col: str, out_col: str = "bitmap"
) -> DataFrame:
    """EXACT mergeable distinct counts for an INTEGER-keyed value column.

    Where :func:`hll_sketch` trades ~1.6% error for a fixed 4 KiB of
    state on ANY type, the bitmap form is exact: each distinct value
    sets one bit in the bitmap of its domain bucket.  The cost model is
    different — state grows with the size of the *occupied value
    domain*, not a constant — so bitmaps fit surrogate-keyed entities
    (user ids, product ids) and HLL fits unbounded/hashed domains.

    Returns the fine-grain frame at ``keys + [BITMAP_BUCKET_COL]`` with a
    binary ``out_col``; store it as the rollup measure and combine
    increments with the ``"bitmap_or"`` rule (bitwise OR — commutative,
    associative, idempotent, so incremental maintenance is EXACTLY a
    full recompute, not an estimate of one).  Read with
    :func:`bitmap_distinct`.  Nulls are excluded, matching
    ``COUNT(DISTINCT ...)``.
    """
    v = F.col(value_col)
    return (
        df.filter(v.isNotNull())
        .groupBy(*keys, F.bitmap_bucket_number(v).alias(BITMAP_BUCKET_COL))
        .agg(F.bitmap_construct_agg(F.bitmap_bit_position(v)).alias(out_col))
    )


def bitmap_distinct(
    df: DataFrame, keys: list[str], bitmap_col: str = "bitmap"
) -> DataFrame:
    """Collapse a stored bitmap grain to exact per-``keys`` distinct
    counts (``n_distinct`` bigint): count bits per bucket bitmap, then
    sum — buckets partition the value domain, so the sum is exact."""
    return (
        df.groupBy(*keys)
        .agg(F.sum(F.bitmap_count(F.col(bitmap_col))).alias("n_distinct"))
    )


def merge_additive_rollup(
    spark: SparkSession,
    target_path: str,
    delta: DataFrame,
    keys: list[str],
    measures: dict[str, str],
    partition_col: str,
    max_touched_partitions: int = 1024,
) -> None:
    """Fold a pre-aggregated increment into the rollup at ``target_path``.

    ``delta`` has columns ``keys + measures`` and is already aggregated to
    the rollup grain (one row per key tuple).  ``measures`` maps each
    measure column to its combine rule: ``"sum"`` | ``"min"`` | ``"max"``
    | ``"hll_union"`` (binary HLL sketches built with :func:`hll_sketch`)
    | ``"bitmap_or"`` (exact distinct bitmaps built with
    :func:`bitmap_grain`).
    ``partition_col`` must be one of ``keys`` (the grain's time bucket,
    typically) — it scopes which stored partitions are touched.
    """
    unknown = {m for m in measures.values() if m not in _COMBINERS}
    if unknown:
        raise ValueError(f"unsupported combine rules: {sorted(unknown)}")
    if partition_col not in keys:
        raise ValueError("partition_col must be part of the rollup key")

    cols = [*keys, *measures]
    from pyspark.errors import AnalysisException

    try:
        existing_all = spark.read.parquet(target_path)
    except AnalysisException:
        # Bootstrap enforces the SAME null-partition rule as every later
        # merge: letting NULLs through here would write them to the Hive
        # null sentinel, where isin()-scoped merges can never fold them —
        # the grain silently diverges from a full recompute forever.
        if delta.filter(F.col(partition_col).isNull()).limit(1).count() > 0:
            raise ValueError(
                f"increment contains NULL '{partition_col}' values"
            )
        (
            delta.select(*cols)
            .write.mode("overwrite")
            .format("parquet")
            .partitionBy(partition_col)
            .save(target_path)
        )
        return

    part_rows = (
        delta.select(partition_col)
        .distinct()
        .limit(max_touched_partitions + 1)
        .collect()
    )
    if len(part_rows) > max_touched_partitions:
        raise ValueError(
            f"increment touches > {max_touched_partitions} distinct "
            f"'{partition_col}' partitions; refresh in smaller slices or "
            "raise max_touched_partitions explicitly"
        )
    parts = [r[0] for r in part_rows]
    if any(p is None for p in parts):
        raise ValueError(f"increment contains NULL '{partition_col}' values")

    existing = existing_all.filter(F.col(partition_col).isin(parts)).select(*cols)
    # The stored column types are the table's CONTRACT: Spark's SUM
    # widens decimals (sum(decimal(28,2)) -> decimal(38,2)), so an
    # uncast combine would rewrite only the TOUCHED partitions at the
    # wider physical type — one refresh whose increment misses a
    # partition later, and the table holds mixed parquet decimal widths
    # that no longer read as one schema (r11 robustness sweep, seed e:
    # FAILED_READ.PARQUET_COLUMN_DATA_TYPE_MISMATCH).  Casting back is
    # loud on genuine overflow (ANSI), which beats silent schema drift.
    target_types = {f.name: f.dataType for f in existing_all.select(*cols).schema.fields}
    combined = (
        existing.unionByName(delta.select(*cols))
        .groupBy(*keys)
        .agg(
            *[
                _COMBINERS[rule](F.col(m)).cast(target_types[m]).alias(m)
                for m, rule in measures.items()
            ]
        )
    )

    # `combined` reads the target partitions it will overwrite: pin its
    # blocks with an eager localCheckpoint, then dynamic-overwrite.
    # Dynamic overwrite commits at job end, so any failure — including
    # executor loss taking checkpoint blocks — aborts with the target
    # intact.
    from unicargo_medallion_data_pipeline_spark.sources.staging import write_dynamic_overwrite

    write_dynamic_overwrite(combined.localCheckpoint(eager=True), target_path, partition_col)
