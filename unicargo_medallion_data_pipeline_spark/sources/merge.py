"""Batch upsert (MERGE) — SURVEY §2.1 S12.

Reference counterpart: ``src/incrementatl_processing/incremetal_flights.py:1-19``
(``DeltaTable.forPath(...).merge(new, cond).whenMatchedUpdateAll()
.whenNotMatchedInsertAll().execute()``).

Two paths:

* Delta available → native ``MERGE`` (transactional, file-pruned).
* Parquet fallback → **partition-scoped rewrite**: only the partitions
  present in the incoming batch are read back, merged (new rows win), and
  rewritten with dynamic partition overwrite.  This is the classic
  pre-Delta upsert pattern and the reason the engine requires upserted
  tables to be partitioned: at 100 TB you rewrite the touched day-
  partitions, never the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unicargo_medallion_data_pipeline_spark.sources.writers import delta_available


def merge_upsert_partitioned(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    merge_keys: list[str],
    partition_col: str,
    file_format: str | None = None,
    max_touched_partitions: int = 1024,
    check_partition_immutability: bool = False,
    check_duplicate_keys: bool = True,
) -> None:
    """Upsert ``updates`` into the table at ``target_path``.

    Semantics = Delta MERGE whenMatchedUpdateAll/whenNotMatchedInsertAll,
    with updates winning on key collision.  The parquet fallback touches
    only the partitions present in ``updates``.

    Parquet-path contract:

    * ``partition_col`` must be IMMUTABLE for a given merge key — the
      fallback only rewrites partitions present in ``updates``, so a key
      that "moves" partitions would leave its stale row alive in the old
      partition (a duplicate).  Delta MERGE has no such restriction.
      Opt into ``check_partition_immutability=True`` to detect movers with
      one column-pruned anti-scan of the target before writing (reads only
      ``merge_keys + partition_col`` — cheap relative to the rewrite, but
      a full-table scan, hence opt-in).
    * A batch touching more than ``max_touched_partitions`` distinct
      partitions fails fast BEFORE any driver collect or write: the
      partition list is collected to the driver to scope the rewrite, and
      an unbounded list (e.g. a mis-partitioned update keyed on a
      high-cardinality column) would OOM the driver and rewrite the
      whole table anyway — at that point a full overwrite is the honest
      operation.
    * First call against a missing/empty target bootstraps it with a plain
      partitioned write.
    """
    fmt = file_format or ("delta" if delta_available() else "parquet")
    # NULL update keys fail fast in BOTH branches (round-10 ADVICE: the
    # gate originally ran only on the parquet fallback, so with Delta
    # installed a NULL-keyed update row would still silently insert a
    # duplicate every batch — MERGE equality never matches NULL).  The
    # duplicate-key probe below stays parquet-only: Delta MERGE itself
    # raises "multiple source rows matched" for that case.
    null_cond = None
    for k in merge_keys:
        c = F.col(k).isNull()
        null_cond = c if null_cond is None else (null_cond | c)
    if fmt == "delta":
        # Probe BEFORE touching any Delta machinery — also lets the
        # env-gated test pin the gate's placement without delta-spark
        # installed (ValueError beats ImportError).
        if updates.filter(null_cond).limit(1).count():
            raise ValueError(
                "updates contain NULL merge key values; MERGE equality "
                "never matches NULL, so such rows can only duplicate — "
                "clean the batch first"
            )
        from delta.tables import DeltaTable

        target = DeltaTable.forPath(spark, target_path)
        cond = " AND ".join(f"existing.{k} = updates.{k}" for k in merge_keys)
        (
            target.alias("existing")
            .merge(updates.alias("updates"), cond)
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
        return

    # Parquet path: partition-scoped read-merge-rewrite.
    from pyspark.errors import AnalysisException

    try:
        existing_all = spark.read.parquet(target_path)
        existing_all.schema  # force resolution now, not at the join
    except AnalysisException:
        # Target doesn't exist yet: bootstrap with a plain write.
        (
            updates.write.mode("overwrite")
            .format("parquet")
            .partitionBy(partition_col)
            .save(target_path)
        )
        return

    # Bounded driver collect: limit(cap+1) so an over-cap batch costs one
    # small job, never an unbounded collect.
    part_rows = (
        updates.select(partition_col)
        .distinct()
        .limit(max_touched_partitions + 1)
        .collect()
    )
    if len(part_rows) > max_touched_partitions:
        raise ValueError(
            f"merge batch touches > {max_touched_partitions} distinct "
            f"'{partition_col}' partitions; partition-scoped upsert would "
            "degenerate into a full-table rewrite. Repartition the batch, "
            "raise max_touched_partitions explicitly, or use a plain "
            "overwrite."
        )
    parts = [r[0] for r in part_rows]
    if any(p is None for p in parts):
        raise ValueError(
            f"updates contain NULL '{partition_col}' values; partitioned "
            "upsert requires a non-null partition column"
        )

    if check_partition_immutability:
        movers = (
            existing_all.select(*merge_keys, partition_col)
            .join(
                updates.select(
                    *merge_keys, F.col(partition_col).alias("_new_part")
                ).distinct(),
                merge_keys,
            )
            .filter(F.col(partition_col) != F.col("_new_part"))
        )
        if movers.limit(1).count() > 0:
            raise ValueError(
                f"merge key(s) changed '{partition_col}' between target and "
                "updates; the parquet fallback would leave stale rows in the "
                "old partition. Use Delta MERGE or delete the old rows first."
            )

    # NULL update keys fail fast (round-10 sources hunt): SQL/Delta
    # MERGE equality never matches NULL, so a NULL-keyed update row can
    # only land NEXT TO the existing NULL-keyed row — a duplicate that
    # compounds every batch (probed live).  Same convention as
    # operators/deletes.py and ManifestTable._check_batch_keys: NULL
    # TARGET rows survive unmatched, NULL keys in the REQUEST raise.
    # (Null-safe matching was rejected: the Delta branch above uses SQL
    # equality and the two branches must not diverge.)
    # Delta-MERGE parity (same rules as ManifestTable._check_batch_keys):
    # two update rows for one key have no defined winner — the Delta
    # branch raises "multiple source rows matched", so the parquet
    # fallback must not silently land both.  Both checks ride ONE
    # bounded agg job when check_duplicate_keys is on; callers that
    # already reduce the batch to one winner per key
    # (write_stream_with_merge) pass False and pay only a limit-1 null
    # probe.  ``null_cond`` is built above the branch split so the NULL
    # gate covers Delta too.
    if check_duplicate_keys:
        stats = (
            updates.groupBy(*[F.col(k) for k in merge_keys])
            .agg(F.count(F.lit(1)).alias("_n"))
            .agg(
                F.max(null_cond.cast("int")).alias("_has_null"),
                F.max("_n").alias("_max_n"),
            )
            .collect()[0]
        )
        has_null = bool(stats["_has_null"])
        has_dup = (stats["_max_n"] or 0) > 1
    else:
        has_null = bool(updates.filter(null_cond).limit(1).count())
        has_dup = False
    if has_null:
        raise ValueError(
            "updates contain NULL merge key values; MERGE equality never "
            "matches NULL, so such rows can only duplicate — clean the "
            "batch first"
        )
    if has_dup:
        raise ValueError(
            "updates carry more than one row for at least one merge "
            "key — reduce the batch to one winner per key first; a "
            "multi-row upsert per key has no defined winner (Delta "
            "MERGE raises the same way)"
        )

    existing = existing_all.filter(F.col(partition_col).isin(parts))
    # new rows win: anti-join existing on the merge keys, then union
    survivors = existing.join(
        updates.select(*merge_keys).distinct(), merge_keys, "left_anti"
    )
    merged = survivors.unionByName(updates.select(*existing.columns))
    # Spark cannot overwrite a path it is reading from: pin the merged
    # partitions with an eager localCheckpoint (executor block manager —
    # cluster-valid, unlike a driver tempdir), then dynamic-overwrite
    # the target.  This replaced a disk-staging round-trip (write the
    # merged partitions to a sibling dir, read them back — two full
    # filesystem passes per call, compounding per micro-batch under
    # write_stream_with_merge).  Fault posture: dynamic overwrite
    # commits partitions at job end, so a failure — including executor
    # loss taking checkpoint blocks with it — aborts the job with the
    # target intact and the caller retries from the source.  Dynamic
    # overwrite stays a per-WRITE option, never session state.
    from unicargo_medallion_data_pipeline_spark.sources.staging import write_dynamic_overwrite

    write_dynamic_overwrite(merged.localCheckpoint(eager=True), target_path, partition_col)
