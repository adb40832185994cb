"""Key-erasure propagation (GDPR-style "right to be forgotten") with a
partition-scoped rewrite and a per-partition audit trail.

The reference has no deletion story at all — its tables are rebuilt
wholesale per run (``src/io_utils/write_to_table_utils.py:41-46``
overwrite) — but a lake-scale pipeline needs targeted deletion: given a
set of subject keys, remove every matching row from a stored table
without rewriting the table.  Posture mirrors
``sources/merge.merge_upsert_partitioned`` (S12):

* Delta available → transactional ``MERGE ... whenMatchedDelete``.
* Parquet fallback → **partition-scoped rewrite**: one column-pruned
  semi-scan finds the partitions that actually contain matching keys,
  only those partitions are read back, anti-joined, and rewritten with
  dynamic partition overwrite.  At 100 TB with ~1k touched day
  partitions this rewrites ~0.1% of the table; the key set is typically
  tiny and broadcasts, so the anti-join never shuffles the table.

Both paths return the same audit DataFrame (one row per touched
partition: rows before / after / deleted) — the compliance artifact a
deletion job must emit.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unicargo_medallion_data_pipeline_spark.sources.staging import (
    write_dynamic_overwrite,
    remove_path,
)
from unicargo_medallion_data_pipeline_spark.sources.writers import delta_available

#: Audit schema returned by :func:`propagate_deletes`.
AUDIT_COLS = ("partition", "rows_before", "rows_after", "rows_deleted")


def _audit_df(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    return spark.createDataFrame(
        rows or [],
        "partition string, rows_before bigint, rows_after bigint, rows_deleted bigint",
    )


def propagate_deletes(
    spark: SparkSession,
    target_path: str,
    delete_keys: DataFrame,
    key_cols: list[str],
    partition_col: str,
    max_touched_partitions: int = 4096,
) -> DataFrame:
    """Delete every row of the table at ``target_path`` whose ``key_cols``
    match a row of ``delete_keys``; return the per-partition audit.

    Contract:

    * ``delete_keys`` must be non-null on every key column — a NULL key
      can never match under ``=`` semantics, and silently no-op'ing a
      deletion request is a compliance hazard, so it raises instead.
    * Target rows with NULL keys never match (they survive), same as
      SQL ``DELETE WHERE k IN (...)``.
    * Partitions whose every row is deleted are removed from disk — the
      dynamic-overwrite pass only rewrites partitions present in the
      surviving data, so emptied partition directories are dropped
      explicitly.  (Directory naming follows Spark's ``col=value``
      convention; primitive partition values — int, date, plain string —
      round-trip exactly.)
    * If the erasure empties the ENTIRE table, a zero-row parquet file
      carrying the full schema (partition column inlined) is written in
      place of the partitioned layout — otherwise the directory would
      hold no data files at all and every subsequent read would fail
      schema inference.  An empty table needs no partition pruning, so
      the layout change is harmless, and the next bootstrap write
      re-partitions it.
    * A request touching more than ``max_touched_partitions`` partitions
      fails fast before any write: at that point a full-table rewrite is
      the honest operation and should be requested explicitly.

    The audit lists only TOUCHED partitions (those containing at least
    one matching key); untouched partitions are never read past the
    initial column-pruned semi-scan.
    """
    keys = delete_keys.select(*key_cols).distinct()
    null_cond = None
    for k in key_cols:
        c = F.col(k).isNull()
        null_cond = c if null_cond is None else (null_cond | c)
    if keys.filter(null_cond).limit(1).count():
        raise ValueError(
            f"delete_keys contain NULL values in {key_cols}; a NULL key "
            "never matches and would silently skip a deletion request"
        )

    # Dispatch on what the TARGET actually is, not on import
    # availability: in a delta-enabled environment a plain-parquet
    # target (e.g. the erasure-audit catalog query's staged table)
    # would otherwise hit DeltaTable.forPath and die with "not a Delta
    # table" instead of taking the parquet rewrite below.
    if delta_available():
        from delta.tables import DeltaTable

        if DeltaTable.isDeltaTable(spark, target_path):
            target = DeltaTable.forPath(spark, target_path)
            before = (
                target.toDF()
                .join(keys, key_cols, "left_semi")
                .groupBy(F.col(partition_col).cast("string").alias("partition"))
                .count()
                .collect()
            )
            # The blast-radius cap is part of the documented contract on
            # BOTH paths — without it the Delta branch would run an
            # unbounded full-table-scale MERGE the parquet path refuses.
            if len(before) > max_touched_partitions:
                raise ValueError(
                    f"deletion touches > {max_touched_partitions} distinct "
                    f"'{partition_col}' partitions; a delete at that scale "
                    "should be an explicit full rewrite. Raise "
                    "max_touched_partitions explicitly."
                )
            cond = " AND ".join(f"t.{k} = d.{k}" for k in key_cols)
            target.alias("t").merge(
                keys.alias("d"), cond
            ).whenMatchedDelete().execute()
            # After a whenMatchedDelete, every matched row is gone: per
            # touched partition rows_deleted == matched count.
            after = {
                r["partition"]: r["count"]
                for r in (
                    target.toDF()
                    .groupBy(
                        F.col(partition_col).cast("string").alias("partition")
                    )
                    .count()
                    .collect()
                )
            }
            rows = []
            for r in before:
                part = r["partition"]
                deleted = r["count"]
                remaining = after.get(part, 0)
                rows.append((part, remaining + deleted, remaining, deleted))
            return _audit_df(spark, rows)
        # delta importable but the target is plain parquet: fall through
        # to the partition-scoped rewrite below

    # ---- parquet path: partition-scoped rewrite -------------------------
    existing_all = spark.read.parquet(target_path)
    existing_all.schema  # resolve now for a clear missing-table error

    # One column-pruned pass: per-partition matching-row counts.  The
    # collect is bounded metadata (≤ touched-partition rows), the same
    # discipline as merge_upsert_partitioned's partition list.
    # ``part_str`` is Spark's OWN string rendering of the partition value
    # (cast-to-string), which is also how the value appears (unescaped) in
    # the partition directory name.  Every audit/cleanup dict below keys on
    # it — never on ``str(python_value)``, whose repr diverges from Spark's
    # for booleans ('True' vs 'true') and trailing-zero decimals, which
    # would leave an emptied directory alive while the audit reported its
    # rows deleted.
    matched_counts = (
        existing_all.select(partition_col, *key_cols)
        .join(keys, key_cols, "left_semi")
        .groupBy(partition_col)
        .count()
        .withColumn("part_str", F.col(partition_col).cast("string"))
        .limit(max_touched_partitions + 1)
        .collect()
    )
    if len(matched_counts) > max_touched_partitions:
        raise ValueError(
            f"deletion touches > {max_touched_partitions} distinct "
            f"'{partition_col}' partitions; a partition-scoped rewrite would "
            "degenerate into a full-table rewrite. Raise "
            "max_touched_partitions explicitly or run a full overwrite."
        )
    if not matched_counts:
        return _audit_df(spark, [])
    parts = [r[0] for r in matched_counts]
    part_strs = [
        "None" if r["part_str"] is None else r["part_str"]
        for r in matched_counts
    ]
    deleted_by_part = dict(
        zip(part_strs, (r["count"] for r in matched_counts))
    )

    # Partition-column-only distinct (values come from directory names —
    # no data pages are read): needed to detect the table-fully-emptied
    # edge below.
    all_parts = {
        "None" if r[0] is None else r[0]
        for r in existing_all.select(
            F.col(partition_col).cast("string")
        )
        .distinct()
        .collect()
    }

    # NULL-safe partition selection: isin() is never true for NULL, so
    # rows in the __HIVE_DEFAULT_PARTITION__ partition would be excluded
    # from the rewrite while the partition still landed in `emptied` —
    # and the cleanup below would then delete the whole null-partition
    # directory including rows that matched NO delete key (silent data
    # loss with an inconsistent audit).
    non_null_parts = [p for p in parts if p is not None]
    part_filter = (
        F.col(partition_col).isin(non_null_parts)
        if non_null_parts
        else F.lit(False)
    )
    if any(p is None for p in parts):
        part_filter = part_filter | F.col(partition_col).isNull()
    touched = existing_all.filter(part_filter)
    before_counts = {
        "None" if r[0] is None else r[0]: r["count"]
        for r in touched.groupBy(
            F.col(partition_col).cast("string")
        )
        .count()
        .collect()
    }
    survivors = touched.join(keys, key_cols, "left_anti")

    # `survivors` reads the partitions it will overwrite: pin its blocks
    # with an eager localCheckpoint, then dynamic-overwrite.  The pinned
    # frame also serves the after-count audit below without a re-read.
    staged = survivors.localCheckpoint(eager=True)
    write_dynamic_overwrite(staged, target_path, partition_col)
    # Emptied partitions are absent from the staged data, so dynamic
    # overwrite left their old files alive: drop the directories.
    # The on-disk names carry Hive/Spark %XX escaping (and the null
    # sentinel), so NEVER construct them from the raw value — a
    # value containing ':' or ' ' would target a path that does not
    # exist, fs.delete would no-op silently, and the "erased" rows
    # would stay readable while the audit claimed zero.  Instead
    # list the real directories and match their UNESCAPED values —
    # parsed back through the partition column's (read-back) type
    # and re-rendered by cast-to-string, so both sides compare in
    # the same canonical space even when the dir rendering differs
    # from the column's string form (decimal 'rate=1.10' reads back
    # as double → '1.1').
    after_counts = {
        "None" if r[0] is None else r[0]: r["count"]
        for r in staged.groupBy(
            F.col(partition_col).cast("string")
        )
        .count()
        .collect()
    }
    emptied = {
        ps for ps in part_strs if after_counts.get(ps, 0) == 0
    }
    if emptied:
        from unicargo_medallion_data_pipeline_spark.sources.compaction import (
            _parse_partition_dir,
        )

        jvm = spark._jvm
        hroot = jvm.org.apache.hadoop.fs.Path(target_path)
        fs = hroot.getFileSystem(spark._jsc.hadoopConfiguration())
        cand: list[tuple[str, str | None]] = []
        for st in fs.listStatus(hroot):
            name = st.getPath().getName()
            if not st.isDirectory() or "=" not in name:
                continue
            col, val = _parse_partition_dir(name)[0]
            if col != partition_col:
                continue
            cand.append((name, val))
        # Canonicalize the raw dir values through the column's type
        # (one tiny driver-local job over ≤ #partition-dirs rows).
        # The dir NAME rides along in the frame and the mapping is
        # keyed on it — never positional (r8 ADVICE item 5: a zip
        # against collect() order would, if row order ever shifted,
        # delete a non-emptied directory).
        ptype = existing_all.schema[partition_col].dataType
        canon_by_name: dict[str, str | None] = (
            {
                r["name"]: r["cval"]
                for r in spark.createDataFrame(
                    [(n, v) for n, v in cand], "name string, v string"
                )
                .select(
                    "name",
                    F.col("v").cast(ptype).cast("string").alias("cval"),
                )
                .collect()
            }
            if cand
            else {}
        )
        for name, val in cand:
            cval = canon_by_name.get(name)
            if val is None:
                key = "None"
            elif cval is None:
                continue  # unparseable under the column type: not ours
            else:
                key = cval
            if key in emptied:
                remove_path(
                    spark, posixpath.join(target_path, name)
                )
    if emptied == all_parts:
        # Every partition of the table was erased: leave a readable
        # zero-row table (schema footer, partition column inlined)
        # instead of a directory with no data files.
        (
            spark.createDataFrame([], existing_all.schema)
            .repartition(1)
            .write.mode("overwrite")
            .parquet(target_path)
        )

    rows = [
        (
            p,
            before_counts.get(p, 0),
            after_counts.get(p, 0),
            deleted_by_part.get(p, 0),
        )
        for p in sorted(part_strs)
    ]
    return _audit_df(spark, rows)
