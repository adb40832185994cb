"""Bucketed-scan trust guard (r14 verdict item 1 / r15 task 1).

The session runs ``spark.sql.legacy.bucketedTableScan.outputOrdering=
true`` (session.py) so sort-merge joins over engine-written bucketed
tables skip their Sort.  Spark disabled that conf by default because a
bucket split across files makes the scan-claimed ordering FALSE — an
SMJ that trusts it returns wrong rows, not a slow plan.  The guard
scopes the trust: ``save_bucketed_table`` verifies one-file-per-bucket
on disk and stamps ``spark_graft.one_file_per_bucket``;
``read_bucketed_table`` refuses any bucketed table without a verifiable
layout.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from unicargo_medallion_data_pipeline_spark.sources.writers import (
    ONE_FILE_PER_BUCKET_PROP,
    BucketLayoutError,
    read_bucketed_table,
    save_bucketed_table,
    verify_one_file_per_bucket,
)


def _foreign_multifile_bucketed(spark, db: str, table: str) -> str:
    """Write a bucketed table the way a FOREIGN tool would: bucketBy
    without the pre-repartition, from a many-partition frame — every
    write task emits its own file per bucket, so each bucket is several
    independently-sorted runs and the concatenated bucket stream is NOT
    globally sorted."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    name = f"{db}.{table}"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    df = spark.range(0, 400).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("v")
    ).repartition(4)
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(2, "k")
        .sortBy("k")
        .saveAsTable(name)
    )
    return name


def test_engine_written_table_is_stamped_and_trusted(spark):
    df = spark.range(0, 200).select(
        (F.col("id") % 50).alias("k"), F.col("id").alias("v")
    ).repartition(8)
    name = save_bucketed_table(df, spark, "guard_db", "good_b", ["k"], 4)
    props = {
        r.key: r.value
        for r in spark.sql(f"SHOW TBLPROPERTIES {name}").collect()
    }
    assert props.get(ONE_FILE_PER_BUCKET_PROP) == "true"
    assert verify_one_file_per_bucket(spark, name)
    out = read_bucketed_table(spark, name)
    assert out.count() == 200


def test_foreign_multifile_bucketed_table_refuses(spark):
    name = _foreign_multifile_bucketed(spark, "guard_db", "bad_b")
    assert not verify_one_file_per_bucket(spark, name)
    with pytest.raises(BucketLayoutError):
        read_bucketed_table(spark, name)


def test_spark_itself_resorts_multifile_buckets(spark):
    """Pin the FIRST line of defense: even with the legacy conf on,
    Spark's planner lists the bucket files and only claims the scan
    ordering when every bucket is a single file — a naive catalog scan
    of the foreign multi-file table still plans a Sort under the SMJ
    (verified empirically here; FileSourceScanExec's
    singleFilePartitions check).  The engine's conf therefore cannot
    produce wrong rows on this Spark version; read_bucketed_table is
    defense-in-depth (clear refusal semantics, and protection should a
    future Spark drop the planning re-check or a non-listable
    filesystem hide the layout)."""
    import contextlib
    import io

    name = _foreign_multifile_bucketed(spark, "guard_db", "bad_naive_b")
    other = _foreign_multifile_bucketed(spark, "guard_db", "bad_naive_b2")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table(name).hint("merge").join(spark.table(other), "k")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Sort (" in plan, (
            "Spark no longer re-sorts multi-file buckets under the legacy "
            "conf — the session-wide trust in session.py is now UNSAFE for "
            "foreign tables; read_bucketed_table must become the only "
            "bucketed read path"
        )
        # and the merge result is the true cardinality (100 keys x 4 x 4)
        assert joined.count() == 1600
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_non_bucketed_table_passes_through(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS guard_db")
    spark.range(0, 10).write.mode("overwrite").format("parquet").saveAsTable(
        "guard_db.plain_t"
    )
    assert read_bucketed_table(spark, "guard_db.plain_t").count() == 10


def test_empty_bucketed_table_verifies_and_reads(spark):
    """r15 robustness sweep: an empty input writes ZERO bucket files —
    a valid layout (no bucket has more than one file); the write-time
    verify must stamp it and the guarded read must return 0 rows, not
    refuse."""
    empty = (
        spark.range(0, 10)
        .select((F.col("id") % 5).alias("k"), F.col("id").alias("v"))
        .filter(F.col("id") < 0)
    )
    name = save_bucketed_table(empty, spark, "guard_db", "empty_b", ["k"], 4)
    assert verify_one_file_per_bucket(spark, name)
    assert read_bucketed_table(spark, name).count() == 0


def test_trust_memo_invalidated_by_rewrite(spark):
    """r15: read_bucketed_table memoizes a TRUSTED verdict per (session,
    table) to skip the two catalog round trips on re-reads (~0.3 s/query
    measured locally).  The memo must never outlive the layout it
    vouched for: save_bucketed_table invalidates the entry for the name
    it rewrites, so the next read re-earns trust against the NEW table
    — and an untrusted (foreign) replacement written through the
    engine's own writer path still refuses."""
    from unicargo_medallion_data_pipeline_spark.session import session_state

    df = spark.range(0, 200).select(
        (F.col("id") % 10).alias("k"), F.col("id").alias("v")
    )
    name = save_bucketed_table(df, spark, "bg_memo", "t", ["k"], 4)
    # The verdicts live in the session's own state, so a new session
    # never inherits a dead session's verdict.
    assert name in session_state(spark).get("trusted_bucketed", set())  # write seeds the memo
    read_bucketed_table(spark, name)           # memo hit, still fine
    assert name in session_state(spark).get("trusted_bucketed", set())

    # A rewrite through the engine's writer drops the stale verdict
    # before the new write, and re-seeds it only after re-verification.
    save_bucketed_table(df, spark, "bg_memo", "t", ["k"], 8)
    assert name in session_state(spark).get("trusted_bucketed", set())  # re-earned by the write
    out = read_bucketed_table(spark, name)
    assert out.count() == 200
