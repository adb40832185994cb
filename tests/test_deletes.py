"""Key-erasure propagation (operators/deletes.py): partition-scoped
rewrite semantics, audit arithmetic, emptied-partition cleanup, NULL-key
rejection, and the touched-partition cap."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from unicargo_medallion_data_pipeline_spark.operators.deletes import propagate_deletes


def _seed(spark, path: str):
    df = spark.createDataFrame(
        [
            # part "a": users 1, 2, 3
            (1, 1, "a"),
            (2, 2, "a"),
            (3, 3, "a"),
            # part "b": users 2 only (emptied when 2 is erased with 9)
            (4, 2, "b"),
            # part "c": untouched (no erased users)
            (5, 9, "c"),
            (6, None, "c"),
        ],
        "row_id int, user_id int, part string",
    )
    df.write.mode("overwrite").partitionBy("part").parquet(path)


def test_partition_scoped_delete_and_audit(spark, tmp_path):
    path = os.path.join(tmp_path, "t")
    _seed(spark, path)
    keys = spark.createDataFrame([(2,)], "user_id int")

    audit = propagate_deletes(
        spark, path, keys, key_cols=["user_id"], partition_col="part"
    )
    rows = {r["partition"]: r for r in audit.collect()}
    # Only partitions containing user 2 are audited (c untouched).
    assert set(rows) == {"a", "b"}
    assert (rows["a"]["rows_before"], rows["a"]["rows_after"], rows["a"]["rows_deleted"]) == (3, 2, 1)
    assert (rows["b"]["rows_before"], rows["b"]["rows_after"], rows["b"]["rows_deleted"]) == (1, 0, 1)

    left = spark.read.parquet(path)
    assert sorted(r["row_id"] for r in left.collect()) == [1, 3, 5, 6]
    # Emptied partition directory is gone, not just empty.
    assert not os.path.exists(os.path.join(path, "part=b"))
    # Untouched partition files were not rewritten.
    assert left.filter(F.col("part") == "c").count() == 2


def test_null_target_keys_survive(spark, tmp_path):
    """Target rows with NULL keys never match (SQL DELETE semantics)."""
    path = os.path.join(tmp_path, "t")
    _seed(spark, path)
    keys = spark.createDataFrame([(9,)], "user_id int")
    audit = propagate_deletes(
        spark, path, keys, key_cols=["user_id"], partition_col="part"
    )
    rows = {r["partition"]: r for r in audit.collect()}
    assert set(rows) == {"c"}
    assert (rows["c"]["rows_before"], rows["c"]["rows_after"], rows["c"]["rows_deleted"]) == (2, 1, 1)
    # The NULL-user row survived.
    left = spark.read.parquet(path).filter(F.col("part") == "c")
    assert [r["user_id"] for r in left.collect()] == [None]


def test_null_delete_keys_raise(spark, tmp_path):
    path = os.path.join(tmp_path, "t")
    _seed(spark, path)
    keys = spark.createDataFrame([(None,)], "user_id int")
    with pytest.raises(ValueError, match="NULL"):
        propagate_deletes(
            spark, path, keys, key_cols=["user_id"], partition_col="part"
        )


def test_no_match_is_noop(spark, tmp_path):
    path = os.path.join(tmp_path, "t")
    _seed(spark, path)
    keys = spark.createDataFrame([(999,)], "user_id int")
    audit = propagate_deletes(
        spark, path, keys, key_cols=["user_id"], partition_col="part"
    )
    assert audit.count() == 0
    assert spark.read.parquet(path).count() == 6


def test_touched_partition_cap(spark, tmp_path):
    path = os.path.join(tmp_path, "t")
    _seed(spark, path)
    keys = spark.createDataFrame([(2,)], "user_id int")
    with pytest.raises(ValueError, match="touches >"):
        propagate_deletes(
            spark,
            path,
            keys,
            key_cols=["user_id"],
            partition_col="part",
            max_touched_partitions=1,
        )
    # Fail-fast: nothing was modified.
    assert spark.read.parquet(path).count() == 6


def test_idempotent_redelivery(spark, tmp_path):
    """Replaying the same erasure request is a no-op with an empty audit."""
    path = os.path.join(tmp_path, "t")
    _seed(spark, path)
    keys = spark.createDataFrame([(2,)], "user_id int")
    propagate_deletes(spark, path, keys, key_cols=["user_id"], partition_col="part")
    audit2 = propagate_deletes(
        spark, path, keys, key_cols=["user_id"], partition_col="part"
    )
    assert audit2.count() == 0
    assert spark.read.parquet(path).count() == 4


def test_emptied_partition_cleanup_with_escaped_dir_names(spark, tmp_path):
    """Partition values Spark %XX-escapes on disk ('a:b' → 'a%3Ab'): the
    emptied-partition cleanup must delete the REAL directory, not a
    path built from the raw value (which does not exist — fs.delete
    would no-op silently and the 'erased' rows would stay readable).
    Numeric-looking string values ('00', '07') stay strings: the
    emptied 'part=00' dir is matched under its own name (not as 0),
    and the survivor reads back as '07'."""
    path = os.path.join(tmp_path, "t")
    spark.createDataFrame(
        [(1, 7, "x:1"), (2, 7, "x:2"), (3, 8, "x:2"), (4, 7, "00"), (5, 8, "07")],
        "row_id int, user_id int, part string",
    ).write.mode("overwrite").partitionBy("part").parquet(path)
    # on-disk form is escaped
    assert any(":" not in d and "x%3A1" in d for d in os.listdir(path)), (
        "precondition: Spark escapes ':' in partition dirs"
    )

    keys = spark.createDataFrame([(7,)], "user_id int")
    propagate_deletes(
        spark, path, keys, key_cols=["user_id"], partition_col="part"
    )
    # partition x:1 was fully emptied: its directory must be GONE
    assert not any("x%3A1" in d for d in os.listdir(path)), (
        "escaped emptied-partition directory survived the cleanup"
    )
    assert "part=00" not in os.listdir(path), (
        "numeric-looking emptied-partition directory survived the cleanup"
    )
    left = spark.read.parquet(path)
    assert [(r["row_id"], r["part"]) for r in left.orderBy("row_id").collect()] == [
        (3, "x:2"), (5, "07")
    ]


def test_null_partition_rows_survive_unmatched(spark, tmp_path):
    """Rows in the NULL partition that match NO delete key must survive:
    isin() is never true for NULL, so they were excluded from the
    rewrite while the whole __HIVE_DEFAULT_PARTITION__ directory was
    deleted as 'emptied' — silent data loss."""
    path = os.path.join(tmp_path, "t")
    spark.createDataFrame(
        [(1, 7, None), (2, 8, None), (3, 8, "a")],
        "row_id int, user_id int, part string",
    ).write.mode("overwrite").partitionBy("part").parquet(path)

    keys = spark.createDataFrame([(7,)], "user_id int")
    audit = propagate_deletes(
        spark, path, keys, key_cols=["user_id"], partition_col="part"
    )
    left = spark.read.parquet(path)
    rows = {(r["row_id"], r["part"]) for r in left.collect()}
    assert rows == {(2, None), (3, "a")}, (
        "non-matching NULL-partition row was destroyed"
    )
    # audit is internally consistent for the null partition
    (arow,) = [r for r in audit.collect() if r["partition"] == "None"]
    assert arow["rows_before"] == 2 and arow["rows_deleted"] == 1


def test_null_partition_fully_emptied_is_removed(spark, tmp_path):
    """When every NULL-partition row matches, the sentinel directory IS
    removed (the legitimate emptied-partition cleanup)."""
    path = os.path.join(tmp_path, "t")
    spark.createDataFrame(
        [(1, 7, None), (2, 9, "a")], "row_id int, user_id int, part string"
    ).write.mode("overwrite").partitionBy("part").parquet(path)
    keys = spark.createDataFrame([(7,)], "user_id int")
    propagate_deletes(
        spark, path, keys, key_cols=["user_id"], partition_col="part"
    )
    assert not any("HIVE_DEFAULT" in d for d in os.listdir(path))
    assert [r["row_id"] for r in spark.read.parquet(path).collect()] == [2]


def test_bool_partition_emptied_dir_removed(spark, tmp_path):
    """Partition types whose Python repr differs from Spark's directory
    rendering (bool True vs 'true') must still get their emptied
    directory removed — the cleanup keys on Spark's own cast-to-string
    rendering, never str(python_value)."""
    path = os.path.join(tmp_path, "t")
    spark.createDataFrame(
        [(1, 7, True), (2, 8, False)], "row_id int, user_id int, flagged boolean"
    ).write.mode("overwrite").partitionBy("flagged").parquet(path)
    assert os.path.exists(os.path.join(path, "flagged=true"))

    keys = spark.createDataFrame([(7,)], "user_id int")
    audit = propagate_deletes(
        spark, path, keys, key_cols=["user_id"], partition_col="flagged"
    )
    # the emptied flagged=true directory is GONE (not just empty) and
    # the erased row is unreadable
    assert not os.path.exists(os.path.join(path, "flagged=true"))
    left = spark.read.parquet(path)
    assert [r["row_id"] for r in left.collect()] == [2]
    # audit keys use Spark's rendering too
    (arow,) = audit.collect()
    assert arow["partition"] == "true"
    assert (arow["rows_before"], arow["rows_after"], arow["rows_deleted"]) == (1, 0, 1)


def test_decimal_partition_emptied_dir_removed(spark, tmp_path):
    """Decimal partition values render with scale-padded trailing zeros
    ('1.10'); the cleanup must match that rendering, not repr()."""
    from decimal import Decimal

    path = os.path.join(tmp_path, "t")
    spark.createDataFrame(
        [(1, 7, Decimal("1.1")), (2, 8, Decimal("2.5"))],
        "row_id int, user_id int, rate decimal(10,2)",
    ).write.mode("overwrite").partitionBy("rate").parquet(path)

    keys = spark.createDataFrame([(7,)], "user_id int")
    propagate_deletes(
        spark, path, keys, key_cols=["user_id"], partition_col="rate"
    )
    dirs = [d for d in os.listdir(path) if d.startswith("rate=")]
    assert all("1.1" not in d for d in dirs), f"emptied dir survived: {dirs}"
    assert [r["row_id"] for r in spark.read.parquet(path).collect()] == [2]


def test_timestamp_partition_emptied_dir_removed(spark, tmp_path):
    """Timestamp partition values escape ':' as %3A in the directory
    name AND need type-canonicalized comparison — the two hazards
    compose.  The emptied dir must be removed via the listing-based
    matcher, never by constructing the escaped name from the value."""
    import datetime as _dt

    path = os.path.join(tmp_path, "t")
    t1 = _dt.datetime(2024, 1, 1, 12, 30, 0)
    t2 = _dt.datetime(2024, 1, 2, 7, 15, 0)
    spark.createDataFrame(
        [(1, 7, t1), (2, 8, t2)], "row_id int, user_id int, batch_ts timestamp"
    ).write.mode("overwrite").partitionBy("batch_ts").parquet(path)
    # sanity: dir name carries escaping
    assert any("%3A" in d for d in os.listdir(path) if d.startswith("batch_ts="))

    keys = spark.createDataFrame([(7,)], "user_id int")
    audit = propagate_deletes(
        spark, path, keys, key_cols=["user_id"], partition_col="batch_ts"
    )
    dirs = [d for d in os.listdir(path) if d.startswith("batch_ts=")]
    assert len(dirs) == 1 and "01-02" in dirs[0], f"emptied ts dir survived: {dirs}"
    assert [r["row_id"] for r in spark.read.parquet(path).collect()] == [2]
    (arow,) = audit.collect()
    assert (arow["rows_before"], arow["rows_after"], arow["rows_deleted"]) == (1, 0, 1)
