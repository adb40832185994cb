"""Round-11 hardening pins: promote_table crash recovery (rename-aside
swap), the hoisted NULL-merge-key gate (ADVICE 1), nullability-normalized
append compatibility (ADVICE 2), bronze staging cleanup on ANY failure
(ADVICE 3), and nested-map canonical JSON (verdict task 7)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F


# --- promote_table rename-aside crash windows --------------------------------


def _mk_table(spark, name: str, rows):
    spark.createDataFrame(rows, "k int, v string").write.mode(
        "overwrite"
    ).format("parquet").saveAsTable(name)


def _vals(spark, name: str) -> set:
    return {(r["k"], r["v"]) for r in spark.read.table(name).collect()}


@pytest.fixture()
def promote_db(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS promote_test")
    yield "promote_test"
    for t in spark.catalog.listTables("promote_test"):
        spark.sql(f"DROP TABLE IF EXISTS promote_test.{t.name}")


def test_promote_swaps_and_cleans_backup(spark, promote_db):
    from unicargo_medallion_data_pipeline_spark.sources.writers import promote_table

    _mk_table(spark, f"{promote_db}.f", [(1, "old")])
    _mk_table(spark, f"{promote_db}.f__staging", [(2, "new")])
    promote_table(spark, f"{promote_db}.f__staging", f"{promote_db}.f")
    assert _vals(spark, f"{promote_db}.f") == {(2, "new")}
    names = {t.name for t in spark.catalog.listTables(promote_db)}
    assert "f__staging" not in names and "f__prev" not in names


def test_promote_first_publish_no_final_yet(spark, promote_db):
    from unicargo_medallion_data_pipeline_spark.sources.writers import promote_table

    _mk_table(spark, f"{promote_db}.g__staging", [(7, "first")])
    promote_table(spark, f"{promote_db}.g__staging", f"{promote_db}.g")
    assert _vals(spark, f"{promote_db}.g") == {(7, "first")}


def _crashing_sql(spark, monkeypatch, should_crash):
    """Wrap spark.sql to raise when ``should_crash(statement, n_seen)``
    returns True — simulating a process death at that exact statement
    (the statement does NOT execute)."""
    real = spark.sql
    seen: list[str] = []

    def wrapper(stmt, *a, **kw):
        seen.append(stmt)
        if should_crash(stmt, seen):
            raise RuntimeError(f"simulated crash before: {stmt}")
        return real(stmt, *a, **kw)

    monkeypatch.setattr(spark, "sql", wrapper)
    return seen


def test_promote_crash_after_rename_aside_is_rerunnable(
    spark, promote_db, monkeypatch
):
    """Round-10 verdict finding 1: die between the rename-aside and the
    publish rename.  The published name is transiently absent, but BOTH
    the old data (__prev) and the new data (staging) survive, and simply
    re-running promote_table completes the publish."""
    from unicargo_medallion_data_pipeline_spark.sources.writers import promote_table

    f, s = f"{promote_db}.h", f"{promote_db}.h__staging"
    _mk_table(spark, f, [(1, "old")])
    _mk_table(spark, s, [(2, "new")])

    _crashing_sql(
        spark, monkeypatch, lambda stmt, _: stmt == f"ALTER TABLE {s} RENAME TO {f}"
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        promote_table(spark, s, f)
    monkeypatch.undo()

    # crash window: final absent, but old + new both reachable
    assert not spark.catalog.tableExists(f)
    assert _vals(spark, f"{f}__prev") == {(1, "old")}
    assert _vals(spark, s) == {(2, "new")}

    # mechanical recovery: re-run the same call
    promote_table(spark, s, f)
    assert _vals(spark, f) == {(2, "new")}
    names = {t.name for t in spark.catalog.listTables(promote_db)}
    assert "h__prev" not in names and "h__staging" not in names


def test_promote_crash_after_publish_rerun_keeps_new_table(
    spark, promote_db, monkeypatch
):
    """Die AFTER the publish rename but before the backup drop: the
    re-run must recognize the completed promote (staging gone, final
    present) and only clean the leftover __prev — never rename the good
    final aside."""
    from unicargo_medallion_data_pipeline_spark.sources.writers import promote_table

    f, s = f"{promote_db}.i", f"{promote_db}.i__staging"
    _mk_table(spark, f, [(1, "old")])
    _mk_table(spark, s, [(2, "new")])

    drop_prev = f"DROP TABLE IF EXISTS {f}__prev"
    _crashing_sql(
        spark,
        monkeypatch,
        lambda stmt, seen: stmt == drop_prev and seen.count(drop_prev) == 2,
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        promote_table(spark, s, f)
    monkeypatch.undo()

    # publish completed; only the backup lingers
    assert _vals(spark, f) == {(2, "new")}
    assert _vals(spark, f"{f}__prev") == {(1, "old")}

    promote_table(spark, s, f)  # recovery re-run (staging already gone)
    assert _vals(spark, f) == {(2, "new")}
    assert "i__prev" not in {t.name for t in spark.catalog.listTables(promote_db)}


def test_promote_nothing_to_publish_raises(spark, promote_db):
    from unicargo_medallion_data_pipeline_spark.sources.writers import promote_table

    with pytest.raises(ValueError, match="nothing to publish"):
        promote_table(spark, f"{promote_db}.nope__staging", f"{promote_db}.nope")


# --- ADVICE 1: NULL-merge-key gate covers the Delta branch -------------------


def test_merge_null_key_gate_precedes_delta_machinery(spark, tmp_path):
    """With file_format='delta' forced, a NULL-keyed batch must die on
    the NULL-key ValueError BEFORE any Delta import/machinery runs —
    pinning that the gate sits ABOVE the Delta early-return (previously
    the Delta branch skipped it entirely).  Runs without delta-spark
    installed precisely because the gate fires first (ImportError would
    mean the gate is still below the import)."""
    from unicargo_medallion_data_pipeline_spark.sources.merge import (
        merge_upsert_partitioned,
    )

    updates = spark.createDataFrame([(None, "d1", 1.0)], "k int, day string, v double")
    with pytest.raises(ValueError, match="NULL merge key"):
        merge_upsert_partitioned(
            spark, str(tmp_path / "t"), updates, ["k"], "day", file_format="delta"
        )


# --- ADVICE 2: append compatibility ignores nullability flags ----------------


def test_append_accepts_nested_nullability_variants(spark, tmp_path):
    """A literal-built array column (containsNull=false) appended onto a
    read-back table (containsNull=true) is physically identical parquet
    — the strict dataType equality used to reject it as a 'retype' with
    an error showing two identical simpleStrings."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StructField,
        StructType,
    )

    from unicargo_medallion_data_pipeline_spark.sources.acid import ManifestTable

    t = ManifestTable(spark, str(tmp_path / "t"))
    loose = StructType(
        [
            StructField("k", IntegerType(), True),
            StructField("v", ArrayType(IntegerType(), True), True),
        ]
    )
    tight = StructType(
        [
            StructField("k", IntegerType(), False),
            StructField("v", ArrayType(IntegerType(), False), False),
        ]
    )
    t.commit(spark.createDataFrame([(1, [1, 2])], loose))
    # physically-compatible append, differing only in nullability flags
    t.commit(spark.createDataFrame([(2, [3])], tight), mode="append")
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {1: [1, 2], 2: [3]}
    # a GENUINE retype still raises
    with pytest.raises(ValueError, match="retype"):
        t.commit(
            spark.createDataFrame([(3, ["x"])], "k int, v array<string>"),
            mode="append",
        )


# --- ADVICE 3: bronze staging cleanup on any failure --------------------------


def test_bronze_good_write_failure_leaks_no_staging(spark, monkeypatch):
    """A failure in the GOOD-side staged write (after the quarantine
    staging table was already written) must not leak the quarantine
    __staging table, and must leave the previous published pair intact."""
    from unicargo_medallion_data_pipeline_spark.pipelines import medallion as med

    d = tempfile.mkdtemp(prefix="stg_leak_")
    p = os.path.join(d, "airlines.csv")
    with open(p, "w") as f:
        f.write("iata_code,airline\nAA,American Airlines\nXX,Bad,extra,cols\n")
    cfg = {
        "environments": {"leak": {"storage_root": tempfile.mkdtemp(prefix="lwh_")}},
        "tables": {
            "airlines": {"bronze": {"table": "airlines_raw", "source_format": "csv"}}
        },
    }
    med.run_bronze(spark, {"airlines": p}, environment="leak", config=cfg)
    assert spark.read.table("leak_bronze.airlines_raw").count() == 1

    real = med.save_to_table

    def failing(df, config, spark_, **kw):
        if config.table.endswith("__staging") and "quarantine" not in config.table:
            raise RuntimeError("simulated good-side write failure")
        return real(df, config, spark_, **kw)

    monkeypatch.setattr(med, "save_to_table", failing)
    with pytest.raises(RuntimeError, match="good-side write failure"):
        med.run_bronze(spark, {"airlines": p}, environment="leak", config=cfg)
    monkeypatch.undo()

    staged = [
        t.name
        for t in spark.catalog.listTables("leak_bronze")
        if "__staging" in t.name
    ]
    assert staged == []
    # previous published pair untouched
    assert spark.read.table("leak_bronze.airlines_raw").count() == 1
    assert spark.read.table("leak_bronze.airlines_raw_quarantine").count() == 1


# --- task 7: nested-map canonical JSON ----------------------------------------


def test_canonical_json_nested_maps_order_insensitive(spark):
    """Maps nested under struct / array / map-value containers must
    render identically regardless of stored entry order (previously only
    TOP-LEVEL maps were canonicalized)."""
    from unicargo_medallion_data_pipeline_spark.functions.hashing import canonical_json

    df = spark.sql(
        """
        SELECT
          named_struct('m', map('a', 1, 'b', 2), 'x', 7)        AS s_fwd,
          named_struct('m', map('b', 2, 'a', 1), 'x', 7)        AS s_rev,
          array(map('k1', 10, 'k2', 20))                         AS a_fwd,
          array(map('k2', 20, 'k1', 10))                         AS a_rev,
          map('outer', map('p', 1, 'q', 2))                      AS mm_fwd,
          map('outer', map('q', 2, 'p', 1))                      AS mm_rev,
          named_struct('m', map('a', 1, 'b', 3), 'x', 7)         AS s_other,
          CAST(NULL AS struct<m: map<string,int>, x: int>)       AS s_null,
          named_struct('m', CAST(NULL AS map<string,int>),
                       'x', CAST(NULL AS int))                   AS s_null_fields
        """
    )
    types = {f.name: f.dataType for f in df.schema.fields}
    row = df.select(
        *[canonical_json(F.col(c), types[c]).alias(c) for c in df.columns]
    ).collect()[0]
    assert row["s_fwd"] == row["s_rev"]
    assert row["a_fwd"] == row["a_rev"]
    assert row["mm_fwd"] == row["mm_rev"]
    assert row["s_fwd"] != row["s_other"]  # different VALUES still differ
    # NULL struct stays distinct from a struct of NULL fields
    assert row["s_null"] != row["s_null_fields"]
    assert row["s_null"] == "{}"


def test_scd2_nested_map_reorder_is_not_a_change(spark):
    """End-to-end: an SCD2 apply whose tracked struct<map> column is
    rebuilt in reversed entry order must produce ZERO new versions."""
    from unicargo_medallion_data_pipeline_spark.operators.scd2 import apply_scd2

    target = tempfile.mkdtemp(prefix="scd2_nested_")
    base = spark.sql(
        "SELECT 1 AS k, named_struct('m', map('a', 1, 'b', 2)) AS payload, "
        "TIMESTAMP '2026-01-01 00:00:00' AS effective_ts"
    )
    apply_scd2(spark, target, base, key_cols=["k"], tracked_cols=["payload"])
    reordered = spark.sql(
        "SELECT 1 AS k, named_struct('m', map('b', 2, 'a', 1)) AS payload, "
        "TIMESTAMP '2026-01-02 00:00:00' AS effective_ts"
    )
    apply_scd2(spark, target, reordered, key_cols=["k"], tracked_cols=["payload"])
    hist = spark.read.parquet(target)
    assert hist.count() == 1, "reordered nested map must not open a new version"
