"""SCD2 dimension maintenance: bootstrap, close+insert on change,
no-op on identical snapshots (idempotent re-delivery), chained version
history, out-of-order rejection, point-in-time reconstruction."""

from __future__ import annotations

import datetime as dt
import os
import tempfile

import pytest
from pyspark.sql import functions as F

SCHEMA = "airline_id long, name string, country string, effective_ts timestamp"

T = lambda d: dt.datetime(2024, 1, d, 0, 0, 0)


def _updates(spark, rows):
    return spark.createDataFrame(
        [(i, n, c, T(d)) for i, n, c, d in rows], SCHEMA
    )


def _apply(spark, path, rows):
    from unicargo_medallion_data_pipeline_spark.operators.scd2 import apply_scd2

    apply_scd2(
        spark, path, _updates(spark, rows),
        key_cols=["airline_id"], tracked_cols=["name", "country"],
    )


def _state(spark, path):
    return {
        (r["airline_id"], r["effective_from"], r["effective_to"]): (
            r["name"], r["country"], r["is_current"]
        )
        for r in spark.read.parquet(path).collect()
    }


def test_bootstrap_then_change_then_replay(spark):
    path = os.path.join(tempfile.mkdtemp(prefix="scd2_"), "dim_airline")

    _apply(spark, path, [(1, "AirOne", "US", 1), (2, "BlueJet", "DE", 1)])
    assert _state(spark, path) == {
        (1, T(1), None): ("AirOne", "US", True),
        (2, T(1), None): ("BlueJet", "DE", True),
    }

    # Day 5: airline 1 renamed, airline 2 unchanged, airline 3 appears.
    _apply(spark, path, [
        (1, "AirOne Intl", "US", 5),
        (2, "BlueJet", "DE", 5),
        (3, "SkyHop", "FR", 5),
    ])
    after = _state(spark, path)
    assert after == {
        (1, T(1), T(5)): ("AirOne", "US", False),   # closed version
        (1, T(5), None): ("AirOne Intl", "US", True),
        (2, T(1), None): ("BlueJet", "DE", True),   # untouched
        (3, T(5), None): ("SkyHop", "FR", True),
    }

    # Re-delivering the same batch is a pure no-op (same file state).
    _apply(spark, path, [
        (1, "AirOne Intl", "US", 5),
        (2, "BlueJet", "DE", 5),
        (3, "SkyHop", "FR", 5),
    ])
    assert _state(spark, path) == after


def test_version_chain_and_point_in_time(spark):
    from unicargo_medallion_data_pipeline_spark.operators.scd2 import as_of

    path = os.path.join(tempfile.mkdtemp(prefix="scd2_"), "dim")
    _apply(spark, path, [(1, "A", "US", 1)])
    _apply(spark, path, [(1, "B", "US", 10)])
    _apply(spark, path, [(1, "B", "CA", 20)])

    dim = spark.read.parquet(path)
    # Intervals chain with no gaps or overlaps.
    assert _state(spark, path) == {
        (1, T(1), T(10)): ("A", "US", False),
        (1, T(10), T(20)): ("B", "US", False),
        (1, T(20), None): ("B", "CA", True),
    }
    # Point-in-time: what did the dimension say on day 15?
    seen = as_of(dim, T(15)).collect()
    assert [(r["name"], r["country"]) for r in seen] == [("B", "US")]
    # Boundary semantics: a version is effective AT its from-instant.
    assert [(r["name"]) for r in as_of(dim, T(10)).collect()] == ["B"]


def test_out_of_order_batch_rejected(spark):
    path = os.path.join(tempfile.mkdtemp(prefix="scd2_"), "dim")
    _apply(spark, path, [(1, "A", "US", 10)])
    with pytest.raises(ValueError, match="time order"):
        _apply(spark, path, [(1, "Z", "US", 5)])


def test_within_batch_latest_snapshot_wins(spark):
    path = os.path.join(tempfile.mkdtemp(prefix="scd2_"), "dim")
    _apply(spark, path, [(1, "Old", "US", 1), (1, "New", "US", 3)])
    assert _state(spark, path) == {(1, T(3), None): ("New", "US", True)}


def test_current_partition_is_pruned_read(spark):
    """The hot path (ordinary dim join) reads only the current
    partition — partition pruning on scd_state must reach the scan."""
    path = os.path.join(tempfile.mkdtemp(prefix="scd2_"), "dim")
    _apply(spark, path, [(1, "A", "US", 1)])
    _apply(spark, path, [(1, "B", "US", 5)])
    cur = spark.read.parquet(path).filter(F.col("scd_state") == "current")
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cur.explain("formatted")
    pf_line = next(
        l for l in buf.getvalue().splitlines() if "PartitionFilters" in l
    )
    assert "scd_state" in pf_line, f"no partition pruning: {pf_line}"
    assert cur.count() == 1


def test_null_key_rows_match_null_safely(spark):
    """A null-keyed snapshot must update its existing null-keyed current
    row (close + insert), not duplicate it — and re-delivery stays a
    no-op.  (Plain == would classify every null-keyed snapshot as a new
    key.)"""
    path = os.path.join(tempfile.mkdtemp(prefix="scd2_"), "dim")
    _apply(spark, path, [(None, "Unknown", "??", 1)])
    _apply(spark, path, [(None, "Unknown", "??", 5)])  # identical → no-op
    assert _state(spark, path) == {(None, T(1), None): ("Unknown", "??", True)}

    _apply(spark, path, [(None, "Recovered", "US", 9)])  # real change
    assert _state(spark, path) == {
        (None, T(1), T(9)): ("Unknown", "??", False),
        (None, T(9), None): ("Recovered", "US", True),
    }


def test_null_effective_ts_rejected(spark):
    """Null timestamps would bootstrap a null effective_from, evade the
    stale gate (NULL comparison), and close versions as_of reads as
    still-open — rejected at both entry paths."""
    from unicargo_medallion_data_pipeline_spark.operators.scd2 import apply_scd2

    path = os.path.join(tempfile.mkdtemp(prefix="scd2_"), "dim")
    null_batch = spark.createDataFrame([(1, "A", "US", None)], SCHEMA)
    with pytest.raises(ValueError, match="NULL 'effective_ts'"):
        apply_scd2(spark, path, null_batch,
                   key_cols=["airline_id"], tracked_cols=["name", "country"])
    _apply(spark, path, [(1, "A", "US", 1)])  # real bootstrap
    with pytest.raises(ValueError, match="NULL 'effective_ts'"):
        apply_scd2(spark, path, null_batch,
                   key_cols=["airline_id"], tracked_cols=["name", "country"])


def test_shadowed_null_ts_row_still_rejected(spark):
    """A null-ts row shadowed by a later non-null snapshot of the SAME
    key in the same batch must raise (reject-all-nulls contract), not be
    silently dropped by latest-per-key dedup."""
    from unicargo_medallion_data_pipeline_spark.operators.scd2 import apply_scd2

    path = os.path.join(tempfile.mkdtemp(prefix="scd2_"), "dim")
    batch = spark.createDataFrame(
        [(1, "A", "US", None), (1, "B", "US", T(5))], SCHEMA
    )
    with pytest.raises(ValueError, match="NULL 'effective_ts'"):
        apply_scd2(spark, path, batch,
                   key_cols=["airline_id"], tracked_cols=["name", "country"])
    # ...on the incremental path too.
    _apply(spark, path, [(1, "A", "US", 1)])
    with pytest.raises(ValueError, match="NULL 'effective_ts'"):
        apply_scd2(spark, path, batch,
                   key_cols=["airline_id"], tracked_cols=["name", "country"])


def test_as_of_dedups_crash_window_duplicates(spark):
    """Simulate the documented parquet crash window (history append
    committed twice after a retry): as_of must return each closed
    version once, not fan out fact joins."""
    from unicargo_medallion_data_pipeline_spark.operators.scd2 import as_of

    path = os.path.join(tempfile.mkdtemp(prefix="scd2_"), "dim")
    _apply(spark, path, [(1, "A", "US", 1)])
    _apply(spark, path, [(1, "B", "US", 10)])
    dim = spark.read.parquet(path)
    closed = dim.filter(~F.col("is_current"))
    # Re-append the closed rows — byte-identical duplicates, exactly
    # what a retried history append leaves behind.
    closed.write.mode("append").format("parquet").partitionBy(
        "scd_state"
    ).save(path)

    dup = spark.read.parquet(path)
    assert dup.filter(~F.col("is_current")).count() == 2  # window exists
    seen = as_of(dup, T(5)).collect()
    assert [(r["name"], r["country"]) for r in seen] == [("A", "US")]
    assert as_of(dup, T(5), dedup=False).count() == 2  # escape hatch


def test_reserved_column_collision_rejected(spark):
    from unicargo_medallion_data_pipeline_spark.operators.scd2 import apply_scd2

    path = os.path.join(tempfile.mkdtemp(prefix="scd2_"), "dim")
    export = spark.createDataFrame(
        [(1, "A", True, T(1))],
        "airline_id long, name string, is_current boolean, effective_ts timestamp",
    )
    with pytest.raises(ValueError, match="collide with SCD2 bookkeeping"):
        apply_scd2(spark, path, export,
                   key_cols=["airline_id"], tracked_cols=["name", "is_current"])


def test_scd2_as_of_composes_with_snapshot_diff(spark):
    """The 'what changed between two points in time' question answered by
    composing two operators: diff_summary(as_of(t1), as_of(t2)) — the
    SCD2 history is the source, the diff is the report."""
    from unicargo_medallion_data_pipeline_spark.operators.diff import diff_summary
    from unicargo_medallion_data_pipeline_spark.operators.scd2 import as_of

    path = os.path.join(tempfile.mkdtemp(prefix="scd2_diff_"), "dim")
    _apply(spark, path, [(1, "AirOne", "US", 1), (2, "BlueJet", "DE", 1)])
    _apply(spark, path, [
        (1, "AirOne Intl", "US", 5),   # changed
        (2, "BlueJet", "DE", 5),       # unchanged
        (3, "SkyHop", "FR", 5),        # added
    ])
    dim = spark.read.parquet(path)
    v1 = as_of(dim, T(2)).select("airline_id", "name", "country")
    v2 = as_of(dim, T(6)).select("airline_id", "name", "country")
    counts = {
        r["change_status"]: r["n_keys"]
        for r in diff_summary(v1, v2, keys=["airline_id"]).collect()
    }
    assert counts == {"changed": 1, "unchanged": 1, "added": 1}


def test_scd2_map_attribute_end_to_end(spark, tmp_path):
    """r9 hunt: a dim with a map attribute works through apply + as_of
    (tracked-payload tiebreak and the crash-window dedup both exclude
    unhashable columns instead of failing analysis)."""
    import os

    from pyspark.sql import functions as F

    from unicargo_medallion_data_pipeline_spark.operators.scd2 import apply_scd2, as_of

    path = os.path.join(str(tmp_path), "dim")
    schema = "k int, attr string, props map<string,string>, ts string"
    b1 = spark.createDataFrame(
        [(1, "a", {"m": "1"}, "2024-01-01 00:00:00")], schema
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    apply_scd2(spark, path, b1, key_cols=["k"], tracked_cols=["attr", "props"],
               effective_ts_col="ts")
    b2 = spark.createDataFrame(
        [(1, "b", {"m": "2"}, "2024-02-01 00:00:00")], schema
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    apply_scd2(spark, path, b2, key_cols=["k"], tracked_cols=["attr", "props"],
               effective_ts_col="ts")
    # idempotent re-delivery: identical batch => zero new versions (the
    # JSON payload compare must see equal maps as equal)
    apply_scd2(spark, path, b2, key_cols=["k"], tracked_cols=["attr", "props"],
               effective_ts_col="ts")
    dim = spark.read.parquet(path)
    assert dim.count() == 2  # one history row + one current row
    jan = as_of(dim, "2024-01-15 00:00:00")
    feb = as_of(dim, "2024-02-15 00:00:00")
    assert [r["attr"] for r in jan.collect()] == ["a"]
    assert [r["attr"] for r in feb.collect()] == ["b"]
    assert feb.collect()[0]["props"]["m"] == "2"


def test_same_ts_map_only_tie_is_deterministic(spark):
    """Round-10 ADVICE 1: two same-timestamp snapshots differing ONLY in
    a map column tie on the hashable-columns xxhash — the md5 full-payload
    secondary ordering must pick the SAME winner at any physical row
    order / parallelism."""
    from pyspark.sql import functions as F

    from unicargo_medallion_data_pipeline_spark.operators.scd2 import _latest_per_key

    schema = "k int, attr string, props map<string,string>, _ts string"
    rows = [
        (1, "a", {"m": "1"}, "2024-01-01 00:00:00"),
        (1, "a", {"m": "2"}, "2024-01-01 00:00:00"),
    ]
    winners = set()
    for order in (rows, list(reversed(rows))):
        for nparts in (1, 4):
            u = (
                spark.createDataFrame(order, schema)
                .withColumn("_ts", F.col("_ts").cast("timestamp"))
                .repartition(nparts)
            )
            got = _latest_per_key(u, ["k"], "_ts", ["attr", "props"]).collect()
            assert len(got) == 1
            winners.add(got[0]["props"]["m"])
    assert len(winners) == 1  # same pick every time


def test_scd2_map_entry_reorder_is_noop(spark, tmp_path):
    """Round-10 ADVICE 4: re-delivering an unchanged snapshot whose map
    was rebuilt in a DIFFERENT entry order must not mint a new version
    (change detection canonicalizes map entry order)."""
    import os

    from pyspark.sql import functions as F

    from unicargo_medallion_data_pipeline_spark.operators.scd2 import apply_scd2

    path = os.path.join(str(tmp_path), "dim")

    def batch(keys_vals):
        k, v = keys_vals
        return spark.range(1).select(
            F.lit(1).alias("k"),
            F.lit("a").alias("attr"),
            F.map_from_arrays(
                F.array(*[F.lit(x) for x in k]), F.array(*[F.lit(x) for x in v])
            ).alias("props"),
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
        )

    apply_scd2(spark, path, batch((["a", "b"], ["1", "2"])),
               key_cols=["k"], tracked_cols=["attr", "props"], effective_ts_col="ts")
    # same map, reversed entry order → pure re-delivery, zero new versions
    apply_scd2(spark, path, batch((["b", "a"], ["2", "1"])),
               key_cols=["k"], tracked_cols=["attr", "props"], effective_ts_col="ts")
    dim = spark.read.parquet(path)
    assert dim.count() == 1
    assert dim.collect()[0]["is_current"]


def test_latest_per_key_surfaces_null_ts_as_survivor(spark):
    """r15: the NULL-ts rejection no longer runs a dedicated pre-scan of
    the raw batch — the dedup window orders NULL timestamps FIRST, so a
    key whose raw rows include a NULL ts (even one SHADOWED by a later
    non-null snapshot) surfaces a null-ts survivor, which the gate /
    bootstrap probe then rejects.  Clean keys keep the exact pre-r15
    latest-by-ts survivor.  Kept a lone row_number so the rn=1 filter
    still plans as WindowGroupLimit (a second window expression would
    disable that rewrite and re-sort the whole batch)."""
    from unicargo_medallion_data_pipeline_spark.operators.scd2 import _latest_per_key

    rows = [
        (1, "A", "US", None),    # shadowed — must still surface as NULL
        (1, "B", "US", T(5)),
        (2, "C", "DE", T(3)),    # clean key: latest-by-ts pick unchanged
        (2, "C2", "DE", T(1)),
        (3, "D", "FR", None),    # only-null key
    ]
    u = spark.createDataFrame(rows, SCHEMA).withColumnRenamed(
        "effective_ts", "_ts"
    )
    deduped = _latest_per_key(u, ["airline_id"], "_ts", ["name", "country"])
    got = {
        r["airline_id"]: (r["name"], r["_ts"] is None)
        for r in deduped.collect()
    }
    assert got == {1: ("A", True), 2: ("C", False), 3: ("D", True)}
    # the rewrite the ordering trick preserves: top-1-per-key pushdown
    plan = deduped._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_gate_fallback_warns_once_and_keeps_result(spark, monkeypatch, caplog):
    """When the Observation accessor ``_read_gate`` polls fails, the
    gate degrades to a direct aggregate job: one warning per Spark
    application, and the dimension ends up exactly as on the fast path."""
    import logging

    from pyspark.sql import Observation

    from unicargo_medallion_data_pipeline_spark.operators import scd2

    batches = [
        [(1, "AirOne", "US", 1), (2, "BlueJet", "DE", 1)],
        [(1, "AirOne Intl", "US", 5), (3, "SkyHop", "FR", 5)],
        [(2, "BlueJet Air", "DE", 7), (3, "SkyHop", "FR", 7)],
    ]
    fast = os.path.join(tempfile.mkdtemp(prefix="scd2_fast_"), "dim")
    for rows in batches:
        _apply(spark, fast, rows)

    class _FailingAccessor:
        def __init__(self, jo):
            self._inner = jo

        def getRowOrEmpty(self):
            raise RuntimeError("accessor removed")

        def __getattr__(self, name):
            return getattr(self._inner, name)

    real_on = Observation._on

    def _on(self, df, *exprs):
        out = real_on(self, df, *exprs)
        self._jo = _FailingAccessor(self._jo)
        return out

    monkeypatch.setattr(Observation, "_on", _on)
    monkeypatch.setattr(scd2, "_GATE_FALLBACK_WARNED", set())
    slow = os.path.join(tempfile.mkdtemp(prefix="scd2_slow_"), "dim")
    with caplog.at_level(logging.WARNING, logger=scd2.__name__):
        for rows in batches:
            _apply(spark, slow, rows)

    warnings = [r for r in caplog.records if "gate falls back" in r.getMessage()]
    assert len(warnings) == 1, caplog.records  # two incremental applies, one warning
    assert "accessor removed" in warnings[0].getMessage()
    assert _state(spark, slow) == _state(spark, fast)
