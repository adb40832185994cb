"""Pins for the round-11 adversarial-robustness fixes: canonical
universes, NULL-tolerant multimodal features, and empty-state reads.

The full gate is ``sweep_robustness.py`` (entire catalog × empty + two
adversarial datasets); these tests pin the shared helpers' semantics so
a regression fails fast in CI without the sweep's runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_docs_with_text_is_canonical_per_id(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from unicargo_medallion_data_pipeline_spark.plans.universes import docs_with_text

    rows = {
        "doc_id": [1, 1, 2, 3, 4, None],
        "text": ["b text", "a text", None, "   ", "real doc", "orphan"],
        "lang": ["en", "de", "en", "en", None, "en"],
        "source": ["s1"] * 6,
        "n_chars": [6, 6, 0, 3, 8, 6],
    }
    pq.write_table(pa.table(rows), os.path.join(tmp_path, "documents.parquet"))
    out = docs_with_text(spark, str(tmp_path)).orderBy("doc_id").collect()
    # doc 1: duplicate id -> ONE row, survivor = min text ('a text');
    # doc 2: NULL text out; doc 3: whitespace-only out; NULL id out.
    assert [(r.doc_id, r.text) for r in out] == [(1, "a text"), (4, "real doc")]


def test_embeddings_valid_filters_and_dedups(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from unicargo_medallion_data_pipeline_spark.plans.universes import embeddings_valid

    good = [0.5] * 64
    better = [0.25] * 64
    rows = {
        "vec_id": [1, 1, 2, 3, 4, None],
        "embedding": [good, better, [], [0.0] * 64, good[:10], good],
        "label": [1, 2, 1, 1, 1, 1],
    }
    schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    )
    pq.write_table(
        pa.table(rows, schema=schema), os.path.join(tmp_path, "embeddings.parquet")
    )
    out = embeddings_valid(spark, str(tmp_path)).orderBy("vec_id").collect()
    # vec 1 deduped (array-lexicographic survivor = the 0.25 vector);
    # empty, zero-norm, wrong-dim, NULL-id all excluded.
    assert [r.vec_id for r in out] == [1]
    assert abs(out[0].embedding[0] - 0.25) < 1e-6


def test_extract_features_null_content_is_an_error_row(spark):
    from unicargo_medallion_data_pipeline_spark.textops.multimodal import extract_features

    assets = spark.createDataFrame(
        [(1, "text/plain", b"abc"), (None, "text/plain", None)],
        "asset_id int, media_type string, content binary",
    )
    # the orderBy drives the exact RangePartitioner path that crashed on
    # a NULL id under the old non-nullable output schema
    rows = {r.asset_id: r for r in extract_features(assets).orderBy("asset_id").collect()}
    assert rows[1].decode_status == "ok" and rows[1].n_bytes == 3
    null_row = rows[None]
    assert null_row.decode_status == "error: missing content"
    assert null_row.n_bytes is None and null_row.content_hash is None


def test_read_parquet_or_empty_and_scd2_frame_like(spark, tmp_path):
    from unicargo_medallion_data_pipeline_spark.operators.scd2 import (
        apply_scd2,
        scd2_frame_like,
    )
    from unicargo_medallion_data_pipeline_spark.sources.readers import (
        read_parquet_or_empty,
    )

    updates = spark.createDataFrame(
        [], "custkey bigint, priority string, effective_ts timestamp"
    )
    path = os.path.join(tmp_path, "dim")
    # an all-empty batch sequence materializes no files...
    apply_scd2(spark, path, updates, key_cols=["custkey"], tracked_cols=["priority"])
    like = scd2_frame_like(updates, ["custkey"], ["priority"])
    dim = read_parquet_or_empty(spark, path, like)
    # ...but the read-back is still an empty frame with the dimension's schema
    assert dim.count() == 0
    assert set(dim.columns) >= {
        "custkey",
        "priority",
        "effective_from",
        "effective_to",
        "is_current",
        "scd_state",
    }


def test_pagerank_empty_graph_returns_empty_ranking(spark):
    from unicargo_medallion_data_pipeline_spark.operators.graph import pagerank_integer

    nodes = spark.createDataFrame([], "node bigint")
    edges = spark.createDataFrame([], "src bigint, dst bigint, w bigint")
    out = pagerank_integer(
        nodes, edges, node_col="node", src_col="src", dst_col="dst", weight_col="w"
    )
    assert out.columns == ["node", "pagerank_scaled"]
    assert out.count() == 0


def test_scrub_nonfinite_nulls_nan_and_inf(spark):
    from unicargo_medallion_data_pipeline_spark.operators.cleaning import scrub_nonfinite

    nan, inf = float("nan"), float("inf")
    df = spark.createDataFrame(
        [(1, 1.5, "a"), (2, nan, "b"), (3, inf, "c"), (4, -inf, "d"), (5, None, "e")],
        "id int, v double, s string",
    )
    got = {r.id: r.v for r in scrub_nonfinite(df).collect()}
    assert got == {1: 1.5, 2: None, 3: None, 4: None, 5: None}
    # non-float columns untouched; explicit column list respected
    assert scrub_nonfinite(df, columns=["s"]).schema == df.schema
    kept = {r.id: r.v for r in scrub_nonfinite(df, columns=["s"]).collect()}
    assert kept[3] == inf  # v not in the requested column list


def test_cleaned_events_oracle_mirrors_nonfinite_scrub(spark, tmp_path):
    """r12 advice: CleaningConfig.scrub_nonfinite defaulting True changed
    cleaned_events_pipeline semantics (NaN/±Inf → NULL → fill 0.0), but
    the DuckDB oracle only coalesced — a latent parity divergence masked
    because the robustness sweep never injects non-finite floats.  The
    oracle now mirrors the scrub; this pins engine parity on EXACTLY the
    inputs the sweep policy excludes, via the real oracle comparator."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from unicargo_medallion_data_pipeline_spark.oracle import (
        compare_query,
        duckdb_connection,
    )
    from unicargo_medallion_data_pipeline_spark.plans.all import CATALOG

    nan, inf = float("nan"), float("inf")
    ts = datetime.datetime(2024, 1, 1)
    rows = {
        "event_id": [1, 1, 2, 3, 4, None],
        "ts": [ts] * 6,
        "user_id": [10, 10, None, 30, 40, 50],
        "event_type": ["a", "a", None, "c", "d", "e"],
        # rows 0/1: NaN twin + NULL twin must collapse to ONE after the
        # scrub in BOTH engines; ±Inf rows must fill to 0.0, not poison.
        "value": [nan, None, inf, -inf, 1.25, 2.5],
        "props": ["{}"] * 6,
    }
    pq.write_table(
        pa.table(rows, schema=pa.schema([
            ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()), ("event_type", pa.string()),
            ("value", pa.float64()), ("props", pa.string()),
        ])),
        os.path.join(tmp_path, "events.parquet"),
    )
    q = CATALOG["cleaned_events_pipeline"]
    con = duckdb_connection(str(tmp_path))
    res = compare_query(spark, con, "cleaned_events_pipeline", q.fn, q.sql, str(tmp_path))
    assert res.ok, res.detail
    out = {(r.event_id, r.user_id): r.value
           for r in q.fn(spark, str(tmp_path)).collect()}
    # NaN/NULL twins collapsed, then filled: exactly one (1, 10) row.
    assert out[(1, 10)] == 0.0 and len(out) == 5
    assert out[(2, 0)] == 0.0 and out[(3, 30)] == 0.0  # ±Inf scrubbed+filled


_DEAD_SESSION_SCRIPT = r"""
import gc, json, sys, weakref
import pyarrow as pa
import pyarrow.parquet as pq
from unicargo_medallion_data_pipeline_spark.plans import universes
from unicargo_medallion_data_pipeline_spark.session import get_spark, session_state

sf_dir = sys.argv[1]
pq.write_table(
    pa.table({"doc_id": [1], "text": ["t"], "lang": ["en"],
              "source": ["s"], "n_chars": [1]}),
    sf_dir + "/documents.parquet",
)
a = get_spark("session-a", master="local[2]", shuffle_partitions=2)
pinned = universes.docs_with_text(a, sf_dir)
n_rows = pinned.count()
a_ref, pinned_ref = weakref.ref(a), weakref.ref(pinned)
a.stop()
del a, pinned
b = get_spark("session-b", master="local[2]", shuffle_partitions=2)
gc.collect()
print(json.dumps({
    "n_rows": n_rows,
    "a_dead": a_ref() is None,
    "pinned_dead": pinned_ref() is None,
    "b_state": sorted(map(repr, session_state(b))),
}))
b.stop()
"""


def test_stopped_session_state_is_collected(tmp_path):
    """Per-session engine state lives on the SparkSession object, so a
    stopped session and the universe it pinned are garbage once the next
    session exists, and the new session starts with no state.  Runs in a
    fresh interpreter: stopping the shared test session is not an option."""
    import json
    import subprocess
    import sys

    from unicargo_medallion_data_pipeline_spark.pipelines.canonical import CANONICAL_DIR_ENV

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env.pop(CANONICAL_DIR_ENV, None)
    proc = subprocess.run(
        [sys.executable, "-c", _DEAD_SESSION_SCRIPT, str(tmp_path)],
        capture_output=True, text=True, timeout=420, env=env, cwd=repo,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out == {"n_rows": 1, "a_dead": True, "pinned_dead": True, "b_state": []}
