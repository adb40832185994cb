"""Materialized canonical universes (r11 verdict task 7).

The lake-scale story for plans/universes.py is "a silver table, written
once" — these tests make that story executable: materialize both
universes, flip the env switch, and assert the consumer queries return
EXACTLY what derive-and-pin mode returns (same rows, same schema), so
the two modes are interchangeable by construction.
"""

from __future__ import annotations

import os

import pytest

SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF), reason="driver testdata not present"
)


@pytest.fixture()
def canonical_dir(spark, tmp_path):
    from unicargo_medallion_data_pipeline_spark.pipelines import canonical

    out = str(tmp_path / "silver_canonical")
    paths = canonical.materialize_canonical(spark, SF, out)
    assert set(paths) == {"documents_canonical", "embeddings_canonical"}
    return out


def test_materialized_universes_equal_derived(spark, canonical_dir, monkeypatch):
    from unicargo_medallion_data_pipeline_spark.pipelines.canonical import CANONICAL_DIR_ENV
    from unicargo_medallion_data_pipeline_spark.plans import universes

    monkeypatch.delenv(CANONICAL_DIR_ENV, raising=False)
    derived_docs = universes.docs_with_text(spark, SF)
    derived_emb = universes.embeddings_valid(spark, SF)

    monkeypatch.setenv(CANONICAL_DIR_ENV, canonical_dir)
    silver_docs = universes.docs_with_text(spark, SF)
    silver_emb = universes.embeddings_valid(spark, SF)

    for a, b in ((derived_docs, silver_docs), (derived_emb, silver_emb)):
        assert a.schema == b.schema
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        assert a.count() == b.count() > 0


def test_consumer_query_identical_across_modes(spark, canonical_dir, monkeypatch):
    """An end-to-end consumer (LSH near-dup pairs) must return the same
    result whether the universe is derived+pinned or scanned as the
    materialized silver table."""
    from unicargo_medallion_data_pipeline_spark.pipelines.canonical import CANONICAL_DIR_ENV
    from unicargo_medallion_data_pipeline_spark.plans.all import CATALOG

    monkeypatch.delenv(CANONICAL_DIR_ENV, raising=False)
    derived = sorted(map(tuple, CATALOG["embedding_near_dup_pairs"].fn(spark, SF).collect()))
    monkeypatch.setenv(CANONICAL_DIR_ENV, canonical_dir)
    silver = sorted(map(tuple, CATALOG["embedding_near_dup_pairs"].fn(spark, SF).collect()))
    assert derived == silver and len(derived) > 0


def test_missing_table_falls_back_to_derivation(spark, tmp_path, monkeypatch):
    """An env dir without the table (partial materialization, wrong
    path) must fall back to derive-and-pin, not fail."""
    from unicargo_medallion_data_pipeline_spark.pipelines.canonical import CANONICAL_DIR_ENV
    from unicargo_medallion_data_pipeline_spark.plans import universes

    monkeypatch.setenv(CANONICAL_DIR_ENV, str(tmp_path / "empty_dir"))
    assert universes.docs_with_text(spark, SF).count() > 0


def test_universe_pin_cache_reuses_within_session(spark, monkeypatch):
    """The per-session pin memo must serve the SAME checkpointed frame
    for repeated (session, sf_dir) requests, a consumer run twice must
    return identical results, and a new session must not see it."""
    from unicargo_medallion_data_pipeline_spark.pipelines.canonical import CANONICAL_DIR_ENV
    from unicargo_medallion_data_pipeline_spark.plans import universes
    from unicargo_medallion_data_pipeline_spark.session import session_state

    monkeypatch.delenv(CANONICAL_DIR_ENV, raising=False)
    state = session_state(spark)
    owned = {("universe", SF, t) for t in ("documents_canonical", "embeddings_canonical")}
    for key in owned:
        state.pop(key, None)
    before = set(state)
    a = universes.docs_with_text(spark, SF)
    b = universes.docs_with_text(spark, SF)
    assert a is b  # cache hit: same pinned frame object
    e1 = universes.embeddings_valid(spark, SF)
    e2 = universes.embeddings_valid(spark, SF)
    assert e1 is e2
    assert a.count() > 0 and e1.count() > 0
    # one entry per (sf_dir, universe): a different sf_dir cannot hit it
    assert set(state) - before == owned
    # a new session starts with its own, empty state
    assert universes.docs_with_text(spark.newSession(), SF) is not a
