"""Canonical universes: the corpus pipeline's materialized silver form
and the per-session pin memo (r11 verdict task 7).

``pipelines.corpus.materialize_canonical`` writes the universes as
parquet silver tables that the corpus medallion builds on; these tests
assert the written tables hold EXACTLY what the derive-and-pin
universes serve (same rows, same schema).
"""

from __future__ import annotations

import os

import pytest

SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF), reason="driver testdata not present"
)


def test_materialized_universes_equal_derived(spark, tmp_path):
    from unicargo_medallion_data_pipeline_spark.pipelines.corpus import materialize_canonical
    from unicargo_medallion_data_pipeline_spark.plans import universes

    paths = materialize_canonical(spark, SF, str(tmp_path / "silver_canonical"))
    assert set(paths) == {"documents_canonical", "embeddings_canonical"}
    derived_docs = universes.docs_with_text(spark, SF)
    derived_emb = universes.embeddings_valid(spark, SF)
    silver_docs = spark.read.parquet(paths["documents_canonical"])
    silver_emb = spark.read.parquet(paths["embeddings_canonical"])

    for a, b in ((derived_docs, silver_docs), (derived_emb, silver_emb)):
        assert a.schema == b.schema
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        assert a.count() == b.count() > 0


def test_universe_pin_cache_reuses_within_session(spark):
    """The per-session pin memo must serve the SAME checkpointed frame
    for repeated (session, sf_dir) requests, a consumer run twice must
    return identical results, and a new session must not see it."""
    from unicargo_medallion_data_pipeline_spark.plans import universes
    from unicargo_medallion_data_pipeline_spark.session import session_state

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
