"""Pipeline-path incremental == full for the corpus silver tables
(r12 verdict task 3): the medallion leaves documents_minhash +
embeddings_ivf, incremental batches append to them, and the
accumulated state answers exactly like an all-at-once rebuild —
asserted on ``pipelines/corpus.py``, not just the catalog queries."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _pair_set(df):
    return {(r.a_id, r.b_id, round(r.jaccard, 9)) for r in df.collect()}


def test_corpus_medallion_incremental_equals_full(spark, tmp_path):
    from unicargo_medallion_data_pipeline_spark.pipelines import corpus
    from unicargo_medallion_data_pipeline_spark.sources.readers import load_table
    from unicargo_medallion_data_pipeline_spark.textops import dedup as dd
    from unicargo_medallion_data_pipeline_spark.textops import similarity as sim

    full_dir = str(tmp_path / "full")
    inc_dir = str(tmp_path / "inc")

    # Full rebuild leaves all four silver tables.
    paths = corpus.run_corpus_medallion(spark, SF, full_dir)
    assert set(paths) >= {
        "documents_canonical",
        "embeddings_canonical",
        corpus.MINHASH_TABLE,
        corpus.WINNOW_TABLE,
        corpus.IVF_TABLE,
        corpus.PQ_TABLE,
    }
    full_mh = spark.read.parquet(paths[corpus.MINHASH_TABLE])
    full_wn = spark.read.parquet(paths[corpus.WINNOW_TABLE])
    full_ivf = spark.read.parquet(paths[corpus.IVF_TABLE])
    full_pq = spark.read.parquet(paths[corpus.PQ_TABLE])

    # Incremental: the same corpus arrives in two ingest batches over
    # the RAW tables (apply_corpus_batch owns the cleaning).
    docs = load_table(spark, SF, "documents")
    embs = load_table(spark, SF, "embeddings")
    pair_batches = []
    for s in range(2):
        res = corpus.apply_corpus_batch(
            spark,
            inc_dir,
            new_docs=docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == s),
            new_embeddings=embs.filter(F.pmod(F.col("vec_id"), F.lit(2)) == s),
        )
        assert res.admitted_docs > 0 and res.admitted_vectors > 0
        if res.near_dup_pairs is not None:
            pair_batches.append(_pair_set(res.near_dup_pairs))

    inc_mh = spark.read.parquet(os.path.join(inc_dir, f"{corpus.MINHASH_TABLE}.parquet"))
    inc_ivf = spark.read.parquet(os.path.join(inc_dir, f"{corpus.IVF_TABLE}.parquet"))

    # Table-state equality: incremental accumulation == full rebuild.
    sig = lambda df: sorted((r.id, tuple(r.sig)) for r in df.select("id", "sig").collect())
    assert sig(inc_mh) == sig(full_mh)
    inc_wn = spark.read.parquet(os.path.join(inc_dir, f"{corpus.WINNOW_TABLE}.parquet"))
    wn = lambda df: sorted((r.id, r.fp) for r in df.collect())
    assert wn(inc_wn) == wn(full_wn)
    idx = lambda df: sorted((r.vid, r.cell, tuple(r.c_emb)) for r in df.collect())
    assert idx(inc_ivf) == idx(full_ivf)
    inc_pq = spark.read.parquet(os.path.join(inc_dir, f"{corpus.PQ_TABLE}.parquet"))
    pq = lambda df: sorted((r.vid, tuple(r.codes)) for r in df.collect())
    assert pq(inc_pq) == pq(full_pq)

    # Pair-set equality: union of per-batch near-dup pairs == the full
    # recompute at the same geometry, each pair surfacing exactly once.
    full_docs = spark.read.parquet(paths["documents_canonical"])
    full_pairs = _pair_set(
        dd.minhash_lsh_candidates(
            full_docs, shingle_n=3, k=corpus.MINHASH_K, bands=corpus.MINHASH_BANDS
        )
        .filter(F.col("jaccard") >= corpus.NEARDUP_THRESHOLD)
        .select("a_id", "b_id", "jaccard")
    )
    assert sum(len(b) for b in pair_batches) == len(set().union(*pair_batches))
    assert set().union(*pair_batches) == full_pairs

    # Serving equality: IVF top-k from the accumulated index == from the
    # full index, for the standard query set.
    queries = spark.read.parquet(paths["embeddings_canonical"]).filter(
        F.col("vec_id") < 10
    )
    serve = lambda index: sorted(
        (r.qid, r.vid, r.sim_rank, round(r.cosine_sim, 12))
        for r in sim.cosine_topk_ivf_frozen_on_index(queries, index, k=5, n_probe=4).collect()
    )
    assert serve(inc_ivf) == serve(full_ivf)

    # Replay of an already-applied batch admits nothing and changes nothing.
    replay = corpus.apply_corpus_batch(
        spark,
        inc_dir,
        new_docs=docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1),
        new_embeddings=embs.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 1),
    )
    assert replay.admitted_docs == 0 and replay.admitted_vectors == 0
    assert replay.admitted_winnow_docs == 0 and replay.admitted_pq_vectors == 0
    assert replay.near_dup_pairs is None
    assert sig(spark.read.parquet(os.path.join(inc_dir, f"{corpus.MINHASH_TABLE}.parquet"))) == sig(full_mh)


def test_corpus_batch_cleaning_is_deterministic_on_dup_ids(spark, tmp_path):
    """Duplicate ids with DIVERGENT payloads inside and across batches:
    the batch-local canonical choice (min text / min vector) must match
    the full rebuild's, or incremental == full silently breaks on
    exactly the corpora dedup pipelines exist for."""
    from unicargo_medallion_data_pipeline_spark.pipelines import corpus

    rows = [
        (1, "zebra text body"),
        (1, "alpha text body"),   # same id, different text: alpha wins
        (2, "   "),               # whitespace-only: excluded
        (2, "real body"),
        (None, "orphan"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out1, out2 = str(tmp_path / "a"), str(tmp_path / "b")
    # one batch vs two (dup id split ACROSS batches: first batch wins
    # admission; batch 0 carries the canonical 'alpha' row)
    corpus.apply_corpus_batch(spark, out1, new_docs=docs)
    corpus.apply_corpus_batch(spark, out2, new_docs=docs.filter(F.col("text") != "zebra text body"))
    corpus.apply_corpus_batch(spark, out2, new_docs=docs)
    sig = lambda d: sorted(
        (r.id, tuple(r.sig))
        for r in spark.read.parquet(
            os.path.join(d, f"{corpus.MINHASH_TABLE}.parquet")
        ).collect()
    )
    assert sig(out1) == sig(out2)
    assert [i for i, _ in sig(out1)] == [1, 2]


def test_ivfadc_serves_from_maintained_tables(spark, tmp_path):
    """The IVFADC composition needs no fifth silver table: joining the
    maintained IVF and PQ tables reproduces ivfadc_index_rows exactly,
    and serving from it matches the inline index bit-for-bit."""
    from unicargo_medallion_data_pipeline_spark.pipelines import corpus
    from unicargo_medallion_data_pipeline_spark.textops import similarity as sim

    out = str(tmp_path / "c")
    paths = corpus.run_corpus_medallion(spark, SF, out)
    embs = spark.read.parquet(paths["embeddings_canonical"])
    maintained = corpus.read_ivfadc_index(spark, out)
    inline = sim.ivfadc_index_rows(embs)
    key = lambda df: sorted((r.vid, r.cell, tuple(r.codes)) for r in df.collect())
    assert key(maintained) == key(inline)

    q = embs.filter(F.col("vec_id") < 10)
    serve = lambda idx: sorted(
        (r.qid, r.sim_rank, r.vid, round(r.cosine_sim, 12))
        for r in sim.ivfadc_topk(q, idx, embs, k=5).collect()
    )
    assert serve(maintained) == serve(inline)


def test_corpus_assets_table_full_and_incremental(spark, tmp_path, binary_dir):
    """The multimodal silver table (r13 verdict task 2): full rebuild
    ingests every binary file; incremental batches admit by path
    exactly-once (replay is a no-op) and accumulate to the full state."""
    from unicargo_medallion_data_pipeline_spark.pipelines import corpus
    from unicargo_medallion_data_pipeline_spark.sources.readers import read_binary_files

    full_dir, inc_dir = str(tmp_path / "af"), str(tmp_path / "ai")
    paths = corpus.run_corpus_medallion(spark, SF, full_dir, assets_dir=binary_dir)
    full = spark.read.parquet(paths[corpus.ASSETS_TABLE])
    key = lambda df: sorted(
        (r.path, r.n_bytes, r.content_hash, r.media_type, r.width, r.height)
        for r in df.collect()
    )
    assert full.count() == 6
    types = {r.media_type for r in full.collect()}
    assert types == {
        "image/png", "audio/wav", "video/mp4", "application/pdf",
        "application/octet-stream",
    }

    # Incremental: batch0 files first, then the whole dir (batch0 paths
    # are re-deliveries and must be dropped by the path anti-join).
    import os as _os

    b0 = corpus.apply_corpus_batch(
        spark, inc_dir, new_assets=read_binary_files(spark, _os.path.join(binary_dir, "batch0"))
    )
    assert b0.admitted_assets == 2
    b1 = corpus.apply_corpus_batch(
        spark, inc_dir, new_assets=read_binary_files(spark, binary_dir)
    )
    assert b1.admitted_assets == 4
    replay = corpus.apply_corpus_batch(
        spark, inc_dir, new_assets=read_binary_files(spark, binary_dir)
    )
    assert replay.admitted_assets == 0
    inc = spark.read.parquet(_os.path.join(inc_dir, f"{corpus.ASSETS_TABLE}.parquet"))
    assert key(inc) == key(full)
