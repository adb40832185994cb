"""Corpus medallion: canonical universes PLUS the incrementally-
maintained near-dup signature and ANN index silver tables.

``materialize_canonical`` writes the identity universes of
``plans/universes.py`` (one clean row per doc_id / vec_id) as parquet,
one keyed shuffle each.  On top of them sits the silver step a
training-data lake actually runs per ingest batch: the MinHash
signature table (``documents_minhash``), the winnow fingerprint index
(``documents_winnow`` — the contamination pre-filter,
plans/docs_gold.doc_contamination_winnowed), the frozen-codebook IVF
index (``embeddings_ivf``) and the PQ code table (``embeddings_pq``;
their vid-join serves IVFADC, see ``read_ivfadc_index``) — the
maintained state behind the catalog's incremental invariant queries
(plans/similarity_gold.py), promoted from per-query scratch into
pipeline-owned tables (r12 verdict task 3, extended r13).  Round 14
adds the multimodal silver table ``corpus_assets`` (binary-file
ingest → path/bytes/hash/sniffed-type/header-dims metadata, blobs
stay in object storage — textops/multimodal.asset_metadata_rows).

Two entry points:

``run_corpus_medallion``
    The full (re)build: raw parquet → canonical silver universes →
    signature + index silver tables, all overwritten.  One keyed
    shuffle per universe (the canonical dedup) plus narrow signing /
    assignment maps; the index writes are shuffle-free.

``apply_corpus_batch``
    The per-ingest-batch increment: sign/assign the NEW rows only
    (work sized by the BATCH, not the corpus), admit only ids the
    tables don't already hold (exactly-once under crash replay — the
    same anti-join admission contract the streaming tier enforces in
    ``streaming/neardup.py``; these are batch-job twins), emit the
    batch's near-dup pairs against the ACCUMULATED signature table,
    then append.  The union of per-batch pair sets over any batch
    decomposition equals the full recompute (argument in
    ``textops/dedup.incremental_near_dup_pairs``), and the accumulated
    index serves queries identically to an all-at-once build — both
    invariants pinned by ``tests/test_corpus_pipeline.py`` on THIS
    pipeline path, not just the catalog queries.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unicargo_medallion_data_pipeline_spark.sources.readers import read_parquet_or_empty
from unicargo_medallion_data_pipeline_spark.textops import dedup as dd
from unicargo_medallion_data_pipeline_spark.textops import similarity as sim
from unicargo_medallion_data_pipeline_spark.textops.winnow import winnow_fingerprint_rows

#: Maintained silver tables (parquet under the corpus out_dir).
MINHASH_TABLE = "documents_minhash"
IVF_TABLE = "embeddings_ivf"
PQ_TABLE = "embeddings_pq"
WINNOW_TABLE = "documents_winnow"
ASSETS_TABLE = "corpus_assets"

#: Signature geometry — matches the catalog's LSH family
#: (plans/similarity_gold.py: k=32, bands=16, threshold 0.3) so the
#: pipeline tables answer the same questions the catalog queries do.
MINHASH_K = 32
MINHASH_BANDS = 16
NEARDUP_THRESHOLD = 0.3

#: Winnow geometry — k=8/w=8 is the LOSSLESS setting for 8-token
#: shingle contamination (doc_contamination_winnowed's proof: any
#: shared 8-token shingle is a >= 15-char = k+w-1 normalized substring).
WINNOW_K = 8
WINNOW_W = 8


def _path(out_dir: str, table: str) -> str:
    return os.path.join(out_dir, f"{table}.parquet")


def materialize_canonical(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, str]:
    """Write both canonical universes (the un-pinned
    ``plans/universes`` builders) as parquet silver tables under
    ``out_dir``; returns table name → path.  One keyed shuffle each,
    and the written tables come out id-clustered by that shuffle."""
    from unicargo_medallion_data_pipeline_spark.plans import universes

    os.makedirs(out_dir, exist_ok=True)
    out: dict[str, str] = {}
    for table, builder in (
        ("documents_canonical", universes.docs_with_text_plan),
        ("embeddings_canonical", universes.embeddings_valid_plan),
    ):
        out[table] = _path(out_dir, table)
        builder(spark, sf_dir).write.mode("overwrite").parquet(out[table])
    return out


def _clean_docs(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Batch-local canonicalization mirroring the documents universe
    (plans/universes.docs_with_text_plan): non-null id, non-empty
    normalized text, DETERMINISTIC one-row-per-id (min text wins).

    Scope of the incremental == full guarantee (r13 advice): the
    min-text choice matches the full rebuild's canonical row for
    duplicate ids WITHIN one batch.  ACROSS batches admission is
    id-keyed first-writer-wins — if a duplicate id's canonical
    (min-text) payload arrives in a LATER batch than a non-canonical
    twin, the accumulated signature/winnow rows keep the first-seen
    payload and diverge from a from-scratch rebuild on exactly those
    ids.  That is the standard ingest contract (an id is immutable
    once admitted; divergent re-deliveries are upstream bugs) — a lake
    that instead wants last/canonical-writer-wins must route such ids
    through a MERGE (sources/merge.py), not append admission."""
    from unicargo_medallion_data_pipeline_spark.operators.cleaning import canonical_dedup
    from unicargo_medallion_data_pipeline_spark.textops.analysis import norm_text

    d = docs.filter(
        F.col(id_col).isNotNull()
        & F.col(text_col).isNotNull()
        & (norm_text(text_col) != "")
    )
    return canonical_dedup(d, keys=[id_col], order_by=[F.asc(text_col)])


def _clean_embeddings(embs: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Batch-local validity mirroring the canonical embeddings universe
    (plans/universes.embeddings_valid_plan): non-null id, present /
    dim-64 / no NULL elements / nonzero-norm vector, deterministic
    one-row-per-id (min vector wins — the index rows depend on the
    vector only)."""
    from unicargo_medallion_data_pipeline_spark.operators.cleaning import canonical_dedup

    v = F.col(vec_col)
    q = sim.quantized(v)
    e = embs.filter(
        F.col(id_col).isNotNull()
        & v.isNotNull()
        & (F.size(v) == 64)
        & ~F.exists(v, lambda x: x.isNull())
        & (sim.dot_q(q, q) > 0)
    )
    return canonical_dedup(e, keys=[id_col], order_by=[F.asc(vec_col)])


def run_corpus_medallion(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    assets_dir: str | None = None,
) -> dict[str, str]:
    """Full rebuild: canonical universes + signature + IVF index silver
    tables under ``out_dir``.  Returns table name → parquet path.

    ``assets_dir``, when given, additionally ingests every binary file
    under it (``sources.readers.read_binary_files``) into the
    ``corpus_assets`` metadata table — path, byte count, content hash,
    sniffed container type, header-parsed image dims (r13 verdict task
    2: the multimodal pillar's maintained silver state).  Metadata
    only: blobs stay in object storage, addressed by path."""
    from unicargo_medallion_data_pipeline_spark.sources.readers import read_binary_files
    from unicargo_medallion_data_pipeline_spark.textops.multimodal import (
        asset_metadata_rows,
    )

    paths = materialize_canonical(spark, sf_dir, out_dir)
    docs = spark.read.parquet(paths["documents_canonical"])
    embs = spark.read.parquet(paths["embeddings_canonical"])
    mh_path = _path(out_dir, MINHASH_TABLE)
    dd.minhash_payload(docs, k=MINHASH_K).write.mode("overwrite").parquet(mh_path)
    wn_path = _path(out_dir, WINNOW_TABLE)
    winnow_fingerprint_rows(docs, k=WINNOW_K, w=WINNOW_W).write.mode(
        "overwrite"
    ).parquet(wn_path)
    ivf_path = _path(out_dir, IVF_TABLE)
    sim.ivf_frozen_index_rows(embs).write.mode("overwrite").parquet(ivf_path)
    pq_path = _path(out_dir, PQ_TABLE)
    sim.pq_index_rows(embs).write.mode("overwrite").parquet(pq_path)
    out = {
        **paths,
        MINHASH_TABLE: mh_path,
        WINNOW_TABLE: wn_path,
        IVF_TABLE: ivf_path,
        PQ_TABLE: pq_path,
    }
    if assets_dir is not None:
        as_path = _path(out_dir, ASSETS_TABLE)
        asset_metadata_rows(read_binary_files(spark, assets_dir)).write.mode(
            "overwrite"
        ).parquet(as_path)
        out[ASSETS_TABLE] = as_path
    return out


@dataclass
class CorpusBatchResult:
    """What one incremental batch did: admission counts plus the batch's
    near-dup pairs (pinned — computed against the PRE-append table
    state, exactly the catalog invariant query's ordering)."""

    admitted_docs: int = 0
    admitted_winnow_docs: int = 0
    admitted_vectors: int = 0
    admitted_pq_vectors: int = 0
    admitted_assets: int = 0
    near_dup_pairs: DataFrame | None = None


def apply_corpus_batch(
    spark: SparkSession,
    out_dir: str,
    new_docs: DataFrame | None = None,
    new_embeddings: DataFrame | None = None,
    new_assets: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> CorpusBatchResult:
    """Apply one ingest batch to the maintained silver tables.

    Admission is exactly-once per id: rows whose id the table already
    holds are re-deliveries (an at-least-once upstream, or a crash
    replay of this very batch) and are dropped by an anti-join before
    any signing — replaying a batch is a no-op.  Near-dup pairs are
    computed BEFORE the signature append (the lazy read must see the
    pre-append table), pinned with an eager localCheckpoint, and
    returned rather than double-written — the caller owns the pairs
    sink, keeping this function idempotent per table."""
    result = CorpusBatchResult()

    if new_docs is not None:
        cleaned = _clean_docs(new_docs, id_col, text_col)
        payload = dd.minhash_payload(
            cleaned,
            id_col=id_col,
            text_col=text_col,
            k=MINHASH_K,
        )
        mh_path = _path(out_dir, MINHASH_TABLE)
        existing = read_parquet_or_empty(spark, mh_path, like=payload)
        admitted = payload.join(
            existing.select("id"), "id", "left_anti"
        ).localCheckpoint(eager=True)
        result.admitted_docs = admitted.count()
        if result.admitted_docs:
            all_payload = existing.unionByName(admitted)
            result.near_dup_pairs = dd.incremental_near_dup_pairs(
                admitted,
                all_payload,
                k=MINHASH_K,
                bands=MINHASH_BANDS,
                threshold=NEARDUP_THRESHOLD,
            ).localCheckpoint(eager=True)
            admitted.write.mode("append").parquet(mh_path)

        # Winnow fingerprints (the contamination index): per-document
        # computation with no cross-doc state, so the increment is exact
        # by construction; admission is its own anti-join (a crash
        # between the minhash and winnow appends must not let a replay
        # double-fingerprint either table).
        wn_path = _path(out_dir, WINNOW_TABLE)
        fps = winnow_fingerprint_rows(
            cleaned, id_col=id_col, text_col=text_col, k=WINNOW_K, w=WINNOW_W
        )
        existing_wn = read_parquet_or_empty(spark, wn_path, like=fps)
        admitted_wn = fps.join(
            existing_wn.select("id").distinct(), "id", "left_anti"
        ).localCheckpoint(eager=True)
        result.admitted_winnow_docs = admitted_wn.select("id").distinct().count()
        if result.admitted_winnow_docs:
            admitted_wn.write.mode("append").parquet(wn_path)

    if new_embeddings is not None:
        cleaned_embs = _clean_embeddings(new_embeddings, vec_id_col, vec_col)
        rows = sim.ivf_frozen_index_rows(
            cleaned_embs,
            id_col=vec_id_col,
            vec_col=vec_col,
        )
        ivf_path = _path(out_dir, IVF_TABLE)
        existing_idx = read_parquet_or_empty(spark, ivf_path, like=rows)
        admitted_idx = rows.join(
            existing_idx.select("vid"), "vid", "left_anti"
        ).localCheckpoint(eager=True)
        result.admitted_vectors = admitted_idx.count()
        if result.admitted_vectors:
            admitted_idx.write.mode("append").parquet(ivf_path)

        # PQ codes (the compressed ANN serving index): per-row encoding
        # against frozen literals, so the increment is exact by
        # construction; own admission anti-join (crash between the IVF
        # and PQ appends must not double-encode either on replay).
        pq_path = _path(out_dir, PQ_TABLE)
        pq_rows = sim.pq_index_rows(cleaned_embs, id_col=vec_id_col, vec_col=vec_col)
        existing_pq = read_parquet_or_empty(spark, pq_path, like=pq_rows)
        admitted_pq = pq_rows.join(
            existing_pq.select("vid"), "vid", "left_anti"
        ).localCheckpoint(eager=True)
        result.admitted_pq_vectors = admitted_pq.count()
        if result.admitted_pq_vectors:
            admitted_pq.write.mode("append").parquet(pq_path)

    if new_assets is not None:
        # Asset metadata (the multimodal silver table): per-object
        # computation with no cross-asset state, so the increment is
        # exact by construction; admission is keyed by PATH (the lake's
        # object identity — a re-crawled path is a re-delivery, same
        # exactly-once contract as the id-keyed tables above).
        from unicargo_medallion_data_pipeline_spark.textops.multimodal import (
            asset_metadata_rows,
        )

        from unicargo_medallion_data_pipeline_spark.operators.cleaning import (
            canonical_dedup,
        )

        # One row per path WITHIN the batch too (r14 ADVICE item 2):
        # the anti-join only dedupes against the existing table, so a
        # caller unioning two overlapping listings would append the
        # same path twice and permanently break the exactly-once
        # contract.  Deterministic winner (min content hash) mirrors
        # the docs/embeddings admission paths.
        meta = canonical_dedup(
            asset_metadata_rows(new_assets),
            keys=["path"],
            order_by=[F.asc("content_hash")],
        )
        as_path = _path(out_dir, ASSETS_TABLE)
        existing_as = read_parquet_or_empty(spark, as_path, like=meta)
        admitted_as = meta.join(
            existing_as.select("path"), "path", "left_anti"
        ).localCheckpoint(eager=True)
        result.admitted_assets = admitted_as.count()
        if result.admitted_assets:
            admitted_as.write.mode("append").parquet(as_path)

    return result


def read_corpus_table(spark: SparkSession, out_dir: str, table: str) -> DataFrame:
    """Scan a maintained corpus silver table (absent → error: unlike
    the maintained-state readers, a missing corpus table here means the
    pipeline never ran, which the caller should see)."""
    return spark.read.parquet(_path(out_dir, table))


def read_ivfadc_index(spark: SparkSession, out_dir: str) -> DataFrame:
    """The combined IVFADC serving index ``(vid, cell, codes)`` from the
    MAINTAINED tables — a vid equi-join of ``embeddings_ivf`` (cell) and
    ``embeddings_pq`` (codes), so the composition needs NO fifth table
    or extra incremental maintenance: both halves are already appended
    exactly-once per batch, and their admission is keyed by the same
    vid.  At scale, co-bucket both tables by vid to make this join
    shuffle-free (pay-shuffle-once, sources/writers.save_bucketed_table)."""
    ivf = read_corpus_table(spark, out_dir, IVF_TABLE).select("vid", "cell")
    pq = read_corpus_table(spark, out_dir, PQ_TABLE).select("vid", "codes")
    return ivf.join(pq, "vid")
