"""Document-corpus gold queries, batch 3: per-document TF-IDF terms,
blocked edit-distance near-dups, benchmark decontamination output.

Rounds out the training-data curation surface: ``docs_gold.py`` scores
and samples documents, ``docs_gold2.py`` curates and packs them — this
module adds the remaining IR/dedup primitives a 100 TB text pipeline
runs between those stages.

DuckDB oracle fragments mirror ``textops/analysis.py`` exactly (same
normalization, same whitespace tokenization) so every query here is
hash-verified bitwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from unicargo_medallion_data_pipeline_spark.plans.catalog import register
from unicargo_medallion_data_pipeline_spark.plans.universes import (
    SQL_NORM as _NORM,
    SQL_TOKS as _TOKS,
)
from unicargo_medallion_data_pipeline_spark.sources.readers import load_table
from unicargo_medallion_data_pipeline_spark.textops import analysis as ta
from unicargo_medallion_data_pipeline_spark.textops.util import ensure_parallelism

from unicargo_medallion_data_pipeline_spark.plans.similarity_gold import _SQL_DOCS1  # noqa: E402

#: 8-token shingle set of the normalized text (mirrors textops/dedup.py
#: ``shingles(text, 8)`` and the fragment in docs_gold.py's
#: contamination oracle).
_SH8 = r"""
    SELECT doc_id,
           list_distinct(list_transform(
             generate_series(1, greatest(len(toks) - 7, 1)),
             i -> array_to_string(list_slice(toks, i, i + 7), ' '))) AS s
    FROM (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
      FROM documents
    )
"""

#: _SH8 over the canonical text universe (one row per doc_id, non-empty
#: text) — the contamination family's identity contract (r11 sweep).
_SH8_CANON = _SH8.replace("FROM documents", f"FROM ({_SQL_DOCS1})")


@register(
    "doc_tfidf_top_terms",
    sql=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS token FROM documents
    ),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS term_freq
      FROM tok GROUP BY doc_id, token
    ),
    dfq AS (
      SELECT token, COUNT(*) AS doc_freq FROM tf GROUP BY token
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.term_freq, dfq.doc_freq,
             CAST(tf.term_freq * n.n_docs AS DOUBLE) / dfq.doc_freq AS tf_ndf_score
      FROM tf JOIN dfq USING (token) CROSS JOIN n
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY tf_ndf_score DESC, token) AS rn
      FROM scored
    )
    SELECT doc_id, token, term_freq, doc_freq, tf_ndf_score
    FROM ranked WHERE rn <= 5
    """,
    operators=("A1", "A13", "W5", "J4", "O3"),
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most characteristic terms per document by TF-IDF-style
    weighting — the keyword-extraction / topic-signal primitive of a
    text-curation pipeline.

    The idf factor is the LINEAR inverse document frequency N/df rather
    than log(N/df): term_freq·N and df are exact integers, so the score
    is one IEEE division and hash-matches DuckDB bitwise, whereas
    ``log`` is libm-implementation-defined (java.lang.Math vs glibc can
    differ in the last ulp).  Within one document the two weightings
    pick near-identical top terms (both are decreasing in df); rankings
    are made total by the (score DESC, token ASC) tiebreak.

    Shape at scale: tokens explode once (narrow); the (doc, token) TF
    aggregation is the big shuffle, keyed well (no hot keys — a doc has
    bounded tokens); doc_freq derives from the TF frame by a second,
    much smaller (token)-keyed aggregation; the corpus size N joins back
    as a broadcast single row; the per-doc top-5 is a doc-partitioned
    window that WindowGroupLimit prunes map-side.  The df re-join is
    token-keyed — skewed for stopword-grade tokens, which is acceptable
    because the joined payload is one long per row; salt it with
    ``operators/skew.salted_join`` if a vocabulary hot key ever
    dominates a stage."""
    d = load_table(spark, sf_dir, "documents")
    tok = ensure_parallelism(d).select(
        "doc_id", F.explode_outer(ta.tokens("text")).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("term_freq"))
    dfq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tf_ndf_score",
            (F.col("term_freq") * F.col("n_docs")).cast("double") / F.col("doc_freq"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tf_ndf_score").desc(), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "token", "term_freq", "doc_freq", "tf_ndf_score")
    )


#: Docs within a block are compared pairwise; 32-token-wide length
#: buckets keep blocks small while near-dups (whose lengths differ by a
#: few edits) almost always share a bucket.
_LEN_BUCKET = 32
#: Keep pairs whose edit distance is at most 10% of the longer text
#: (integer arithmetic: d * 10 <= max_len).
_REL_DIST_DENOM = 10


@register(
    "doc_editdist_near_dups",
    sql=f"""
    WITH t AS (
      SELECT doc_id, lang,
             {_NORM} AS nt,
             len({_TOKS}) // {_LEN_BUCKET} AS blk
      FROM documents
      WHERE NOT regexp_matches(text, '[^\\x00-\\x7F]')
    )
    SELECT
      a.doc_id AS a_id,
      b.doc_id AS b_id,
      CAST(levenshtein(a.nt, b.nt) AS BIGINT) AS edit_dist,
      CAST(length(a.nt) AS BIGINT) AS len_a,
      CAST(length(b.nt) AS BIGINT) AS len_b
    FROM t a
    JOIN t b ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE levenshtein(a.nt, b.nt) * {_REL_DIST_DENOM}
          <= greatest(length(a.nt), length(b.nt))
    """,
    operators=("J4", "P10"),
)
def doc_editdist_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-duplicate pairs by BLOCKED edit distance:
    documents are bucketed on (lang, token_count DIV {b}), pairs within
    a bucket are scored with Levenshtein distance, and a pair survives
    if the distance is at most 1/{r} of the longer normalized text.

    This is the third near-dup modality next to MinHash (set overlap)
    and SimHash (weighted token hash): edit distance catches small
    in-place rewrites that keep most shingles intact, and the length
    blocking is the classic cheap candidate generator for it — an edit
    budget of L/{r} changes token count by at most L/{r}, so true
    near-dup pairs land in the same or adjacent buckets (adjacent-bucket
    misses are the documented recall trade; widen blocks or union a
    shifted bucketing to close it).

    Scale: the block join is an EQUI-join on (lang, bucket) — never a
    cross product — and block population is bounded by the corpus's
    length histogram, so the quadratic term is per-block and small; the
    DP cost per pair is L² chars, which is why this runs downstream of
    blocking and not corpus-wide.  ASCII guard: Spark's levenshtein
    counts UTF-16 chars while DuckDB's counts bytes; both sides filter
    to ASCII-only text (identical predicate), where the two measures
    coincide — on a non-ASCII corpus route non-ASCII docs to the
    MinHash/SimHash paths instead."""
    d = load_table(spark, sf_dir, "documents")
    t = (
        ensure_parallelism(d)
        .filter(~F.col("text").rlike(r"[^\x00-\x7F]"))
        .select(
            "doc_id",
            "lang",
            ta.norm_text("text").alias("nt"),
            (ta.token_count("text") / _LEN_BUCKET).cast("int").alias("blk"),
        )
    )
    a = t.select(
        F.col("doc_id").alias("a_id"), F.col("lang").alias("a_lang"),
        F.col("blk").alias("a_blk"), F.col("nt").alias("a_nt"),
    )
    b = t.select(
        F.col("doc_id").alias("b_id"), F.col("lang").alias("b_lang"),
        F.col("blk").alias("b_blk"), F.col("nt").alias("b_nt"),
    )
    pairs = a.join(
        b,
        (F.col("a_lang") == F.col("b_lang"))
        & (F.col("a_blk") == F.col("b_blk"))
        & (F.col("a_id") < F.col("b_id")),
    )
    dist = F.levenshtein("a_nt", "b_nt")
    return (
        pairs.withColumn("edit_dist", dist.cast("long"))
        .filter(
            F.col("edit_dist") * _REL_DIST_DENOM
            <= F.greatest(F.length("a_nt"), F.length("b_nt"))
        )
        .select(
            "a_id",
            "b_id",
            "edit_dist",
            F.length("a_nt").cast("long").alias("len_a"),
            F.length("b_nt").cast("long").alias("len_b"),
        )
    )


doc_editdist_near_dups.__doc__ = doc_editdist_near_dups.__doc__.format(
    b=_LEN_BUCKET, r=_REL_DIST_DENOM
)


@register(
    "doc_decontaminated_sample",
    sql=f"""
    WITH sh AS ({_SH8_CANON}),
    bg AS (
      SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id < 10
    ),
    cont AS (
      SELECT DISTINCT c.doc_id
      FROM (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id >= 10) c
      JOIN bg USING (g)
    )
    SELECT d.doc_id, d.lang, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
    FROM ({_SQL_DOCS1}) d
    WHERE d.doc_id >= 10
      AND d.doc_id NOT IN (SELECT doc_id FROM cont)
    """,
    operators=("J5", "P6", "P10"),
)
def doc_decontaminated_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DECONTAMINATED training set: every non-benchmark document
    that shares no verbatim 8-token shingle with the held-out set
    (doc_id < 10) — the filtering counterpart of
    ``doc_contamination_overlap``, which only reports the overlap.

    Shape at 100 TB: the benchmark shingle set is tiny and broadcast;
    corpus docs that hit it are collected by a broadcast semi-join into
    a contaminated-id set that is itself bounded by actual overlap (not
    corpus size) and broadcast back for the left-anti filter — the
    corpus is never shuffled at any stage, making this a pure scan +
    two broadcast joins: the cheapest possible decontamination plan.
    The two-step (semi then anti) rather than a single anti join on the
    exploded shingles is load-bearing: a doc with ANY hit must drop
    entirely, which an anti join on shingle rows would not express."""
    from unicargo_medallion_data_pipeline_spark.plans.similarity_gold import _docs_with_text
    from unicargo_medallion_data_pipeline_spark.textops.dedup import shingles

    # canonical text universe: NULL/empty docs have no shingles to share
    # (and Spark/DuckDB disagree on NULL-text shingle propagation), and
    # duplicate doc_ids make the id-keyed anti join ill-defined (r11
    # sweep) — same identity contract as the similarity family
    d = _docs_with_text(spark, sf_dir)
    sh = ensure_parallelism(d).select("doc_id", shingles("text", 8).alias("s"))
    bench_grams = (
        sh.filter(F.col("doc_id") < 10)
        .select(F.explode_outer("s").alias("g"))
        .distinct()
    )
    corpus_grams = sh.filter(F.col("doc_id") >= 10).select(
        "doc_id", F.explode_outer("s").alias("g")
    )
    contaminated = (
        corpus_grams.join(F.broadcast(bench_grams), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        d.filter(F.col("doc_id") >= 10)
        .join(F.broadcast(contaminated), "doc_id", "left_anti")
        .select("doc_id", "lang", ta.token_count("text").cast("long").alias("n_tokens"))
    )


@register(
    "doc_chunking",
    sql=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, len(toks), 48)) AS start
      FROM t
    )
    SELECT doc_id,
      CAST((start - 1) // 48 AS INTEGER) AS chunk_idx,
      CAST(start AS INTEGER) AS start_token,
      CAST(len(list_slice(toks, start, start + 63)) AS INTEGER) AS n_tokens,
      md5(array_to_string(list_slice(toks, start, start + 63), ' ')) AS chunk_hash
    FROM s
    """,
    operators=("P4", "P10"),
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the canonical pre-training
    prep step between curation and tokenization: each document becomes
    overlapping 64-token windows at stride 48 (16-token overlap, so no
    boundary context is lost), each chunk carrying its position and an
    md5 content hash (the join key for chunk-level dedup downstream).

    Scale shape: one narrow pass — tokenization, the window-start
    ``sequence``, ``posexplode``, and per-chunk ``slice``/``md5`` are
    all map-side; output size is input size × ~4/3 (the overlap factor)
    with no keyed shuffle (the only exchange is ensure_parallelism's
    conditional round-robin spread of tiny test scans — a no-op on a
    many-split lake scan), so chunking 100 TB is scan-bound.  The oracle
    recomputes every chunk hash bitwise in DuckDB (same normalization
    and slicing; generate_series/list_slice mirror sequence/slice
    exactly, both 1-based inclusive)."""
    W, S = 64, 48
    t = ensure_parallelism(load_table(spark, sf_dir, "documents")).select(
        "doc_id", ta.tokens("text").alias("toks")
    )
    ex = t.select(
        "doc_id",
        "toks",
        F.posexplode(F.sequence(F.lit(1), F.size("toks"), F.lit(S))).alias(
            "chunk_idx", "start_token"
        ),
    )
    chunk = F.slice(F.col("toks"), F.col("start_token"), W)
    return ex.select(
        "doc_id",
        "chunk_idx",
        "start_token",
        F.size(chunk).alias("n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
    )
