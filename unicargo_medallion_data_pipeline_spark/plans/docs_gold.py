"""Document-corpus queries: text analysis over the `documents` table.

Library logic lives in textops/analysis.py; each query here pairs it with
a literal DuckDB mirror (same stopword/marker sets, same normalization, so
values hash-match exactly).  SURVEY north-star operators: language-ID,
quality scoring, token counting, fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from unicargo_medallion_data_pipeline_spark.plans.catalog import CATALOG, register
from unicargo_medallion_data_pipeline_spark.plans.universes import (
    SQL_DOCS1 as _SQL_DOCS1,
    SQL_NORM as _NORM,
    SQL_TOKS as _TOKS,
)
from unicargo_medallion_data_pipeline_spark.sources.readers import load_table
from unicargo_medallion_data_pipeline_spark.textops import analysis as ta
from unicargo_medallion_data_pipeline_spark.textops.util import ensure_parallelism

# DuckDB fragments mirroring textops/analysis.py
_NTOK = f"len({_TOKS})"


def _sql_list(words) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


_SW = _sql_list(ta.STOPWORDS_EN)
_NSW = f"len(list_filter({_TOKS}, x -> list_contains({_SW}, x)))"
_NPUNCT = "(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))"
# kept-CJK length (the replace removes non-CJK); length(text) MINUS
# this would be the non-CJK count — the inversion that once tagged
# every ASCII doc 'zh'
_CJK = "length(regexp_replace(text, '[^一-鿿]', '', 'g'))"


def _marker_sql(lang: str) -> str:
    return f"len(list_filter({_TOKS}, x -> list_contains({_sql_list(ta.MARKERS[lang])}, x)))"


@register(
    "doc_token_stats",
    sql=f"""
    WITH stats AS (
      SELECT
        doc_id, lang, source,
        CAST({_NTOK} AS INTEGER) AS n_tokens,
        CAST(len(list_distinct({_TOKS})) AS INTEGER) AS n_distinct_tokens,
        CAST(length({_NORM}) AS INTEGER) AS n_chars_norm
      FROM documents
    )
    SELECT
      doc_id, lang, source, n_tokens, n_distinct_tokens, n_chars_norm,
      CAST(n_chars_norm - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_token_len,
      CAST(n_distinct_tokens AS DOUBLE) / n_tokens AS lexical_diversity
    FROM stats
    """,
    operators=("P4", "P5"),
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics (north-star text analysis).  Pure
    narrow projection — no shuffle, fully codegen'd at any scale."""
    d = load_table(spark, sf_dir, "documents")
    stats = d.select(
        "doc_id",
        "lang",
        "source",
        ta.token_count("text").alias("n_tokens"),
        ta.distinct_token_count("text").alias("n_distinct_tokens"),
        F.length(ta.norm_text("text")).alias("n_chars_norm"),
    )
    return stats.select(
        "*",
        (
            (F.col("n_chars_norm") - (F.col("n_tokens") - 1)).cast("double") / F.col("n_tokens")
        ).alias("avg_token_len"),
        (F.col("n_distinct_tokens").cast("double") / F.col("n_tokens")).alias(
            "lexical_diversity"
        ),
    )


@register(
    "doc_quality_scores",
    sql=f"""
    WITH raw AS (
      SELECT
        doc_id,
        CAST({_NTOK} AS INTEGER) AS n_tokens,
        CAST({_NSW} AS INTEGER) AS n_stopwords,
        CAST({_NPUNCT} AS INTEGER) AS n_punct,
        CAST(length(text) AS INTEGER) AS n_chars
      FROM documents
    )
    SELECT
      doc_id, n_tokens, n_stopwords, n_punct,
      CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
      CAST(n_punct AS DOUBLE) / greatest(CAST(n_chars AS DOUBLE), 1.0) AS punct_ratio,
      0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
        + 0.3 * (1.0 - CAST(n_punct AS DOUBLE) / greatest(CAST(n_chars AS DOUBLE), 1.0))
        + 0.3 * (CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS quality_score
    FROM raw
    """,
    operators=("P4",),
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training quality heuristics: length / punctuation / stopword
    ratios + composite score (north-star text analysis)."""
    return quality_frame(load_table(spark, sf_dir, "documents"))


def quality_frame(d: DataFrame) -> DataFrame:
    """The quality-score computation over an arbitrary documents frame
    (factored out so callers with a pre-filtered/deduped universe —
    doc_neardup_representatives — score exactly the rows they keep)."""
    raw = d.select(
        "doc_id",
        ta.token_count("text").alias("n_tokens"),
        ta.stopword_count("text").alias("n_stopwords"),
        ta.punct_count("text").alias("n_punct"),
        F.length("text").alias("n_chars"),
    )
    n_tok = F.col("n_tokens").cast("double")
    # greatest(…, 1): an empty doc has n_chars=0 and would ANSI-crash
    # the division (punct is 0 there, so the ratio stays exactly 0) —
    # mirrored in the oracle SQL above
    n_chars = F.greatest(F.col("n_chars").cast("double"), F.lit(1.0))
    sw_ratio = F.col("n_stopwords").cast("double") / n_tok
    punct_ratio = F.col("n_punct").cast("double") / n_chars
    return raw.select(
        "doc_id",
        "n_tokens",
        "n_stopwords",
        "n_punct",
        sw_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        (
            F.lit(0.4) * F.least(F.lit(1.0), n_tok / F.lit(100.0))
            + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
            + F.lit(0.3) * sw_ratio
        ).alias("quality_score"),
    )


@register(
    "doc_language_id",
    sql=f"""
    WITH scored AS (
      SELECT
        doc_id, lang,
        CAST({_marker_sql('en')} AS INTEGER) AS en_markers,
        CAST({_marker_sql('de')} AS INTEGER) AS de_markers,
        CAST({_marker_sql('fr')} AS INTEGER) AS fr_markers,
        CAST({_marker_sql('es')} AS INTEGER) AS es_markers,
        CAST({_CJK} AS INTEGER) AS cjk_chars
      FROM documents
    )
    SELECT *,
      CASE
        WHEN cjk_chars > 0 THEN 'zh'
        WHEN en_markers >= de_markers AND en_markers >= fr_markers
             AND en_markers >= es_markers THEN 'en'
        WHEN de_markers >= fr_markers AND de_markers >= es_markers THEN 'de'
        WHEN fr_markers >= es_markers THEN 'fr'
        ELSE 'es'
      END AS predicted_lang,
      (CASE
        WHEN cjk_chars > 0 THEN 'zh'
        WHEN en_markers >= de_markers AND en_markers >= fr_markers
             AND en_markers >= es_markers THEN 'en'
        WHEN de_markers >= fr_markers AND de_markers >= es_markers THEN 'de'
        WHEN fr_markers >= es_markers THEN 'fr'
        ELSE 'es'
      END) = lang AS lang_match
    FROM scored
    """,
    operators=("P4", "P8"),
)
def doc_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/marker language-ID heuristic with deterministic argmax
    (north-star language identification)."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        ta.marker_count("en", "text").alias("en_markers"),
        ta.marker_count("de", "text").alias("de_markers"),
        ta.marker_count("fr", "text").alias("fr_markers"),
        ta.marker_count("es", "text").alias("es_markers"),
        ta.cjk_char_count("text").alias("cjk_chars"),
    )
    pred = (
        F.when(F.col("cjk_chars") > 0, "zh")
        .when(
            (F.col("en_markers") >= F.col("de_markers"))
            & (F.col("en_markers") >= F.col("fr_markers"))
            & (F.col("en_markers") >= F.col("es_markers")),
            "en",
        )
        .when(
            (F.col("de_markers") >= F.col("fr_markers"))
            & (F.col("de_markers") >= F.col("es_markers")),
            "de",
        )
        .when(F.col("fr_markers") >= F.col("es_markers"), "fr")
        .otherwise("es")
    )
    return scored.select(
        "*", pred.alias("predicted_lang"), (pred == F.col("lang")).alias("lang_match")
    )


@register(
    "doc_fingerprint_dedup",
    sql=f"""
    WITH fp AS (
      SELECT doc_id, md5({_NORM}) AS fingerprint
      FROM documents
    )
    SELECT
      doc_id,
      fingerprint,
      CAST(COUNT(*) OVER (PARTITION BY fingerprint) AS BIGINT) AS dup_group_size,
      MIN(doc_id) OVER (PARTITION BY fingerprint) AS canonical_doc_id,
      doc_id = MIN(doc_id) OVER (PARTITION BY fingerprint) AS keep
    FROM fp
    """,
    operators=("P10", "W5"),
)
def doc_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via md5-of-normalized-text fingerprints: every doc gets
    its dup-group size, canonical id, and a keep/drop flag (north-star
    exact dedup; scalable hash-groupBy — one shuffle on the fingerprint)."""
    d = load_table(spark, sf_dir, "documents")
    fp = d.select("doc_id", ta.fingerprint("text").alias("fingerprint"))
    w = Window.partitionBy("fingerprint")
    return fp.select(
        "doc_id",
        "fingerprint",
        F.count(F.lit(1)).over(w).alias("dup_group_size"),
        F.min("doc_id").over(w).alias("canonical_doc_id"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("keep"),
    )


@register(
    "doc_corpus_rollup",
    sql=f"""
    WITH stats AS (
      SELECT source, lang,
             CAST({_NTOK} AS INTEGER) AS n_tokens,
             n_chars
      FROM documents
    )
    SELECT
      source, lang,
      COUNT(*) AS n_docs,
      CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens_per_doc,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM stats
    GROUP BY source, lang
    """,
    operators=("A4", "A13"),
)
def doc_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition rollup by (source, lang) — the dataset-card
    aggregation every training corpus needs."""
    d = load_table(spark, sf_dir, "documents")
    stats = d.select("source", "lang", ta.token_count("text").alias("n_tokens"), "n_chars")
    return stats.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias("avg_tokens_per_doc"),
        F.sum("n_chars").alias("total_chars"),
    )


_MD5_INT = ta.sql_md5_int60()


@register(
    "doc_deterministic_sample",
    sql=f"""
    SELECT doc_id, lang, source,
           CAST({_MD5_INT} % 10 AS BIGINT) AS sample_bucket
    FROM documents
    WHERE {_MD5_INT} % 10 = 0
    """,
    operators=("P8", "P4"),
)
def doc_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% corpus sample by content hash (training-data
    curation primitive).

    ``rand()``-based sampling is rerun- and partitioning-dependent; a
    content-hash bucket (md5 prefix mod N) is reproducible on any engine,
    any run, any partitioning — the only acceptable shape for carving
    train/holdout splits at 100 TB.  Pure narrow filter: no shuffle,
    fully pushdown-friendly, and the SAME rows fall in the sample when
    the corpus is re-ingested.  (15 hex digits = 60 bits, exact in both
    engines' signed 64-bit ints.)"""
    d = load_table(spark, sf_dir, "documents")
    md5_int = ta.md5_int60("text")
    return (
        d.select(
            "doc_id", "lang", "source", (md5_int % 10).alias("sample_bucket")
        )
        .filter(F.col("sample_bucket") == 0)
    )


@register(
    "doc_stratified_cap",
    sql=f"""
    WITH raw AS (
      SELECT
        doc_id, lang,
        CAST({_NTOK} AS INTEGER) AS n_tokens,
        CAST({_NSW} AS INTEGER) AS n_stopwords,
        CAST({_NPUNCT} AS INTEGER) AS n_punct,
        CAST(length(text) AS INTEGER) AS n_chars
      FROM ({_SQL_DOCS1})
    ),
    scored AS (
      SELECT doc_id, lang,
        0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
          + 0.3 * (1.0 - CAST(n_punct AS DOUBLE) / greatest(CAST(n_chars AS DOUBLE), 1.0))
          + 0.3 * (CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE))
          AS quality_score
      FROM raw
    )
    SELECT doc_id, lang, quality_score, lang_rank FROM (
      SELECT *,
        CAST(ROW_NUMBER() OVER (
          PARTITION BY lang ORDER BY quality_score DESC, doc_id
        ) AS INTEGER) AS lang_rank
      FROM scored
    ) WHERE lang_rank <= 25
    """,
    operators=("W5", "O3", "A13"),
)
def doc_stratified_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified per-language cap: keep the 25 highest-quality documents
    per language (training-data curation primitive — cap dominant strata
    so one source/language cannot swamp the mixture).

    Shape: narrow quality scoring (no shuffle) then ONE window shuffle on
    the stratum key; with a rank predicate Spark runs it as a
    WindowGroupLimit (top-k per key pushed before the full sort at rank
    time).  Deterministic: quality_score is bit-stable cross-engine
    (same exact-int ratios as doc_quality_scores) and ties break on
    doc_id."""
    from unicargo_medallion_data_pipeline_spark.plans.universes import docs_with_text

    d = docs_with_text(spark, sf_dir)  # canonical universe (r11 sweep)
    raw = d.select(
        "doc_id",
        "lang",
        ta.token_count("text").alias("n_tokens"),
        ta.stopword_count("text").alias("n_stopwords"),
        ta.punct_count("text").alias("n_punct"),
        F.length("text").alias("n_chars"),
    )
    n_tok = F.col("n_tokens").cast("double")
    # greatest(…, 1): an empty doc has n_chars=0 and Spark ANSI raises on
    # ANY zero divisor (doubles included, unlike IEEE engines) — the SQL
    # mirror was already guarded; the engine side wasn't (r11 sweep)
    n_chars = F.greatest(F.col("n_chars").cast("double"), F.lit(1.0))
    score = (
        F.lit(0.4) * F.least(F.lit(1.0), n_tok / F.lit(100.0))
        + F.lit(0.3) * (F.lit(1.0) - F.col("n_punct").cast("double") / n_chars)
        + F.lit(0.3) * (F.col("n_stopwords").cast("double") / n_tok)
    )
    scored = raw.select("doc_id", "lang", score.alias("quality_score"))
    w = Window.partitionBy("lang").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("lang_rank", F.row_number().over(w))
        .filter(F.col("lang_rank") <= 25)
    )


@register(
    "doc_contamination_overlap",
    sql=rf"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 7, 1)),
               i -> array_to_string(list_slice(toks, i, i + 7), ' '))) AS s
      FROM (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        FROM ({_SQL_DOCS1})
      )
    ),
    bench AS (
      SELECT doc_id AS b_id, len(s) AS b_n, unnest(s) AS g FROM sh WHERE doc_id < 10
    ),
    corpus AS (
      SELECT doc_id AS d_id, unnest(s) AS g FROM sh
    )
    SELECT b_id, d_id,
           CAST(COUNT(*) AS BIGINT) AS n_shared,
           CAST(COUNT(*) AS DOUBLE) / MAX(b_n) AS containment
    FROM bench JOIN corpus USING (g)
    WHERE b_id != d_id
    GROUP BY b_id, d_id
    HAVING COUNT(*) >= 3
    """,
    operators=("J4", "A13", "P10"),
    bench=True,
)
def doc_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan (training-data curation primitive):
    how much of each 'benchmark' document (here: doc_id < 10 as the held
    set) appears verbatim inside other corpus documents, measured as
    shared distinct 8-token shingles and containment (shared / benchmark
    shingles).

    Shape: the classic inverted-index join — shingle explode is a narrow
    map on both sides, the match is an EQUI-join on the shingle string,
    then one pair-keyed count.  At 100 TB the benchmark side is tiny and
    BROADCAST, so the corpus never shuffles for the join; only the
    (b_id, d_id) count aggregation shuffles, and that is bounded by
    actual overlap, not corpus size.  No cross product anywhere."""
    from unicargo_medallion_data_pipeline_spark.textops.dedup import shingles

    from unicargo_medallion_data_pipeline_spark.plans.universes import docs_with_text

    d = docs_with_text(spark, sf_dir)  # canonical universe (r11 sweep, seed d)
    # The corpus-side shingle build is the CPU cost of this query; spread
    # the single-file local scan before it (no-op on real lake scans —
    # measured 4.85s -> see docstring note below without it at sf0.1).
    sh = ensure_parallelism(d).select("doc_id", shingles("text", 8).alias("s"))
    bench = (
        sh.filter(F.col("doc_id") < 10)
        .select(
            F.col("doc_id").alias("b_id"),
            F.size("s").alias("b_n"),
            F.explode_outer("s").alias("g"),
        )
    )
    corpus = sh.select(F.col("doc_id").alias("d_id"), F.explode_outer("s").alias("g"))
    return (
        F.broadcast(bench)
        .join(corpus, "g")
        .filter(F.col("b_id") != F.col("d_id"))
        .groupBy("b_id", "d_id")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            (F.count(F.lit(1)).cast("double") / F.max("b_n")).alias("containment"),
        )
        .filter(F.col("n_shared") >= 3)
    )


@register(
    "doc_contamination_winnowed",
    # IDENTICAL oracle to doc_contamination_overlap: the winnow
    # pre-filter below is provably lossless for this query's semantics,
    # and the hash gate verifies that claim on every run.
    sql=CATALOG["doc_contamination_overlap"].sql,
    operators=("J4", "A13", "P10"),
)
def doc_contamination_winnowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The contamination scan with a winnow-fingerprint PRE-FILTER
    (r12 verdict task 6): corpus documents enter the expensive 8-token
    shingle explode + inverted-index join ONLY if they share at least
    one winnowed fingerprint with some benchmark document.

    Losslessness argument (why the oracle is doc_contamination_overlap's
    verbatim): a shared 8-token shingle is a contiguous substring of
    BOTH normalized texts (shingles are token-stream slices joined by
    single spaces, and the normalized text is exactly the token stream
    joined by single spaces) of length >= 8 tokens + 7 spaces = 15
    chars = k + w - 1 at k=8, w=8.  The fingerprinter keeps EVERY
    window's minimum (textops/winnow.with_winnow_fingerprints), so a
    window of w gram-hashes fully inside the shared substring has
    identical contents in both documents and selects the identical
    minimum — every qualifying (benchmark, corpus) pair therefore
    shares a fingerprint (Schleimer et al. 2003, strengthened by
    all-window selection).  No stop-fingerprint filter is applied —
    that would break the guarantee; the candidate join stays cheap
    anyway because it is BENCHMARK-ANCHORED: the broadcast side is the
    handful of benchmark fingerprints, so a boilerplate-hot fingerprint
    costs |bench hits| x df, never df^2 (unlike the self-join in
    doc_winnow_overlap_pairs, which needs the stop filter).

    Why this matters at 100 TB: the full scan's cost is the corpus-side
    shingle explode (|corpus| x |tokens| rows into the join).  The
    pre-filter reduces that to candidate documents only — fingerprints
    are ~1/w of the gram stream, the candidate semi-join is one
    broadcast probe, and on a realistically-clean corpus candidates are
    a tiny fraction (measured scan reduction in docs/PLANS.md)."""
    from unicargo_medallion_data_pipeline_spark.plans.universes import docs_with_text
    from unicargo_medallion_data_pipeline_spark.textops.dedup import shingles
    from unicargo_medallion_data_pipeline_spark.textops.winnow import (
        winnow_fingerprint_rows,
    )

    d = docs_with_text(spark, sf_dir)
    bench_docs = d.filter(F.col("doc_id") < 10).select("doc_id", "text")

    # Benchmark fingerprints: tiny (|bench| docs), broadcast.  Row-form
    # winnowing (codegen'd scalar md5 + window-min) — the array form's
    # interpreted per-window lambda is ~1ms/window, unusable corpus-wide
    # (r13 finding, see winnow_fingerprint_rows).
    bench_fp = winnow_fingerprint_rows(bench_docs, k=8, w=8).select(
        F.col("id").alias("b_fp_id"), "fp"
    )
    # Candidate corpus docs: one fingerprint probe against the broadcast
    # bench set — the only full-corpus pass besides the final scan, and
    # it moves 60-bit ints, not shingle strings.
    corpus_fp = winnow_fingerprint_rows(
        ensure_parallelism(d), k=8, w=8
    ).select(F.col("id").alias("doc_id"), "fp")
    cand_ids = (
        corpus_fp.join(F.broadcast(bench_fp), "fp")
        .filter(F.col("doc_id") != F.col("b_fp_id"))
        .select("doc_id")
        .distinct()
    )

    # The exact contamination scan, corpus side restricted to candidates
    # (bench docs appear on the corpus side only when they winnow-match
    # another bench doc — which every qualifying pair does, see above).
    # The semi-join restricts the DOCUMENTS, not the shingle rows: a
    # semi above the shingle projection would still compute shingles
    # for every document before dropping them (Catalyst does not move
    # joins below projections — measured r13, the difference between
    # pruning 99% of the corpus and pruning nothing).
    bench = (
        ensure_parallelism(d.filter(F.col("doc_id") < 10))
        .select("doc_id", shingles("text", 8).alias("s"))
        .select(
            F.col("doc_id").alias("b_id"),
            F.size("s").alias("b_n"),
            F.explode_outer("s").alias("g"),
        )
    )
    corpus = (
        ensure_parallelism(d.join(cand_ids, "doc_id", "left_semi"))
        .select("doc_id", shingles("text", 8).alias("s"))
        .select(F.col("doc_id").alias("d_id"), F.explode_outer("s").alias("g"))
    )
    return (
        F.broadcast(bench)
        .join(corpus, "g")
        .filter(F.col("b_id") != F.col("d_id"))
        .groupBy("b_id", "d_id")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            (F.count(F.lit(1)).cast("double") / F.max("b_n")).alias("containment"),
        )
        .filter(F.col("n_shared") >= 3)
    )
