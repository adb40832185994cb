"""Pre-training corpus preparation queries over `documents` (north-star
training-data surface, part 2): repetition quality signals, PII
redaction, and deterministic sequence packing into token-budget shards.

Each query pairs a pure-Column Spark implementation with a literal
DuckDB mirror; all exported values are exact integers or single IEEE
divisions of exact integers, so the driver's hash compare is bitwise.

Reference parity: the reference pipeline has no corpus-prep surface;
these extend it per the build brief (dedup/curation family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from unicargo_medallion_data_pipeline_spark.plans.catalog import register
from unicargo_medallion_data_pipeline_spark.plans.universes import (
    SQL_NORM as _NORM,
    SQL_TOKS as _TOKS,
)
from unicargo_medallion_data_pipeline_spark.sources.readers import load_table
from unicargo_medallion_data_pipeline_spark.textops import analysis as ta
from unicargo_medallion_data_pipeline_spark.textops import pii
from unicargo_medallion_data_pipeline_spark.textops.util import ensure_parallelism

from unicargo_medallion_data_pipeline_spark.plans.similarity_gold import (  # noqa: E402
    _SQL_DOCS1,
    _docs_with_text,
)

#: DuckDB mirrors of textops/analysis.py's array-expression helpers.
_BIGRAMS = (
    f"CASE WHEN len({_TOKS}) >= 2 THEN "
    f"list_transform(generate_series(1, len({_TOKS}) - 1), "
    f"i -> {_TOKS}[i] || ' ' || {_TOKS}[i + 1]) "
    f"ELSE [] END"
)


def _marker(lang: str) -> str:
    """DuckDB mirror of textops/analysis.marker_count (same fixed sets)."""
    words = ", ".join(f"'{w}'" for w in ta.MARKERS[lang])
    return f"len(list_filter({_TOKS}, x -> list_contains([{words}], x)))"


def _max_count(arr: str) -> str:
    return (
        f"coalesce(list_max(list_transform(list_distinct({arr}), "
        f"t -> len(list_filter({arr}, x -> x = t)))), 0)"
    )


def _dup_instances(arr: str) -> str:
    return (
        f"coalesce(CAST(list_sum(list_transform(list_distinct({arr}), "
        f"t -> CASE WHEN len(list_filter({arr}, x -> x = t)) >= 2 "
        f"THEN len(list_filter({arr}, x -> x = t)) ELSE 0 END)) AS BIGINT), 0)"
    )


@register(
    "doc_repetition_signals",
    sql=f"""
    WITH base AS (
      SELECT doc_id, {_TOKS} AS toks, {_BIGRAMS} AS bg FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST({_max_count('toks')} AS DOUBLE) / CAST(len(toks) AS DOUBLE)
             AS top_token_frac,
           CAST(len(bg) AS INTEGER) AS n_bigrams,
           CASE WHEN len(bg) > 0
                THEN CAST({_max_count('bg')} AS DOUBLE) / CAST(len(bg) AS DOUBLE)
                ELSE 0.0 END AS top_bigram_frac,
           CASE WHEN len(bg) > 0
                THEN CAST({_dup_instances('bg')} AS DOUBLE) / CAST(len(bg) AS DOUBLE)
                ELSE 0.0 END AS dup_bigram_frac
    FROM base
    """,
    operators=("P4", "P5"),
)
def doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: fraction of
    tokens that are the single most-frequent token, and the top /
    duplicated bigram fractions (high values flag boilerplate and
    degenerate repetition — standard pre-training filters).

    Pure narrow map: multiplicities are computed as array expressions
    per row (O(distinct·n) per doc, codegen'd, zero shuffle) — not a
    posexplode + groupBy, which would shuffle every token of the corpus
    to compute a per-document mode."""
    d = load_table(spark, sf_dir, "documents")
    # Two-step projection: tokens materialize first so the bigram
    # element_at indexes an attribute (O(n) per doc), not a re-evaluated
    # split expression (O(n²) — see textops.analysis.bigrams_of).
    toked = ensure_parallelism(d).select(
        "doc_id", ta.tokens("text").alias("toks")
    )
    base = toked.select(
        "doc_id", "toks", ta.bigrams_of(F.col("toks")).alias("bg")
    )
    n = F.size("toks")
    nbg = F.size("bg")
    return base.select(
        "doc_id",
        n.alias("n_tokens"),
        (
            ta.max_element_count(F.col("toks")).cast("double") / n.cast("double")
        ).alias("top_token_frac"),
        nbg.alias("n_bigrams"),
        F.when(
            nbg > 0,
            ta.max_element_count(F.col("bg")).cast("double") / nbg.cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
        F.when(
            nbg > 0,
            ta.duplicated_instance_count(F.col("bg")).cast("double")
            / nbg.cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_frac"),
    )


def _pii_count_sql(kind: str) -> str:
    # Mirrors pii_count: count on the text with every EARLIER pattern
    # already redacted, so overlapping kinds (SSN vs phone) don't
    # double-count.
    text = "text"
    for k, pattern, repl in pii.PII_PATTERNS:
        escaped = pattern.replace("'", "''")
        if k == kind:
            return f"CAST(len(regexp_extract_all({text}, '{escaped}')) AS INTEGER)"
        text = f"regexp_replace({text}, '{escaped}', '{repl}', 'g')"
    raise KeyError(kind)


def _redacted_sql() -> str:
    out = "text"
    for _, pattern, repl in pii.PII_PATTERNS:
        escaped = pattern.replace("'", "''")
        out = f"regexp_replace({out}, '{escaped}', '{repl}', 'g')"
    return out


@register(
    "doc_pii_redaction",
    sql=f"""
    SELECT doc_id,
           {_pii_count_sql('email')} AS n_emails,
           {_pii_count_sql('ssn')} AS n_ssns,
           {_pii_count_sql('phone')} AS n_phones,
           md5({_redacted_sql()}) AS redacted_fp
    FROM documents
    """,
    operators=("P4", "P8"),
)
def doc_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub report per document: match counts per kind plus the md5
    of the fully redacted text.

    The oracle recomputes both with DuckDB's RE2 engine — the patterns
    live in the Java-regex ∩ RE2 deterministic subset (textops/pii.py),
    so counts and the redacted fingerprint must agree byte-for-byte.
    This corpus is synthetic and PII-free (counts are 0 and the
    fingerprint equals the original text's), so the behavioral cases —
    planted emails/phones/SSNs, placeholder substitution, pattern
    ordering — are additionally pytest-asserted in
    tests/test_textops.py.  Narrow map at scan throughput; no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    return ensure_parallelism(d).select(
        "doc_id",
        pii.pii_count("email", "text").alias("n_emails"),
        pii.pii_count("ssn", "text").alias("n_ssns"),
        pii.pii_count("phone", "text").alias("n_phones"),
        F.md5(pii.redact_pii("text")).alias("redacted_fp"),
    )


#: Tokens per training shard for doc_shard_packing.
_SHARD_BUDGET = 4096


@register(
    "doc_shard_packing",
    sql=f"""
    WITH sized AS (
      SELECT doc_id, lang, CAST(len({_TOKS}) AS INTEGER) AS n_tokens
      FROM ({_SQL_DOCS1})
    ),
    packed AS (
      SELECT doc_id, lang, n_tokens,
             SUM(CAST(n_tokens AS BIGINT)) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - n_tokens AS start_tok
      FROM sized
    )
    SELECT doc_id, lang, n_tokens,
           CAST(start_tok // {_SHARD_BUDGET} AS BIGINT) AS shard_idx,
           CAST(start_tok % {_SHARD_BUDGET} AS BIGINT) AS shard_offset
    FROM packed
    """,
    operators=("W3", "A2"),
)
def doc_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic greedy sequence packing: concatenate each language's
    documents in doc_id order and split the token stream into
    fixed-budget training shards (_SHARD_BUDGET = 4096 tokens).  Emits each doc's
    shard index and starting offset — the standard pack-and-straddle
    layout a pre-training data loader consumes.

    Exact integer arithmetic end-to-end (window cumsum, integer div/mod)
    → bitwise oracle.  Scale shape: ONE window partitioned by lang —
    each partition's cumsum is a single sorted pass; for a lake-scale
    corpus pack within finer natural partitions (lang × source × date)
    or pre-bucket by the partition key so no single window partition
    outgrows an executor."""
    # canonical text universe: packing is keyed and ORDERED by doc_id,
    # so duplicate ids make shard offsets run-dependent (r11 sweep)
    d = _docs_with_text(spark, sf_dir)
    sized = ensure_parallelism(d).select(
        "doc_id", "lang", ta.token_count("text").alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum(F.col("n_tokens").cast("long")).over(w) - F.col("n_tokens")).alias(
        "start_tok"
    )
    packed = sized.select("doc_id", "lang", "n_tokens", start)
    return packed.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.expr(f"CAST(start_tok DIV {_SHARD_BUDGET} AS BIGINT)").alias("shard_idx"),
        F.expr(f"CAST(start_tok % {_SHARD_BUDGET} AS BIGINT)").alias("shard_offset"),
    )


#: Curation thresholds (fixed contract values; corpus quality median is
#: ~0.54 and the 95th-pct top-token fraction ~0.16, so both gates bite).
_MIN_QUALITY = 0.45
_MAX_TOP_TOKEN_FRAC = 0.15

_QUALITY_SQL = (
    "0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)"
    " + 0.3 * (1.0 - CAST(n_punct AS DOUBLE) / greatest(CAST(n_chars AS DOUBLE), 1.0))"
    " + 0.3 * (CAST(n_sw AS DOUBLE) / CAST(n_tokens AS DOUBLE))"
)


@register(
    "doc_curation_pipeline",
    sql=f"""
    WITH raw AS (
      SELECT doc_id, lang,
             CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
             len(list_filter({_TOKS},
                 x -> list_contains([{", ".join(f"'{w}'" for w in ta.STOPWORDS_EN)}], x)))
               AS n_sw,
             (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) AS n_punct,
             length(text) AS n_chars,
             {_max_count(_TOKS)} AS top_cnt,
             md5({_NORM}) AS fp
      FROM ({_SQL_DOCS1})
    ),
    gated AS (
      SELECT doc_id, lang, n_tokens, {_QUALITY_SQL} AS quality_score, fp
      FROM raw
      WHERE {_QUALITY_SQL} >= {_MIN_QUALITY}
        AND CAST(top_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= {_MAX_TOP_TOKEN_FRAC}
    ),
    deduped AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM gated
      ) WHERE rn = 1
    ),
    packed AS (
      SELECT doc_id, lang, n_tokens, quality_score,
             SUM(CAST(n_tokens AS BIGINT)) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - n_tokens AS start_tok
      FROM deduped
    )
    SELECT doc_id, lang, n_tokens, quality_score,
           CAST(start_tok // {_SHARD_BUDGET} AS BIGINT) AS shard_idx,
           CAST(start_tok % {_SHARD_BUDGET} AS BIGINT) AS shard_offset
    FROM packed
    """,
    operators=("P4", "P10", "W1", "W3"),
    bench=True,
)
def doc_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation in ONE declarative plan: quality gate
    (composite score ≥ {q}) → repetition gate (top-token fraction ≤ {r})
    → exact dedup (first doc per md5 fingerprint) → greedy packing of the
    survivors into {b}-token shards.

    The flagship composition of the curation family: every stage is a
    filter, window, or narrow map, so Catalyst fuses the gates into the
    scan projection and the whole pipeline costs exactly two keyed
    shuffles (fingerprint window, lang window) regardless of corpus
    size.  Values stay exact (integer counts, single IEEE divisions), so
    the DuckDB mirror hash-matches bitwise."""
    d = _docs_with_text(spark, sf_dir)  # canonical universe (r11 sweep)
    # Materialize the narrow gate-measure frame BEFORE filtering on it.
    # Without the pin, predicate pushdown substitutes the full
    # quality/repetition expressions into the filter and lands it BELOW
    # the ensure_parallelism exchange — the whole tokenization pipeline
    # then runs serially on the unspread scan partition and AGAIN in the
    # projection above (measured: 1.45s -> ~0.6s at sf0.1).  Nothing is
    # lost at lake scale: the gates are over computed text measures, not
    # stored columns, so they could never prune the parquet scan anyway —
    # this just evaluates them once.  The checkpointed frame (ids + five
    # numbers, no text) is the curation staging table a real deployment
    # writes between the gate and packing stages.
    raw = (
        ensure_parallelism(d)
        .select(
            "doc_id",
            "lang",
            ta.token_count("text").alias("n_tokens"),
            ta.max_element_count(ta.tokens("text")).alias("top_cnt"),
            ta.quality_score("text").alias("quality_score"),
            ta.fingerprint("text").alias("fp"),
        )
        .localCheckpoint(eager=True)
    )
    gated = raw.filter(
        (F.col("quality_score") >= _MIN_QUALITY)
        & (
            F.col("top_cnt").cast("double") / F.col("n_tokens").cast("double")
            <= _MAX_TOP_TOKEN_FRAC
        )
    )
    dedup_w = Window.partitionBy("fp").orderBy("doc_id")
    deduped = (
        gated.withColumn("rn", F.row_number().over(dedup_w))
        .filter(F.col("rn") == 1)
        .drop("rn", "fp", "top_cnt")
    )
    pack_w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = deduped.withColumn(
        "start_tok",
        F.sum(F.col("n_tokens").cast("long")).over(pack_w) - F.col("n_tokens"),
    )
    return packed.select(
        "doc_id",
        "lang",
        "n_tokens",
        "quality_score",
        F.expr(f"CAST(start_tok DIV {_SHARD_BUDGET} AS BIGINT)").alias("shard_idx"),
        F.expr(f"CAST(start_tok % {_SHARD_BUDGET} AS BIGINT)").alias("shard_offset"),
    )


doc_curation_pipeline.__doc__ = doc_curation_pipeline.__doc__.format(
    q=_MIN_QUALITY, r=_MAX_TOP_TOKEN_FRAC, b=_SHARD_BUDGET
)


@register(
    "corpus_token_df",
    sql=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS token FROM documents
    ),
    stats AS (
      SELECT token,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq,
             CAST(COUNT(*) AS BIGINT) AS total_occurrences
      FROM tok GROUP BY token
    )
    SELECT token, doc_freq, total_occurrences
    FROM stats
    ORDER BY doc_freq DESC, token
    LIMIT 100
    """,
    operators=("A1", "A8", "O3"),
)
def corpus_token_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus document-frequency table: top-100 tokens by the number of
    documents containing them (the IR statistic behind idf weighting,
    stopword discovery, and vocabulary pruning).

    The one corpus-prep shape that NEEDS an explode: per-token stats are
    a corpus-level aggregate, so tokens explode once and aggregate on
    the token key — partial aggregation collapses each task's token
    multiset before the single shuffle, and the top-100 is
    TakeOrderedAndProject (no global sort).  Integer counts only →
    bitwise oracle."""
    d = load_table(spark, sf_dir, "documents")
    # explode, not explode_outer: a NULL-text doc has NO token rows
    # (DuckDB's unnest(NULL) emits none; explode_outer would emit a
    # NULL token and skew the vocabulary — r11 sweep)
    tok = ensure_parallelism(d).select(
        "doc_id", F.explode(ta.tokens("text")).alias("token")
    )
    stats = tok.groupBy("token").agg(
        F.countDistinct("doc_id").alias("doc_freq"),
        F.count(F.lit(1)).alias("total_occurrences"),
    )
    return stats.orderBy(F.col("doc_freq").desc(), "token").limit(100)


@register(
    "lang_id_confusion",
    sql=f"""
    WITH scored AS (
      SELECT
        lang,
        CASE
          WHEN length(regexp_replace(text, '[^一-鿿]', '', 'g')) > 0
            THEN 'zh'
          WHEN {_marker('en')} >= {_marker('de')} AND {_marker('en')} >= {_marker('fr')}
               AND {_marker('en')} >= {_marker('es')} THEN 'en'
          WHEN {_marker('de')} >= {_marker('fr')} AND {_marker('de')} >= {_marker('es')}
            THEN 'de'
          WHEN {_marker('fr')} >= {_marker('es')} THEN 'fr'
          ELSE 'es'
        END AS predicted_lang
      FROM documents
    )
    SELECT lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM scored GROUP BY lang, predicted_lang
    """,
    operators=("A3", "A8"),
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: labelled lang × predicted lang with
    document counts — the evaluation aggregate for the marker-based
    classifier (doc_language_id emits the per-document view; this is the
    corpus-level quality summary a curation run reports).  One keyed
    aggregation; the classifier itself is a narrow map."""
    d = load_table(spark, sf_dir, "documents")
    return (
        ensure_parallelism(d)
        .select("lang", ta.predicted_lang("text").alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
