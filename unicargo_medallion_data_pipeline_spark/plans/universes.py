"""Canonical query universes shared across the catalog (round 11).

The adversarial robustness sweep showed that several operator families
need an explicit UNIVERSE definition — which rows participate — before
their semantics are well-defined and cross-engine stable:

* the text/near-dup family: one canonical row per non-NULL ``doc_id``
  with non-empty normalized text (empty-set Jaccard is 0/0; engines
  disagree on NULL-text propagation; duplicate ids make per-id
  reduction ill-defined);
* the embedding similarity family: one canonical row per non-NULL
  ``vec_id`` whose vector is present, dim-64, and nonzero-norm (cosine
  of a zero vector is 0/0).

Each universe exists twice — a Spark loader and the literal DuckDB
subquery the oracles embed — and the two must stay mirror-exact.  Both
are no-ops on identity-clean data.  This module sits below every
``plans/*_gold*`` module so any of them (including ``docs_gold``, which
``similarity_gold`` itself imports) can share it without a cycle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unicargo_medallion_data_pipeline_spark.operators.cleaning import canonical_dedup
from unicargo_medallion_data_pipeline_spark.session import session_state
from unicargo_medallion_data_pipeline_spark.sources.readers import load_table
from unicargo_medallion_data_pipeline_spark.textops import similarity as sim
from unicargo_medallion_data_pipeline_spark.textops.analysis import norm_text

#: DuckDB mirror of ``textops.analysis.norm_text`` / ``tokens``: the one
#: text-normalization literal every documents oracle uses.
SQL_NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
SQL_TOKS = f"string_split({SQL_NORM}, ' ')"

#: quantization template shared with the similarity oracles
_QI = "CAST(floor(CAST({v} AS DOUBLE) * 100000000) AS BIGINT)"

SQL_HAS_TEXT = f"(text IS NOT NULL AND {SQL_NORM} != '')"

SQL_DOCS1 = (
    "SELECT doc_id, text, lang, source, n_chars FROM ("
    "SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY text, "
    "lang NULLS LAST, source NULLS LAST, n_chars NULLS LAST) AS __rn "
    f"FROM documents WHERE doc_id IS NOT NULL AND {SQL_HAS_TEXT}) WHERE __rn = 1"
)

#: Vectors containing NULL *elements* are not valid embeddings and are
#: excluded EXPLICITLY on both engines (r11 ADVICE): DuckDB's list_sum
#: skips NULL elements (norm > 0 → included) while Spark's F.aggregate
#: propagates NULL (predicate NULL → excluded), so without this
#: predicate a partially-NULL dim-64 vector lands in the oracle
#: universe but not the engine universe.
SQL_VALID_EMB = (
    "(embedding IS NOT NULL AND len(embedding) = 64 "
    "AND len(list_filter(embedding, x -> x IS NULL)) = 0 AND list_sum("
    f"list_transform(embedding, x -> {_QI.format(v='x')} * {_QI.format(v='x')})) > 0)"
)

SQL_EMB1 = (
    "SELECT vec_id, embedding, label FROM ("
    "SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id "
    "ORDER BY embedding, label NULLS LAST) AS __rn "
    f"FROM embeddings WHERE vec_id IS NOT NULL AND {SQL_VALID_EMB}) WHERE __rn = 1"
)


def docs_with_text_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UN-pinned plan of the near-dup/curation universe: one canonical
    row per non-NULL doc_id, text non-empty (mirrors ``SQL_DOCS1``).
    Exposed separately so the fingerprint census can assert the builder
    actually SCANS the documents source — the pinned public frame below
    renders as ``Scan ExistingRDD``, which hides the source read."""
    d = load_table(spark, sf_dir, "documents")
    d = d.filter(
        F.col("doc_id").isNotNull()
        & F.col("text").isNotNull()
        & (norm_text("text") != "")
    )
    return canonical_dedup(
        d,
        keys=["doc_id"],
        order_by=[
            F.asc("text"),
            F.asc_nulls_last("lang"),
            F.asc_nulls_last("source"),
            F.asc_nulls_last("n_chars"),
        ],
    )


def _materialized(spark: SparkSession, table: str) -> DataFrame | None:
    """The silver form of a universe, when one is registered (see
    ``pipelines/canonical.py``): scan the already-clean parquet —
    zero derivation cost, no pin needed (a plain source scan is
    plan-stable by itself)."""
    from unicargo_medallion_data_pipeline_spark.pipelines.canonical import canonical_path

    path = canonical_path(table)
    return spark.read.parquet(path) if path else None


# Per-session pin memo: every consumer query would otherwise re-derive
# the universe (one dedup shuffle + an eager localCheckpoint) even
# within one session, where the result is identical — the same
# amortization the flights catalog's silver memo applies.  Held in
# ``session_state(spark)`` under ("universe", sf_dir, table), so it
# dies with its session.  Values are deterministic, so reuse is
# semantics-neutral; the served frame is the same Scan ExistingRDD
# shape the per-query pin produced, so plan fingerprints are unchanged.
#
# Documented staleness assumption: REWRITING the parquet under the same
# sf_dir within one session serves the previously pinned result.  That
# is the pin's contract (a universe is derived once per session per
# source dir); tests that mutate a source dir in place must use a fresh
# dir or a fresh session.
def _pinned(spark: SparkSession, sf_dir: str, table: str, builder) -> DataFrame:
    state = session_state(spark)
    key = ("universe", sf_dir, table)
    if key not in state:
        state[key] = builder(spark, sf_dir).localCheckpoint(eager=True)
    return state[key]


def docs_with_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup/curation universe, pinned.

    Pinned for the same reasons as embeddings_valid below: consumers
    fan the canonical frame into several plan branches (nodes +
    quality in doc_neardup_representatives, shingles + rescore sides
    in the LSH family), and the pin keeps the executed-plan census
    deterministic under AQE.  Lake scale: a materialized silver table
    (``pipelines/canonical.py`` — used automatically when registered)."""
    silver = _materialized(spark, "documents_canonical")
    if silver is not None:
        return silver
    return _pinned(spark, sf_dir, "documents_canonical", docs_with_text_plan)


def embeddings_valid_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UN-pinned plan of the similarity-search universe: one canonical
    row per non-NULL vec_id, present / dim-64 / no NULL elements /
    nonzero-norm (mirrors ``SQL_EMB1``).  Separate from the pinned
    public frame so the fingerprint census keeps asserting the
    embeddings source scan (see ``docs_with_text_plan``)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = sim.quantized(F.col("embedding"))
    e = e.filter(
        F.col("vec_id").isNotNull()
        & F.col("embedding").isNotNull()
        & (F.size("embedding") == 64)
        # Explicit, not via NULL propagation through dot_q: mirrors
        # SQL_VALID_EMB's list_filter clause (see its comment).
        & ~F.exists("embedding", lambda x: x.isNull())
        & (sim.dot_q(q, q) > 0)
    )
    return canonical_dedup(
        e, keys=["vec_id"], order_by=[F.asc("embedding"), F.asc_nulls_last("label")]
    )


def embeddings_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The similarity-search universe, pinned.

    Pin the canonical frame: every similarity query fans it out to 2-3
    plan branches (query side + corpus side + rescore), and an unpinned
    dedup window would re-run per branch AND let AQE's runtime stage
    choices vary between executions (observed: executed-codegen-span
    census flapping 11↔13 for knn_ivf).  At lake scale this frame is
    the materialized clean silver table, written once
    (``pipelines/canonical.py`` — used automatically when registered)."""
    silver = _materialized(spark, "embeddings_canonical")
    if silver is not None:
        return silver
    return _pinned(spark, sf_dir, "embeddings_canonical", embeddings_valid_plan)


#: Pseudo-queries for the fingerprint snapshot: the pinned universes
#: hide their source scans behind ``Scan ExistingRDD``, so the census
#: fingerprints the UN-pinned builder plans under these names to keep
#: the source-read invariant asserted (r11 ADVICE item 3).
UNIVERSE_PLANS = {
    "__universe_docs_with_text": docs_with_text_plan,
    "__universe_embeddings_valid": embeddings_valid_plan,
}
