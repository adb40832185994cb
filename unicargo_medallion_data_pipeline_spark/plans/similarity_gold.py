"""Similarity & near-dup queries over `documents` / `embeddings`
(north-star dedup + similarity-search surface).

Every entry here is value-level oracle-checked except IVF:

* hash-free computations (token Jaccard, exact quantized cosine KNN) —
  direct SQL mirrors;
* MinHash LSH — HYBRID oracle: candidates rescored with exact jaccard
  and thresholded; the oracle is the exact all-pairs SQL — a full value
  check whenever LSH recall at the threshold is 1 (provably ≈1 here;
  see doc_minhash_near_dups);
* SimHash — FULL oracle: md5-based fingerprints DuckDB recomputes
  bit-for-bit, and the ≤3-of-60 Hamming threshold with 4-chunk banding
  has recall exactly 1 by pigeonhole;
* hyperplane LSH KNN — FULL oracle: ±1 planes × int64-quantized vectors
  make bucketing exact integer arithmetic both engines reproduce;
* IVF KNN — FULL oracle: assignment against a FROZEN quantized codebook
  (``textops.ivf_frozen``) is exact integer arithmetic + divisions by
  shared literals, so DuckDB reproduces cells/candidates/scores/ranks.
  The iterative k-means FIT is the one remaining non-SQL-expressible
  piece; it is a separate operator asserted in tests/test_textops.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from unicargo_medallion_data_pipeline_spark.operators.graph import connected_components
from unicargo_medallion_data_pipeline_spark.operators.guards import guard_all_pairs
from unicargo_medallion_data_pipeline_spark.plans.catalog import register
from unicargo_medallion_data_pipeline_spark.plans.docs_gold import (
    _NPUNCT as _Q_NPUNCT,
    _NSW as _Q_NSW,
    _NTOK as _Q_NTOK,
    quality_frame,
)
from unicargo_medallion_data_pipeline_spark.sources.readers import load_table
from unicargo_medallion_data_pipeline_spark.textops import dedup as dd
from unicargo_medallion_data_pipeline_spark.textops import similarity as sim
from unicargo_medallion_data_pipeline_spark.textops.analysis import tokens
from unicargo_medallion_data_pipeline_spark.textops.util import ensure_parallelism
from unicargo_medallion_data_pipeline_spark.textops.winnow import winnow_overlap_pairs

_QI = "CAST(floor(CAST({v} AS DOUBLE) * 100000000) AS BIGINT)"

#: Hygiene + identity contracts of the dedup/similarity families —
#: centralized in ``plans/universes.py`` (round 11): documents with no
#: extractable tokens or no id are outside the near-dup universe;
#: vectors must be present, dim-64, nonzero-norm, one canonical row per
#: id.  The private aliases below keep this module's oracles and the
#: other plan modules' imports stable.
from unicargo_medallion_data_pipeline_spark.plans.universes import (  # noqa: E402
    SQL_DOCS1 as _SQL_DOCS1,
    SQL_EMB1 as _SQL_EMB1,
    SQL_HAS_TEXT as _SQL_HAS_TEXT,
    SQL_NORM as _SQL_NORM,
    SQL_TOKS,
    SQL_VALID_EMB as _SQL_VALID_EMB,
    docs_with_text as _docs_with_text,
    embeddings_valid as _embeddings_valid,
)

_SQL_TOKSET = f"list_distinct({SQL_TOKS})"


#: Shared all-pairs token-Jaccard oracle (threshold 0.8): ONE text for
#: both the guarded exact anchor (doc_token_jaccard_pairs) and its
#: lossless prefix-filter twin (doc_prefix_filter_jaccard) — the
#: "provably identical output" contract between them is only checkable
#: if their oracles cannot drift apart.
_SQL_JACCARD_PAIRS_08 = f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKSET} AS tokset FROM ({_SQL_DOCS1})
    )
    SELECT
      a.doc_id AS a_id,
      b.doc_id AS b_id,
      CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
        / (len(a.tokset) + len(b.tokset) - len(list_intersect(a.tokset, b.tokset)))
        AS jaccard
    FROM t a, t b
    WHERE a.doc_id < b.doc_id
      AND CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
        / (len(a.tokset) + len(b.tokset) - len(list_intersect(a.tokset, b.tokset))) >= 0.8
"""


@register(
    "doc_token_jaccard_pairs",
    sql=_SQL_JACCARD_PAIRS_08,
    operators=("P10", "J7"),
)
def doc_token_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs (threshold 0.8).

    Full pairwise — the CORRECTNESS baseline the LSH path approximates.
    Fine at oracle scale; at lake scale use doc_minhash_near_dups (same
    jaccard, candidates from banding instead of the cross join).
    Size-guarded: refuses corpora beyond ALL_PAIRS_GUARD_ROWS."""
    d = guard_all_pairs(
        _docs_with_text(spark, sf_dir),
        "doc_token_jaccard_pairs", "doc_minhash_near_dups",
    )
    t = ensure_parallelism(d).select(
        "doc_id", F.array_distinct(tokens("text")).alias("tokset")
    )
    a = t.select(F.col("doc_id").alias("a_id"), F.col("tokset").alias("a_set"))
    b = t.select(F.col("doc_id").alias("b_id"), F.col("tokset").alias("b_set"))
    pairs = a.crossJoin(b).filter(F.col("a_id") < F.col("b_id"))
    j = dd.jaccard(F.col("a_set"), F.col("b_set"))
    return pairs.select("a_id", "b_id", j.alias("jaccard")).filter(F.col("jaccard") >= 0.8)


_SQL_SHINGLES3 = rf"""
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 2, 1)),
               i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS s
      FROM (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        FROM ({_SQL_DOCS1})
      )
"""


#: Shared recursive-CTE prelude computing shingle-Jaccard (>= 0.3)
#: connected components — ONE text for doc_neardup_components and
#: doc_neardup_representatives, whose results must come from the SAME
#: component structure (a one-sided threshold edit would silently
#: desynchronize cluster membership from representative election).
_SQL_NEARDUP_COMP_PRELUDE = f"""
    WITH RECURSIVE sh AS ({_SQL_SHINGLES3}),
    edges AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM sh a, sh b
      WHERE a.doc_id < b.doc_id
        AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.3
    ),
    sym AS (SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges),
    reach AS (
      SELECT doc_id AS node, doc_id AS label FROM ({_SQL_DOCS1})
      UNION
      SELECT s.v AS node, r.label AS label
      FROM reach r JOIN sym s ON s.u = r.node
    ),
    comp AS (
      SELECT node AS doc_id, MIN(label) AS component_id FROM reach GROUP BY node
    )"""



@register(
    "doc_minhash_near_dups",
    sql=f"""
    WITH sh AS ({_SQL_SHINGLES3})
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
    FROM sh a, sh b
    WHERE a.doc_id < b.doc_id
      AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.3
    """,
    operators=("P10",),
    bench=True,
)
def doc_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) + LSH(16 bands × 2 rows) candidates over 3-token
    shingles, rescored with exact Jaccard and filtered at 0.3 — the scale
    path for near-dup dedup (one band-bucket shuffle, no cross join).

    HYBRID ORACLE: the emitted set is {LSH candidates} ∩ {exact jaccard
    ≥ 0.3}, and the DuckDB oracle is the exact ALL-PAIRS jaccard at the
    same threshold — a full value-level check of the xxhash-based path,
    valid whenever LSH recall at the threshold is 1.  On this corpus the
    pair distribution is bimodal (background 3-gram jaccard ≈ 0.001,
    planted near-dups ≥ 0.8 — nothing in between), and 16 bands × 2 rows
    gives P(miss | j=0.8) = (1-0.64)^16 ≈ 8e-8, so the candidate set
    provably covers every qualifying pair; any dropped pair would fail
    the driver's hash compare.  r=2 still prunes the background:
    P(candidate | j=0.001) ≈ 16·j² ≈ 1.6e-5 — candidates stay
    near-linear in corpus size.

    3-gram shingles (not tokens) are the right granularity: this corpus'
    documents share vocabulary heavily (mean token-set Jaccard ≈ 0.59)
    but not phrasing, so token-level 'near-dups' would be quadratic
    noise."""
    d = _docs_with_text(spark, sf_dir)
    return (
        dd.minhash_lsh_candidates(d, shingle_n=3, k=32, bands=16)
        .filter(F.col("jaccard") >= 0.3)
        .select("a_id", "b_id", "jaccard")
    )


@register(
    "doc_minhash_incremental_near_dups",
    sql=f"""
    WITH sh AS ({_SQL_SHINGLES3})
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
    FROM sh a, sh b
    WHERE a.doc_id < b.doc_id
      AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.3
    """,
    operators=("P10", "S12"),
    bench=True,
)
def doc_minhash_incremental_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-INCREMENTAL corpus near-dup maintenance under the hash
    gate: the corpus arrives in two ingest batches (``pmod(doc_id, 2)``);
    each batch computes MinHash(32) signatures for its NEW documents
    only, finds near-dup pairs against the MAINTAINED signature table
    via the band-bucket equi-join (new side × accumulated side), then
    appends its signatures to the table.  The oracle recomputes the
    exact all-pairs jaccard from raw — green ⇔ incremental == full
    (same invariant pattern as rollup_incremental_equals_full).

    Why this is the 100 TB shape: a daily curation job must not
    re-shingle a petabyte corpus to dedup one day's crawl.  Here each
    batch's shuffle is sized by the BATCH (bands of new docs × the
    accumulated bucket table), signatures are computed exactly once per
    document ever, and every qualifying pair surfaces exactly once —
    in the batch where its later member arrives (band collision is
    symmetric and batch-independent, so the union over batches equals
    the full self-join's candidate set; recall argument as in
    doc_minhash_near_dups).

    r16 job-census optimization (guide §1.2/§2.6): each batch appends
    its signatures as its OWN partition directory of the maintained
    table (``batch=s`` — the ingest-date layout a real signature lake
    uses), so the per-batch pair join reads the accumulated state as an
    immutable, explicit file set.  That write IS the signature
    materialization — the former eager localCheckpoint of the payload
    duplicated it job-for-job — and because every input of every pair
    join is now frozen on disk, the per-batch pair pin (another job
    each) is unnecessary: both batches' band joins execute inside the
    single final action, concurrently, reading only the (id, sig) /
    (id, sh) columns they need (parquet pruning the checkpoint rows
    could not offer).  Six serialized driver jobs became two writes +
    one action; the maintained-table read-back semantics (r13 verdict)
    is intact — the accumulated side always comes off the on-disk
    table, never a shortcut union of in-memory frames."""
    import os as _os

    from unicargo_medallion_data_pipeline_spark.sources.staging import scratch_dir

    u = _docs_with_text(spark, sf_dir)
    path = _os.path.join(scratch_dir("minhash_inc_"), "signatures")
    parts = [_os.path.join(path, f"batch={s}") for s in range(2)]
    # Sequential per-batch writes, deliberately NOT thread-overlapped:
    # each 32-partition signature job already saturates local[32], so a
    # §2.6 thread pool only adds contention here (measured interleaved
    # at sf0.1: sequential 2.62s vs threaded 2.88s end-to-end within one
    # steady window).  On a real cluster with straggling executors the
    # overlap trade can flip — it is a one-line deployment change.
    for s in range(2):
        batch = u.filter(F.pmod(F.col("doc_id"), F.lit(2)) == s)
        dd.minhash_payload(batch, k=32).write.mode("overwrite").parquet(parts[s])

    def _batch_pairs(s: int) -> DataFrame:
        newp = spark.read.parquet(parts[s])
        allp = spark.read.parquet(*parts[: s + 1])
        return dd.incremental_near_dup_pairs(newp, allp, k=32, bands=16, threshold=0.3)

    return _batch_pairs(0).unionByName(_batch_pairs(1))


@register(
    "doc_winnow_overlap_pairs",
    sql=f"""
    WITH normd AS (
      SELECT doc_id, {_SQL_NORM} AS n FROM ({_SQL_DOCS1})
    ), h AS (
      SELECT doc_id, list_transform(generate_series(1, greatest(length(n) - 15, 1)),
         i -> ('0x' || substr(md5(substr(n, i, 16)), 1, 15))::BIGINT) AS hs
      FROM normd
    ), fps AS (
      SELECT doc_id, list_distinct(list_transform(
         generate_series(1, greatest(len(hs) - 31, 1)),
         i -> list_min(list_slice(hs, i, i + 31)))) AS fps
      FROM h
    ), ex AS (
      SELECT doc_id, unnest(fps) AS fp FROM fps
    ), rare AS (
      SELECT fp FROM ex GROUP BY fp HAVING COUNT(*) <= 50
    ), kept AS (
      SELECT ex.doc_id, ex.fp FROM ex JOIN rare USING (fp)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_fps FROM kept GROUP BY doc_id
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(COUNT(*) AS BIGINT) AS shared_fps,
           CAST(COUNT(*) AS DOUBLE) / MIN(LEAST(sa.n_fps, sb.n_fps)) AS overlap
    FROM kept a
    JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
    JOIN sizes sa ON sa.doc_id = a.doc_id
    JOIN sizes sb ON sb.doc_id = b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
    """,
    operators=("P10", "J7"),
)
def doc_winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint overlap pairs (``textops/winnow.py``) —
    VERBATIM-overlap candidates, the contamination-detection complement
    to the whole-document near-dup family: any shared substring of
    >= w + k - 1 = 47 characters guarantees a shared fingerprint
    (Schleimer et al. 2003), independent of how different the rest of
    the two documents is.  k=16/w=32 targets the truly-verbatim tier:
    this template-heavy corpus yields 36k pairs at the classic k=8/w=16
    (every shared 23-char phrase) but 84 at 47+ chars — the
    plagiarism/benchmark-leak signal, not shared idiom.

    FULL ORACLE: md5-derived 60-bit gram hashes and pure array window
    minima — DuckDB recomputes every fingerprint bit-for-bit (verified
    exact on hostile unicode too: both engines slice substrings by
    codepoint).  Scale shape: narrow fingerprinting, stop-fingerprint
    filter (doc-freq > 50 dropped — the hot-bucket skew discipline),
    one fingerprint equi-join."""
    return winnow_overlap_pairs(_docs_with_text(spark, sf_dir), k=16, w=32)


_SQL_SIMHASH60 = rf"""
      WITH tok AS (
        SELECT doc_id,
               unnest(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' ')) AS t
        FROM ({_SQL_DOCS1})
      ),
      h AS (
        SELECT doc_id, ('0x'||substr(md5('simhash:'||t),1,15))::BIGINT AS h FROM tok
      ),
      votes AS (
        SELECT doc_id, CAST(b.b AS INTEGER) AS bit,
               SUM(CASE WHEN (h >> CAST(b.b AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        FROM h CROSS JOIN generate_series(0, 59) b(b) GROUP BY 1, 2
      ),
      fp AS (
        SELECT doc_id,
               SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)::BIGINT
                 AS simhash
        FROM votes GROUP BY doc_id
      )
"""


@register(
    "doc_simhash_clusters",
    sql=f"""
    {_SQL_SIMHASH60}
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM fp a, fp b
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    operators=("P10",),
    bench=True,
)
def doc_simhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit md5-based fingerprints, candidate
    pairs from 15-bit chunk collisions (classic band-and-rotate), kept
    when Hamming distance ≤ 3.

    FULL ORACLE, exact by construction (not probabilistic): with 4
    chunks, two fingerprints within Hamming distance 3 differ in at most
    3 chunks, so at LEAST one chunk is identical (pigeonhole) — every
    qualifying pair is guaranteed to be a candidate, and the engine
    output equals the all-pairs DuckDB SQL on ANY corpus.  (Contrast the
    recall <1 banding regimes: threshold must stay < n_chunks for the
    guarantee.)  The fingerprint itself is cross-engine deterministic:
    md5 token hashes + integer bit votes (textops/dedup.py::simhash60).

    Scale shape: fingerprint is a narrow map; candidates come from a
    chunk equi-join (one shuffle), hamming is filtered map-side before
    the pair-dedup aggregation.  Unigram SimHash on a vocabulary-shared
    corpus keeps chunk buckets small only with wide chunks — 15 bits
    here; at larger corpora widen chunks / add rotations rather than
    raising the threshold past the pigeonhole bound."""
    d = _docs_with_text(spark, sf_dir)
    # Pin the fingerprints before the self-join: both join sides would
    # otherwise re-evaluate the md5+60-bit-vote fold (~0.33s/pass at
    # sf0.1, the bulk of the query).  Same localCheckpoint-over-persist
    # rationale as operators/ranks.py; at lake scale the fingerprint
    # column is written once to the signature table.
    fp = (
        ensure_parallelism(d)
        .select("doc_id", dd.simhash60("text").alias("simhash"))
        .localCheckpoint(eager=True)
    )
    chunks = fp.select(
        "doc_id",
        "simhash",
        F.posexplode_outer(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), 15 * i)
                    .bitwiseAND(F.lit(0x7FFF))
                    for i in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    a = chunks.select(
        F.col("doc_id").alias("a_id"), F.col("simhash").alias("a_sim"), "chunk_idx", "chunk"
    )
    b = chunks.select(
        F.col("doc_id").alias("b_id"), F.col("simhash").alias("b_sim"), "chunk_idx", "chunk"
    )
    scored = (
        a.join(b, ["chunk_idx", "chunk"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            dd.hamming64(F.col("a_sim"), F.col("b_sim")).cast("int").alias("hamming"),
        )
        # Filter BEFORE the pair dedup shuffle: random chunk collisions
        # (hamming ~30) die map-side instead of shuffling.
        .filter(F.col("hamming") <= 3)
    )
    return scored.groupBy("a_id", "b_id").agg(F.max("hamming").alias("hamming"))


@register(
    "embedding_norms",
    sql=f"""
    SELECT
      vec_id,
      label,
      CAST(len(embedding) AS INTEGER) AS dim,
      CASE WHEN embedding IS NULL THEN NULL
           -- NULL-element vectors have no defined norm; DuckDB's
           -- list_sum would silently SKIP the NULL components while
           -- Spark's aggregate propagates NULL — mirror Spark's
           -- (honest) answer explicitly (r12 sweep finding, seed r12a).
           WHEN len(list_filter(embedding, x -> x IS NULL)) > 0 THEN NULL
           ELSE sqrt(CAST(COALESCE(list_sum(list_transform(embedding,
                  x -> {_QI.format(v='x')} * {_QI.format(v='x')})), 0) AS DOUBLE))
                / 100000000.0 END AS l2_norm
    FROM embeddings
    """,
    operators=("P4", "P5"),
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norms via quantized exact integer sums — validates
    the array<float> plumbing against the oracle bit-for-bit."""
    e = load_table(spark, sf_dir, "embeddings")
    q = sim.quantized(F.col("embedding"))
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        (F.sqrt(sim.dot_q(q, q).cast("double")) / F.lit(100000000.0)).alias("l2_norm"),
    )


@register(
    "embedding_knn_exact",
    sql=f"""
    WITH emb AS (SELECT vec_id, embedding FROM ({_SQL_EMB1})),
    q AS (SELECT vec_id, embedding FROM emb WHERE vec_id < 10),
    pair AS (
      SELECT q.vec_id AS qid, c.vec_id AS vid,
        SUM({_QI.format(v='q.embedding[i.i]')} * {_QI.format(v='c.embedding[i.i]')}) AS dot_q,
        SUM({_QI.format(v='q.embedding[i.i]')} * {_QI.format(v='q.embedding[i.i]')}) AS qq,
        SUM({_QI.format(v='c.embedding[i.i]')} * {_QI.format(v='c.embedding[i.i]')}) AS cc
      FROM q, emb c, generate_series(1, 64) i(i)
      WHERE q.vec_id != c.vec_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT qid, vid,
        CAST(dot_q AS DOUBLE) / (sqrt(CAST(qq AS DOUBLE)) * sqrt(CAST(cc AS DOUBLE)))
          AS cosine_sim
      FROM pair
    ),
    ranked AS (
      SELECT qid, vid, cosine_sim,
        CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine_sim DESC, vid)
             AS INTEGER) AS sim_rank
      FROM scored
    )
    SELECT * FROM ranked WHERE sim_rank <= 5
    """,
    operators=("W5", "O3"),
    bench=True,
)
def embedding_knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for a 10-vector query set — the exact
    baseline for similarity search, quantized for cross-engine bitwise
    agreement.  Query side broadcasts; corpus side stays partitioned."""
    e = _embeddings_valid(spark, sf_dir)
    return sim.cosine_topk_exact(e.filter(F.col("vec_id") < 10), e, k=5)


def _lsh_oracle_sql(dim=64, k=5, n_planes=8, n_tables=4, seed=42, max_sim=None, query_filter="a.vec_id < 10") -> str:
    """DuckDB mirror of cosine_topk_lsh: same ±1 plane literals (from the
    same generator), same int64 quantization, so bucket ids / candidate
    set / scores / ranks reproduce the engine bit-for-bit."""
    def proj(s):
        plane = ", ".join(str(v) for v in sim.rademacher_plane(s, dim))
        return (
            f"CAST(list_sum(list_transform(generate_series(1, {dim}),"
            f" j -> q[j] * ([{plane}])[j])) AS BIGINT)"
        )

    def bucket(t):
        return " + ".join(
            f"(CASE WHEN {proj(seed + 1000 * t + p)} >= 0 THEN {1 << p} ELSE 0 END)"
            for p in range(n_planes)
        )

    bucket_cols = ",\n             ".join(f"({bucket(t)}) AS b{t}" for t in range(n_tables))
    any_table = " OR ".join(f"a.b{t} = b.b{t}" for t in range(n_tables))
    dotsum = (
        f"CAST(list_sum(list_transform(generate_series(1, {dim}),"
        f" j -> a.q[j] * b.q[j])) AS BIGINT)"
    )
    sqsum = (
        "CAST(list_sum(list_transform(generate_series(1, {d}),"
        " j -> {v}.q[j] * {v}.q[j])) AS BIGINT)"
    )
    cap = f"WHERE cosine_sim < {max_sim}" if max_sim is not None else ""
    return f"""
    WITH qv AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 100000000) AS BIGINT)) AS q
      FROM ({_SQL_EMB1})
    ),
    sig AS (
      SELECT vec_id, q,
             {bucket_cols}
      FROM qv
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS qid, b.vec_id AS vid
      FROM sig a JOIN sig b ON ({any_table})
      WHERE ({query_filter}) AND a.vec_id != b.vec_id
    ),
    scored AS (
      SELECT cand.qid, cand.vid,
             CAST({dotsum} AS DOUBLE)
               / (sqrt(CAST({sqsum.format(d=dim, v='a')} AS DOUBLE))
                  * sqrt(CAST({sqsum.format(d=dim, v='b')} AS DOUBLE))) AS cosine_sim
      FROM cand
      JOIN qv a ON a.vec_id = cand.qid
      JOIN qv b ON b.vec_id = cand.vid
    ),
    ranked AS (
      SELECT qid, vid, cosine_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine_sim DESC, vid)
                  AS INTEGER) AS sim_rank
      FROM scored
      {cap}
    )
    SELECT * FROM ranked WHERE sim_rank <= {k}
    """


@register(
    "embedding_knn_lsh",
    sql=_lsh_oracle_sql(),
    operators=("W5",),
    bench=True,
)
def embedding_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN top-5 for the same query set — the 100 TB path:
    candidates from a multi-table bucket equi-join instead of a cross
    product.

    FULL ORACLE despite being ANN: approximate ≠ nondeterministic.  The
    ±1 (Rademacher) planes and int64 quantization make bucket assignment
    exact integer arithmetic, so the DuckDB oracle regenerates the SAME
    candidate set from the same plane literals and checks scores and
    ranks value-for-value — the approximation (recall < 1 vs exact KNN)
    is part of the contract being verified, not noise."""
    e = _embeddings_valid(spark, sf_dir)
    return sim.cosine_topk_lsh(e.filter(F.col("vec_id") < 10), e, dim=64, k=5, n_planes=8)


@register(
    "embedding_label_centroids",
    sql=f"""
    WITH comp AS (
      SELECT label, i.i AS i, {_QI.format(v='embedding[i.i]')} AS q
      FROM ({_SQL_EMB1}) embeddings,
           generate_series(1, 64) i(i)
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(i - 1 AS INTEGER) AS dim_idx,
           CAST(SUM(q) AS DOUBLE) / (100000000.0 * COUNT(*)) AS component
    FROM comp GROUP BY label, i
    """,
    operators=("A13", "P4"),
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid via applyInPandas (grouped-map) —
    quantized integer sums make the grouped numpy reduction bitwise
    oracle-checkable despite crossing into Python.  Long-form output
    (label, dim_idx, component): scalar columns only, per the driver
    canonicalizer contract."""
    e = _embeddings_valid(spark, sf_dir)
    return sim.label_centroids(e)


def _ivf_oracle_sql(dim=64, k=5, n_probe=4) -> str:
    """DuckDB mirror of cosine_topk_ivf_frozen: the same frozen-codebook
    literals (``textops.ivf_frozen``), int64 quantization, and
    (score desc, cid asc) assignment order, so cells, probes, candidate
    set, scores, and ranks reproduce the engine bit-for-bit."""
    from unicargo_medallion_data_pipeline_spark.textops.ivf_frozen import (
        FROZEN_CENTROIDS_Q,
        FROZEN_NORMS,
    )

    cent_rows = ",\n      ".join(
        f"({cid}, [{', '.join(str(v) for v in c)}], CAST('{n!r}' AS DOUBLE))"
        for cid, (c, n) in enumerate(zip(FROZEN_CENTROIDS_Q, FROZEN_NORMS))
    )
    dotsum = (
        f"CAST(list_sum(list_transform(generate_series(1, {dim}),"
        f" j -> a.q[j] * b.q[j])) AS BIGINT)"
    )
    sqsum = (
        "CAST(list_sum(list_transform(generate_series(1, {d}),"
        " j -> {v}.q[j] * {v}.q[j])) AS BIGINT)"
    )
    return f"""
    WITH cent(cid, c, nrm) AS (VALUES
      {cent_rows}
    ),
    qv AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 100000000) AS BIGINT)) AS q
      FROM ({_SQL_EMB1})
    ),
    assign AS (
      SELECT qv.vec_id, cent.cid,
             ROW_NUMBER() OVER (
               PARTITION BY qv.vec_id
               ORDER BY CAST(CAST(list_sum(list_transform(generate_series(1, {dim}),
                          j -> qv.q[j] * cent.c[j])) AS BIGINT) AS DOUBLE) / cent.nrm
                        DESC, cent.cid) AS arn
      FROM qv CROSS JOIN cent
    ),
    cells AS (SELECT vec_id, cid FROM assign WHERE arn = 1),
    probes AS (SELECT vec_id, cid FROM assign WHERE arn <= {n_probe} AND vec_id < 10),
    cand AS (
      SELECT p.vec_id AS qid, c.vec_id AS vid
      FROM probes p JOIN cells c USING (cid)
      WHERE p.vec_id != c.vec_id
    ),
    scored AS (
      SELECT cand.qid, cand.vid,
             CAST({dotsum} AS DOUBLE)
               / (sqrt(CAST({sqsum.format(d=dim, v='a')} AS DOUBLE))
                  * sqrt(CAST({sqsum.format(d=dim, v='b')} AS DOUBLE))) AS cosine_sim
      FROM cand
      JOIN qv a ON a.vec_id = cand.qid
      JOIN qv b ON b.vec_id = cand.vid
    ),
    ranked AS (
      SELECT qid, vid, cosine_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine_sim DESC, vid)
                  AS INTEGER) AS sim_rank
      FROM scored
    )
    SELECT * FROM ranked WHERE sim_rank <= {k}
    """


@register(
    "embedding_knn_ivf",
    sql=_ivf_oracle_sql(),
    operators=("W5",),
    bench=True,
)
def embedding_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 for the same query set — the clustered-data scale
    path: corpus vectors live in their nearest-codebook cell, queries
    probe their 4 nearest cells, candidates come from a cell-id
    equi-join, exact quantized rescoring ranks them.

    FULL ORACLE: assignment runs against the FROZEN codebook
    (``textops.ivf_frozen`` — seeded spherical k-means fit offline, then
    quantized to int64 literals), so the whole pipeline is exact integer
    arithmetic + IEEE divisions by shared literals that DuckDB
    reproduces bit-for-bit.  The iterative k-means fit itself
    (``sim.ivf_codebook``) is a separate operator covered by pytest."""
    e = _embeddings_valid(spark, sf_dir)
    return sim.cosine_topk_ivf_frozen(e.filter(F.col("vec_id") < 10), e, k=5, n_probe=4)


@register(
    "embedding_knn_ivf_incremental",
    sql=_ivf_oracle_sql(),
    operators=("W5", "S12"),
)
def embedding_knn_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-MAINTAINED IVF index under the hash gate: the
    corpus arrives in two ingest epochs (``pmod(vec_id, 2)``); each
    epoch assigns frozen-codebook cells for its NEW vectors only (pure
    narrow maps — no shuffle, no refit) and appends the ``(vid, c_emb,
    cell)`` rows to the index table; the standard query set then serves
    from the ACCUMULATED index.  The oracle recomputes the same top-k
    from raw — green ⇔ the incrementally built index answers exactly
    like an all-at-once build (assignment is per-row against frozen
    literals, so index union == union index; what the gate actually
    pins is the maintenance plumbing: append semantics, schema
    stability, no row lost or duplicated across epochs).

    The 100 TB shape: a vector lake ingesting daily embeddings must not
    re-index the corpus per batch — with a frozen coarse codebook, index
    maintenance is a narrow map over the new batch plus a parquet
    append, and serving reads the accumulated cell-clustered table."""
    import os as _os

    from unicargo_medallion_data_pipeline_spark.sources.staging import scratch_dir

    e = _embeddings_valid(spark, sf_dir)
    path = _os.path.join(scratch_dir("ivf_inc_"), "index")
    for s in range(2):
        batch = e.filter(F.pmod(F.col("vec_id"), F.lit(2)) == s)
        sim.ivf_frozen_index_rows(batch).write.mode(
            "overwrite" if s == 0 else "append"
        ).parquet(path)
    index = spark.read.parquet(path)
    return sim.cosine_topk_ivf_frozen_on_index(
        e.filter(F.col("vec_id") < 10), index, k=5, n_probe=4
    )


@register(
    "doc_neardup_components",
    sql=_SQL_NEARDUP_COMP_PRELUDE + f"""
    SELECT doc_id, component_id,
      CAST(COUNT(*) OVER (PARTITION BY component_id) AS BIGINT) AS component_size,
      doc_id = component_id AS is_representative
    FROM comp
    """,
    operators=("P10", "J7"),
)
def doc_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: connected components over the
    minhash near-dup edge set (``operators/graph.py`` min-label
    propagation), every document labeled with its component's min doc_id,
    component size, and a keep-one representative flag — the decision
    output a production dedup pass actually applies.

    Pairs alone under-delete: A~B and B~C chain into one {{A,B,C}}
    component even when A and C never matched directly; the transitive
    closure is the correct dedup unit.  Edges here are
    ``doc_minhash_near_dups`` (LSH candidates ∩ exact jaccard ≥ 0.3 —
    recall 1 on this corpus, see that query's oracle argument), so the
    oracle can rebuild the IDENTICAL edge set from exact all-pairs SQL
    and close it transitively with a recursive CTE: an iterative
    distributed algorithm hash-verified against a declarative fixpoint.

    Scale: each propagation round is one equi-join + min-groupBy on the
    node key (linear state, AQE-handled skew); rounds = component
    diameter, which for near-dup graphs is small (dup clusters are
    dense, not chains).  The all-docs node frame keeps singletons as
    their own representative."""
    d = _docs_with_text(spark, sf_dir)
    edges = doc_minhash_near_dups(spark, sf_dir).select("a_id", "b_id")
    labels = connected_components(
        d.select("doc_id"), edges,
        node_col="doc_id", src_col="a_id", dst_col="b_id",
    )
    w = Window.partitionBy("component_id")
    return labels.select(
        "doc_id",
        "component_id",
        F.count(F.lit(1)).over(w).alias("component_size"),
        (F.col("doc_id") == F.col("component_id")).alias("is_representative"),
    )


@register(
    "doc_neardup_representatives",
    sql=_SQL_NEARDUP_COMP_PRELUDE + f""",
    quality AS (
      SELECT doc_id,
             0.4 * least(1.0, CAST({_Q_NTOK} AS DOUBLE) / 100.0)
               + 0.3 * (1.0 - CAST({_Q_NPUNCT} AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0))
               + 0.3 * (CAST({_Q_NSW} AS DOUBLE) / CAST({_Q_NTOK} AS DOUBLE))
               AS quality_score
      FROM ({_SQL_DOCS1})
    ),
    ranked AS (
      SELECT c.component_id, c.doc_id, q.quality_score,
             ROW_NUMBER() OVER (PARTITION BY c.component_id
                                ORDER BY q.quality_score DESC, c.doc_id) AS rn
      FROM comp c JOIN quality q USING (doc_id)
    )
    SELECT component_id,
           CAST(COUNT(*) AS BIGINT) AS component_size,
           MIN(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc_id,
           MIN(CASE WHEN rn = 1 THEN quality_score END) AS kept_quality,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
    FROM ranked
    GROUP BY component_id
    ORDER BY component_id
    """,
    operators=("P10", "W5", "A13"),
)
def doc_neardup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-AWARE dedup canonicalization: per near-dup component,
    keep the highest-quality member (heuristic quality composite;
    doc_id tie-break) instead of the arbitrary min-id — the
    RefinedWeb/FineWeb-style selection a production curation pass
    applies, composed from two already-verified operators (minhash
    components + quality scoring).

    Determinism: the quality composite is per-row IEEE arithmetic both
    engines compute identically (hash-green `doc_quality_scores`), so
    the per-component argmax with an explicit doc_id tie-break is
    deterministic.  Scale: the window runs per component (bounded by
    cluster size, never corpus size) after the linear components pass.
    """
    d = _docs_with_text(spark, sf_dir)
    edges = doc_minhash_near_dups(spark, sf_dir).select("a_id", "b_id")
    labels = connected_components(
        d.select("doc_id"), edges,
        node_col="doc_id", src_col="a_id", dst_col="b_id",
    )
    quality = quality_frame(d).select("doc_id", "quality_score")
    ranked = labels.join(quality, "doc_id").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("component_id").orderBy(
                F.col("quality_score").desc(), "doc_id"
            )
        ),
    )
    return (
        ranked.groupBy("component_id")
        .agg(
            F.count(F.lit(1)).alias("component_size"),
            F.min(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("kept_doc_id"),
            F.min(F.when(F.col("rn") == 1, F.col("quality_score"))).alias(
                "kept_quality"
            ),
            (F.count(F.lit(1)) - 1).alias("n_dropped"),
        )
        .orderBy("component_id")
    )


#: Positive threshold for hard-negative mining: bucket-colliding pairs
#: at or above this cosine are potential positives/near-dups and are
#: excluded; the top-k below it are the hardest negatives.
_HARD_NEG_CAP = 0.8


@register(
    "embedding_hard_negatives",
    sql=_lsh_oracle_sql(k=3, max_sim=_HARD_NEG_CAP),
    operators=("W5", "O3"),
)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-negative mining for contrastive training: per query vector,
    the top-3 most-similar corpus vectors that share an LSH bucket
    (similar enough to be confusable) yet score BELOW the positive
    threshold {_HARD_NEG_CAP} — the negatives that actually teach a
    contrastive model, versus the uniform-random negatives of
    `doc_negative_pairs` (both samplers now exist; a curriculum mixes
    them).

    Scale shape is identical to `embedding_knn_lsh` (bucket equi-join,
    broadcast query side, max-merge dedup) plus one deterministic
    threshold cut before the ranking window — exact integer scores make
    the cut and the ranks bit-reproducible, so this ANN-derived sampler
    has a FULL value-level oracle."""
    e = _embeddings_valid(spark, sf_dir)
    return sim.cosine_topk_lsh(
        e.filter(F.col("vec_id") < 10), e, dim=64, k=3, n_planes=8,
        max_sim=_HARD_NEG_CAP,
    )


# render the threshold into the docstring (same pattern as
# doc_editdist_near_dups — register() snapshots __doc__ at import)
embedding_hard_negatives.__doc__ = embedding_hard_negatives.__doc__.format(
    _HARD_NEG_CAP=_HARD_NEG_CAP
)


@register(
    "embedding_mutual_nn_pairs",
    sql=f"""
    WITH t AS ({_lsh_oracle_sql(k=1, query_filter="TRUE")})
    SELECT x.qid AS a_id, x.vid AS b_id,
           x.cosine_sim AS cosine_sim
    FROM t x JOIN t y ON x.qid = y.vid AND x.vid = y.qid AND x.qid < y.qid
    ORDER BY a_id, b_id
    """,
    operators=("W5", "J6"),
)
def embedding_mutual_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL nearest-neighbor pairs: (a, b) where b is a's top-1 LSH
    neighbor AND a is b's — the standard high-precision filter for
    bitext mining and alignment-based dedup (one-directional top-1 is
    noisy; mutuality rejects hubs).  Both directions come from ONE
    top-1 pass (k=1 LSH over the whole table), self-joined on the
    reversed pair — exact integer scoring keeps the full value-level
    oracle.

    Scale note: here both sides are the corpus, so the LSH helper's
    broadcast of the query side means a corpus-sized broadcast — right
    at this catalog's embedding-table scale, and replaced by a plain
    shuffled bucket equi-join at lake scale (drop the broadcast hint;
    the plan shape is otherwise identical)."""
    e = _embeddings_valid(spark, sf_dir)
    top1 = sim.cosine_topk_lsh(e, e, dim=64, k=1, n_planes=8).select(
        "qid", "vid", "cosine_sim"
    )
    other = top1.select(
        F.col("qid").alias("r_qid"), F.col("vid").alias("r_vid")
    )
    return (
        top1.join(
            other,
            (F.col("qid") == F.col("r_vid"))
            & (F.col("vid") == F.col("r_qid"))
            & (F.col("qid") < F.col("vid")),
        )
        .select(
            F.col("qid").alias("a_id"),
            F.col("vid").alias("b_id"),
            "cosine_sim",
        )
        .orderBy("a_id", "b_id")
    )


@register(
    "embedding_knn_label_accuracy",
    sql=f"""
    WITH t AS ({_lsh_oracle_sql(k=1, query_filter="TRUE")})
    SELECT ea.label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN ea.label = eb.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN ea.label = eb.label THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS knn1_accuracy
    FROM t
    JOIN ({_SQL_EMB1}) ea ON t.qid = ea.vec_id
    JOIN ({_SQL_EMB1}) eb ON t.vid = eb.vec_id
    GROUP BY ea.label
    ORDER BY ea.label
    """,
    operators=("W5", "J2", "A13"),
)
def embedding_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 1-NN label accuracy per class — the standard
    fitness-for-use diagnostic of an embedding space (if nearest
    neighbors don't share labels, downstream clustering/dedup/retrieval
    built on the space is suspect).  Self-match is excluded by the LSH
    helper's qid != vid; counts are exact so the per-class accuracy is
    one deterministic division; the neighbor assignment itself is the
    fully-oracled exact-integer LSH top-1."""
    e = _embeddings_valid(spark, sf_dir)
    top1 = sim.cosine_topk_lsh(e, e, dim=64, k=1, n_planes=8).select("qid", "vid")
    labels = e.select("vec_id", "label")
    joined = (
        top1.join(
            labels.select(
                F.col("vec_id").alias("qid"), F.col("label").alias("q_label")
            ),
            "qid",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("vid"), F.col("label").alias("v_label")
            ),
            "vid",
        )
    )
    return (
        joined.groupBy(F.col("q_label").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(
                F.when(F.col("q_label") == F.col("v_label"), 1).otherwise(0)
            ).alias("n_correct"),
            (
                F.sum(
                    F.when(F.col("q_label") == F.col("v_label"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("knn1_accuracy"),
        )
        .orderBy("label")
    )


@register(
    "doc_prefix_filter_jaccard",
    sql=_SQL_JACCARD_PAIRS_08,
    operators=("P10", "J7", "A1"),
)
def doc_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join at Jaccard ≥ 0.8 via prefix
    filtering — the LOSSLESS scale path whose output is provably
    identical to the guarded all-pairs query (same oracle SQL as
    doc_token_jaccard_pairs), with candidates near-linear instead of
    quadratic.  Bayardo et al., "Scaling Up All Pairs Similarity
    Search" (WWW'07); Vernica et al., "Efficient Parallel Set-Similarity
    Joins Using MapReduce" (SIGMOD'10) — this is their V-SMART-join
    shape in DataFrame operators, no guard needed.

    Algorithm (t = 4/5, ALL size math in exact integers — 0.8 is not
    binary-representable, so ceil(0.8·s) in doubles would over-round at
    s ≡ 0 (mod 5) and silently SHORTEN the prefix below the lossless
    bound; ceil(4s/5) = (4s+4) DIV 5 cannot):

    1. token sets + sizes; global token order = (document frequency
       ascending, token) — rare tokens first, so prefixes land in the
       least-skewed region of the join key space;
    2. per-doc prefix = first p = s − ceil(t·s) + 1 tokens.  Lossless:
       if J(a,b) ≥ t then |a∩b| ≥ t·max(s_a,s_b) (using the size filter
       s_min ≥ t·s_max), so the globally-smallest shared token w has at
       most s_d − ceil(t·s_d) = p_d − 1 non-shared tokens before it in
       EITHER doc — w sits inside both prefixes and the equi-join on
       prefix tokens finds the pair;
    3. candidate pairs = prefix-token equi-join (ID-only payload) +
       integer size filter 5·min(s) ≥ 4·max(s), deduped;
    4. rescore candidates with exact Jaccard, threshold.

    Plan: explode ≈ s/5 prefix tokens per doc (one-fifth of the posting
    volume), one token-keyed exchange for the candidate join (skew
    bounded by construction — prefixes are the RAREST tokens), one
    dedup exchange, two hash joins back to pinned token sets.  At 100 TB
    the candidate count stays near-linear for high thresholds, versus
    the all-pairs quadratic blowup; versus MinHash-LSH this path is
    exact (recall 1 by theorem, not by probability).
    """
    d = _docs_with_text(spark, sf_dir)
    t = (
        ensure_parallelism(d)
        .select("doc_id", F.array_distinct(tokens("text")).alias("tokset"))
        .withColumn("sz", F.size("tokset"))
    )
    return _prefix_filter_rescored(t, t_num=4, t_den=5)


def _prefix_filter_rescored(t: DataFrame, t_num: int, t_den: int) -> DataFrame:
    """Core prefix-filter set-similarity self-join at Jaccard ≥
    t_num/t_den over ``t`` = (doc_id, tokset, sz).  All threshold math
    in exact integers: prefix length = s − ceil(t·s) + 1 with
    ceil(t_num·s/t_den) = (t_num·s + t_den − 1) DIV t_den; size filter
    t_den·min(s) ≥ t_num·max(s).  Returns (a_id, b_id, jaccard) with
    a_id < b_id, rescored exactly and thresholded.
    """
    # Pinned: feeds the posting explode AND both rescore joins.
    t = t.localCheckpoint(eager=True)

    tok = t.select("doc_id", "sz", F.explode("tokset").alias("token"))
    dfreq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # Per-doc tokens in global (df, token) order; prefix slice.
    plen = (
        F.col("sz")
        - F.expr(f"(sz * {t_num} + {t_den - 1}) DIV {t_den}")
        + F.lit(1)
    )
    ordered = (
        tok.join(dfreq, "token")
        .groupBy("doc_id", "sz")
        .agg(F.array_sort(F.collect_list(F.struct("df", "token"))).alias("ord"))
        .withColumn("plen", plen)
    )
    prefixes = ordered.select(
        "doc_id",
        "sz",
        F.explode(F.slice("ord", F.lit(1), F.col("plen"))).alias("st"),
    ).select("doc_id", "sz", F.col("st.token").alias("token"))

    a = prefixes.select(
        F.col("token"), F.col("doc_id").alias("a_id"), F.col("sz").alias("a_sz")
    )
    b = prefixes.select(
        F.col("token"), F.col("doc_id").alias("b_id"), F.col("sz").alias("b_sz")
    )
    cand = (
        a.join(b, "token")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(
            F.least("a_sz", "b_sz") * t_den >= F.greatest("a_sz", "b_sz") * t_num
        )
        .select("a_id", "b_id")
        .distinct()
    )
    threshold = t_num / t_den
    return (
        cand.join(t.select(F.col("doc_id").alias("a_id"), F.col("tokset").alias("a_set")), "a_id")
        .join(t.select(F.col("doc_id").alias("b_id"), F.col("tokset").alias("b_set")), "b_id")
        .select("a_id", "b_id", dd.jaccard(F.col("a_set"), F.col("b_set")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _rrf_oracle_sql(k_out: int = 3, rrf_k: int = 60) -> str:
    """Compose the two ranker oracles (exact KNN + LSH KNN, verbatim from
    their own catalog entries) into the RRF fusion mirror."""
    from unicargo_medallion_data_pipeline_spark.plans.catalog import CATALOG

    ex_sql = CATALOG["embedding_knn_exact"].sql
    lsh_sql = _lsh_oracle_sql()
    return f"""
    WITH ex AS (SELECT * FROM ({ex_sql})),
    ls AS (SELECT * FROM ({lsh_sql})),
    u AS (
      SELECT qid, vid, sim_rank FROM ex
      UNION ALL
      SELECT qid, vid, sim_rank FROM ls
    ),
    fused AS (
      SELECT qid, vid,
             CAST(COUNT(*) AS BIGINT) AS n_lists,
             SUM(1.0 / ({rrf_k} + sim_rank)) AS rrf_score
      FROM u GROUP BY qid, vid
    ),
    ranked AS (
      SELECT qid, vid, n_lists, rrf_score,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY qid ORDER BY rrf_score DESC, vid) AS INTEGER)
               AS fused_rank
      FROM fused
    )
    SELECT * FROM ranked WHERE fused_rank <= {k_out}
    """


@register(
    "embedding_rrf_fusion",
    sql=_rrf_oracle_sql(),
    operators=("W5", "O3", "A15"),
)
def embedding_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09) of two
    retrieval lists — exact cosine top-5 and hyperplane-LSH top-5 — per
    query: score(d) = Σ_lists 1/(60 + rank_list(d)), fused top-3.

    The hybrid-retrieval primitive (dense + sparse / exact + ANN lists
    merged by rank, not by incomparable scores).  Determinism: each
    1/(60+r) is one exact double division, a (qid, vid) pair appears in
    at most TWO lists, and two-term double addition is commutative —
    the distributed SUM cannot reassociate anything, so the fused
    scores hash bitwise.  The oracle composes the two rankers' own
    catalog SQL verbatim (CTE nesting), proving fusion correctness ON
    TOP OF already-verified rankers rather than re-deriving them.

    Plan: both ranker subtrees share the embeddings scan; fusion itself
    is one (qid, vid)-keyed aggregate over ≤ 2·k·|Q| narrow rows and a
    per-query window over ≤ 2k rows — fusion cost is rank-list-sized,
    never corpus-sized.
    """
    e = _embeddings_valid(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 10)
    ex = sim.cosine_topk_exact(q, e, k=5).select("qid", "vid", "sim_rank")
    ls = sim.cosine_topk_lsh(q, e, dim=64, k=5, n_planes=8).select(
        "qid", "vid", "sim_rank"
    )
    u = ex.unionByName(ls)
    fused = u.groupBy("qid", "vid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lists"),
        F.sum(F.lit(1.0) / (F.lit(60) + F.col("sim_rank"))).alias("rrf_score"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("rrf_score"), F.asc("vid"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= 3)
        .select("qid", "vid", "n_lists", "rrf_score", "fused_rank")
    )


def _minhash_oracle_sql() -> str:
    from unicargo_medallion_data_pipeline_spark.plans.catalog import CATALOG

    return CATALOG["doc_minhash_near_dups"].sql


@register(
    "doc_prefix_filter_neardups",
    sql=_minhash_oracle_sql(),
    operators=("P10", "J7"),
)
def doc_prefix_filter_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT near-dup pairs over 3-token SHINGLES at Jaccard ≥ 0.3 via
    prefix filtering — the lossless twin of doc_minhash_near_dups (same
    shingling, same threshold, same oracle SQL): identical output,
    recall 1 by theorem instead of 1 − 8·10⁻⁸ by banding probability.

    Granularity is the lever: token-level prefix filtering degrades on
    this corpus (documents share vocabulary heavily — mean token-set
    Jaccard ≈ 0.59 — so prefixes hit common tokens and candidates blow
    toward all-pairs; see doc_prefix_filter_jaccard, kept as the exact
    twin of the GUARDED token query).  Shingles invert that: background
    3-gram Jaccard ≈ 0.001, shingle document frequencies ≈ 1, so the
    (3s+9) DIV 10 prefix join touches near-unique keys and the
    candidate set stays near-linear — prefix filtering and MinHash-LSH
    both ride the same bimodality, one deterministically, one
    probabilistically.  Use this path when a missed near-dup is
    unacceptable (decontamination, benchmark-leak scrubbing); use LSH
    when a provably-tiny miss rate buys a cheaper join.
    """
    d = _docs_with_text(spark, sf_dir)
    t = (
        ensure_parallelism(d)
        .select("doc_id", dd.shingles("text", 3).alias("tokset"))
        .withColumn("sz", F.size("tokset"))
    )
    return _prefix_filter_rescored(t, t_num=3, t_den=10)


def _pq_oracle_sql(k: int = 5) -> str:
    """DuckDB mirror of pq_index_rows + pq_adc_topk: the same frozen
    per-subspace codebooks (``textops.pq_frozen``), int64 quantization,
    (dist asc, cid asc) encoding argmin and (score desc, vid asc)
    ranking — codes, ADC scores, and ranks reproduce the engine
    bit-for-bit (the whole pipeline is integer arithmetic; there is no
    floating point to diverge on)."""
    from unicargo_medallion_data_pipeline_spark.textops.pq_frozen import (
        FROZEN_PQ_CENTROIDS_Q,
        FROZEN_PQ_CSQ,
        PQ_SUBDIM,
    )

    cent_rows = ",\n      ".join(
        f"({s}, {c}, [{', '.join(str(v) for v in cent)}], {FROZEN_PQ_CSQ[s][c]})"
        for s, book in enumerate(FROZEN_PQ_CENTROIDS_Q)
        for c, cent in enumerate(book)
    )
    sd = PQ_SUBDIM
    dot = (
        f"CAST(list_sum(list_transform(generate_series(1, {sd}),"
        f" j -> qv.q[cent.sub * {sd} + j] * cent.c[j])) AS BIGINT)"
    )
    return f"""
    WITH cent(sub, cid, c, csq) AS (VALUES
      {cent_rows}
    ),
    qv AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 100000000) AS BIGINT)) AS q
      FROM ({_SQL_EMB1})
    ),
    subv AS (
      SELECT qv.vec_id, cent.sub, cent.cid,
             CAST(cent.csq - 2 * {dot} AS BIGINT) AS dist,
             {dot} AS dotv
      FROM qv CROSS JOIN cent
    ),
    codes AS (
      SELECT vec_id, sub, cid FROM (
        SELECT vec_id, sub, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dist, cid) AS rn
        FROM subv
      ) WHERE rn = 1
    ),
    luts AS (
      SELECT vec_id AS qid, sub, cid, dotv FROM subv WHERE vec_id < 10
    ),
    scored AS (
      SELECT l.qid, x.vec_id AS vid, CAST(SUM(l.dotv) AS BIGINT) AS adc_score
      FROM codes x JOIN luts l ON l.sub = x.sub AND l.cid = x.cid
      WHERE l.qid != x.vec_id
      GROUP BY 1, 2
    )
    SELECT * FROM (
      SELECT qid, vid, adc_score,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY adc_score DESC, vid) AS INTEGER)
               AS sim_rank
      FROM scored
    ) WHERE sim_rank <= {k}
    """


@register(
    "embedding_pq_adc_knn",
    sql=_pq_oracle_sql(),
    operators=("W5", "S12"),
)
def embedding_pq_adc_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-5 — the MEMORY tier of the ANN
    family (exact scan / LSH buckets / IVF cells / PQ codes): the
    corpus is encoded once into 16 nibble codes per vector against
    frozen per-subspace codebooks (``textops/pq_frozen.py``; 32x
    smaller than the float vectors), each query builds a 16 x 16
    lookup table of exact int64 sub-dot-products, and scoring is one
    pass over the code table with 16 array lookups per candidate —
    the corpus floats are never read at query time.

    FULL ORACLE: encoding argmin and ADC scores are pure int64
    arithmetic against the frozen literals (no division, no sqrt — the
    only ANN tier with NO floating point at all), so DuckDB recomputes
    codes, scores, and ranks bit-for-bit.  ``adc_score`` approximates
    ``dot(q, x)`` and is a SHORTLIST signal, not a final ranking —
    ``embedding_pq_rerank_knn`` below is the full serving pipeline,
    and tests/test_textops.py pins both tiers' recall against the
    exact scan.

    The 100 TB shape: a 10^9-vector lake's PQ index is ~8 GB —
    cacheable on every executor — while the float vectors (256 GB+)
    stay in object storage for exact re-ranking of the tiny shortlist;
    index maintenance is a narrow map + append per ingest batch
    (``pipelines/corpus.py``)."""
    e = _embeddings_valid(spark, sf_dir)
    codes = sim.pq_index_rows(e)
    return sim.pq_adc_topk(e.filter(F.col("vec_id") < 10), codes, k=5)


def _pq_rerank_oracle_sql(k: int = 5, shortlist: int = 100, dim: int = 64) -> str:
    """DuckDB mirror of pq_rerank_topk: the _pq_oracle_sql pipeline kept
    to the ``shortlist`` best ADC candidates per query, then exact
    quantized cosine over exactly those pairs (the _ivf_oracle_sql
    scoring arithmetic) and the final (cosine desc, vid asc) top-k —
    shortlist membership, cosines, and ranks all bit-for-bit."""
    adc = _pq_oracle_sql(k=shortlist)
    dotsum = (
        f"CAST(list_sum(list_transform(generate_series(1, {dim}),"
        f" j -> a.q[j] * b.q[j])) AS BIGINT)"
    )
    sqsum = (
        "CAST(list_sum(list_transform(generate_series(1, {d}),"
        " j -> {v}.q[j] * {v}.q[j])) AS BIGINT)"
    )
    return f"""
    WITH qv AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 100000000) AS BIGINT)) AS q
      FROM ({_SQL_EMB1})
    ),
    sl AS (SELECT qid, vid FROM ({adc})),
    rescored AS (
      SELECT sl.qid, sl.vid,
             CAST({dotsum} AS DOUBLE)
               / (sqrt(CAST({sqsum.format(d=dim, v='a')} AS DOUBLE))
                  * sqrt(CAST({sqsum.format(d=dim, v='b')} AS DOUBLE))) AS cosine_sim
      FROM sl
      JOIN qv a ON a.vec_id = sl.qid
      JOIN qv b ON b.vec_id = sl.vid
    )
    SELECT * FROM (
      SELECT qid, vid, cosine_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY cosine_sim DESC, vid) AS INTEGER)
               AS sim_rank
      FROM rescored
    ) WHERE sim_rank <= {k}
    """


@register(
    "embedding_pq_rerank_knn",
    sql=_pq_rerank_oracle_sql(),
    operators=("W5", "S12"),
    bench=True,
)
def embedding_pq_rerank_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production PQ serving pipeline: ADC shortlist-100 over the
    compressed code table (``embedding_pq_adc_knn``'s machinery), then
    exact quantized-cosine re-ranking of ONLY the shortlisted pairs and
    the final top-5.  On this corpus the 100-candidate shortlist
    contains the entire exact top-5 for every query (pinned in
    tests/test_textops.py), so the pipeline returns the exact answer
    while the scan-heavy stage reads 8 bytes per corpus vector instead
    of 256 — the two-tier memory/storage split a 10^9-vector lake
    actually deploys (code table cached on executors, float vectors
    fetched per-shortlist from the vid-keyed silver table).

    FULL ORACLE: shortlist membership is exact int64 ADC, rescoring is
    the same exact-int cosine the IVF/exact tiers use — DuckDB
    reproduces every stage bit-for-bit."""
    e = _embeddings_valid(spark, sf_dir)
    codes = sim.pq_index_rows(e)
    return sim.pq_rerank_topk(
        e.filter(F.col("vec_id") < 10), codes, e, k=5, shortlist=100
    )


def _ivfadc_oracle_sql(k: int = 5, n_probe: int = 4, shortlist: int = 50, dim: int = 64) -> str:
    """DuckDB mirror of ivfadc_topk: frozen IVF cells (pruning), frozen
    PQ codes + ADC (compressed scoring), shortlist, exact quantized
    cosine re-rank — every stage the same literals and tie-breaks as
    the engine, so candidates, shortlist membership, cosines, and ranks
    reproduce bit-for-bit."""
    from unicargo_medallion_data_pipeline_spark.textops.ivf_frozen import (
        FROZEN_CENTROIDS_Q,
        FROZEN_NORMS,
    )
    from unicargo_medallion_data_pipeline_spark.textops.pq_frozen import (
        FROZEN_PQ_CENTROIDS_Q,
        FROZEN_PQ_CSQ,
        PQ_SUBDIM,
    )

    ivf_rows = ",\n      ".join(
        f"({cid}, [{', '.join(str(v) for v in c)}], CAST('{n!r}' AS DOUBLE))"
        for cid, (c, n) in enumerate(zip(FROZEN_CENTROIDS_Q, FROZEN_NORMS))
    )
    pq_rows = ",\n      ".join(
        f"({s}, {c}, [{', '.join(str(v) for v in cent)}], {FROZEN_PQ_CSQ[s][c]})"
        for s, book in enumerate(FROZEN_PQ_CENTROIDS_Q)
        for c, cent in enumerate(book)
    )
    sd = PQ_SUBDIM
    subdot = (
        f"CAST(list_sum(list_transform(generate_series(1, {sd}),"
        f" j -> qv.q[pqc.sub * {sd} + j] * pqc.c[j])) AS BIGINT)"
    )
    dotsum = (
        f"CAST(list_sum(list_transform(generate_series(1, {dim}),"
        f" j -> a.q[j] * b.q[j])) AS BIGINT)"
    )
    sqsum = (
        "CAST(list_sum(list_transform(generate_series(1, {d}),"
        " j -> {v}.q[j] * {v}.q[j])) AS BIGINT)"
    )
    return f"""
    WITH ivfc(cid, c, nrm) AS (VALUES
      {ivf_rows}
    ),
    pqc(sub, cid, c, csq) AS (VALUES
      {pq_rows}
    ),
    qv AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 100000000) AS BIGINT)) AS q
      FROM ({_SQL_EMB1})
    ),
    assign AS (
      SELECT qv.vec_id, ivfc.cid,
             ROW_NUMBER() OVER (
               PARTITION BY qv.vec_id
               ORDER BY CAST(CAST(list_sum(list_transform(generate_series(1, {dim}),
                          j -> qv.q[j] * ivfc.c[j])) AS BIGINT) AS DOUBLE) / ivfc.nrm
                        DESC, ivfc.cid) AS arn
      FROM qv CROSS JOIN ivfc
    ),
    cells AS (SELECT vec_id, cid FROM assign WHERE arn = 1),
    probes AS (SELECT vec_id, cid FROM assign WHERE arn <= {n_probe} AND vec_id < 10),
    pqsub AS (
      SELECT qv.vec_id, pqc.sub, pqc.cid,
             CAST(pqc.csq - 2 * {subdot} AS BIGINT) AS dist,
             {subdot} AS dotv
      FROM qv CROSS JOIN pqc
    ),
    codes AS (
      SELECT vec_id, sub, cid FROM (
        SELECT vec_id, sub, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dist, cid) AS rn
        FROM pqsub
      ) WHERE rn = 1
    ),
    luts AS (SELECT vec_id AS qid, sub, cid, dotv FROM pqsub WHERE vec_id < 10),
    cand AS (
      SELECT p.vec_id AS qid, cl.vec_id AS vid
      FROM probes p JOIN cells cl USING (cid)
      WHERE p.vec_id != cl.vec_id
    ),
    adc AS (
      SELECT cand.qid, cand.vid, CAST(SUM(l.dotv) AS BIGINT) AS adc_score
      FROM cand
      JOIN codes x ON x.vec_id = cand.vid
      JOIN luts l ON l.qid = cand.qid AND l.sub = x.sub AND l.cid = x.cid
      GROUP BY 1, 2
    ),
    sl AS (
      SELECT qid, vid FROM (
        SELECT qid, vid,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY adc_score DESC, vid) AS rn
        FROM adc
      ) WHERE rn <= {shortlist}
    ),
    rescored AS (
      SELECT sl.qid, sl.vid,
             CAST({dotsum} AS DOUBLE)
               / (sqrt(CAST({sqsum.format(d=dim, v='a')} AS DOUBLE))
                  * sqrt(CAST({sqsum.format(d=dim, v='b')} AS DOUBLE))) AS cosine_sim
      FROM sl
      JOIN qv a ON a.vec_id = sl.qid
      JOIN qv b ON b.vec_id = sl.vid
    )
    SELECT * FROM (
      SELECT qid, vid, cosine_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY cosine_sim DESC, vid) AS INTEGER)
               AS sim_rank
      FROM rescored
    ) WHERE sim_rank <= {k}
    """


@register(
    "embedding_ivfadc_knn",
    sql=_ivfadc_oracle_sql(),
    operators=("W5", "S12"),
)
def embedding_ivfadc_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC top-5 — the COMPOSITION a 10^9-vector lake deploys
    (pruning x compression x exact tail): queries probe their 4 nearest
    frozen IVF cells, candidates come from the cell equi-join against
    the COMPRESSED (vid, cell, codes) index — the float table is never
    scanned — ADC scores them from the per-query LUT, the 50 best per
    query fetch their floats for exact quantized-cosine re-ranking, and
    the top-5 ships.

    Cost anatomy per query at scale: ~|corpus| x (n_probe/|cells|)
    code rows scanned x 16 array lookups, then 50 float fetches.  At
    10^9 vectors / 4096 cells / n_probe 16 that is ~4M compressed rows
    (~40 MB) + 50 point reads — against 256 GB for the exact scan.

    FULL ORACLE: both index halves and the ADC are frozen-literal
    integer arithmetic and the re-rank is the shared exact-int cosine,
    so DuckDB reproduces cells, probes, codes, shortlist, cosines, and
    ranks bit-for-bit.  Recall vs the exact scan is pinned in
    tests/test_textops.py (cell pruning bounds it; the PQ shortlist
    within probed cells is near-lossless)."""
    e = _embeddings_valid(spark, sf_dir)
    index = sim.ivfadc_index_rows(e)
    return sim.ivfadc_topk(
        e.filter(F.col("vec_id") < 10), index, e, k=5, n_probe=4, shortlist=50
    )
