"""Embedding similarity search over `array<float>` columns.

Two tiers (north-star similarity-search surface):

* ``cosine_topk_exact`` — brute-force query-set × corpus top-k with
  integer-quantized dot products.  Quantizing each component to 1e-8
  (floor(v * 1e8) as BIGINT) makes every dot product / norm an EXACT
  integer sum — order-independent, hash-identical on any engine — while
  changing cosine by < 1e-7.  This is the correctness/oracle tier.
* ``cosine_topk_lsh`` — random-hyperplane LSH bucketing, then exact
  rescoring inside buckets.  This is the 100 TB tier: candidate
  generation is a hash-bucket equi-join (shuffle on bucket id) instead of
  a full cross product.

Both are pure Column expressions (`zip_with`/`aggregate` higher-order
functions run inside the JVM); no UDFs, no explode blow-up.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from unicargo_medallion_data_pipeline_spark.textops.util import ensure_parallelism

#: Quantization scale.  Honest int64 envelope: a 64-term dot product of
#: quantized values needs 64·(|v|·1e8)² ≤ 2⁶³−1, i.e. |v| ≤ ~3.79 —
#: fine for normalized / unit-ish embeddings (this corpus is |v| ≤ 1),
#: NOT for raw feature vectors; ANSI mode turns an overflow into a hard
#: ArithmeticException rather than silent wraparound.  Scale down (or
#: pre-normalize) before quantizing wider-range vectors.
_SCALE = 100_000_000


def _qint(x: Column) -> Column:
    """Deterministic float→int quantization (floor of double product)."""
    return F.floor(x.cast("double") * _SCALE).cast("long")


def quantized(col: str | Column) -> Column:
    """array<float> → array<long> quantized components."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, _qint)


def dot_q(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v
    )


def cosine_q(a: Column, b: Column) -> Column:
    """Cosine from quantized arrays: exact int sums → one IEEE division.

    ``try_divide``, not ``/``: a zero (or sub-quantization) vector has
    norm 0, and under Spark 4's default ANSI mode a plain division
    would abort the whole job on one degenerate embedding.  NULL is
    also exactly what DuckDB returns for double x/0.0, so the oracle
    mirrors need no change; NULL cosines sort last under DESC and never
    enter a top-k."""
    return F.try_divide(
        dot_q(a, b).cast("double"),
        F.sqrt(dot_q(a, a).cast("double")) * F.sqrt(dot_q(b, b).cast("double")),
    )


def cosine_topk_exact(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k cosine neighbours of each query vector.

    Output: (qid, vid, cosine_sim, sim_rank).  Scale shape: |Q| × |C|
    pairs — intended for small query sets against a large corpus (the
    corpus side stays partitioned; the query side is broadcast).
    Size-guarded on |Q|: a query side beyond ALL_PAIRS_GUARD_ROWS is
    both an over-sized broadcast and a quadratic self-KNN — refused
    with a pointer to the bucketed paths.
    """
    from unicargo_medallion_data_pipeline_spark.operators.guards import guard_all_pairs

    queries = guard_all_pairs(
        queries, "cosine_topk_exact",
        "cosine_topk_lsh (embedding_knn_lsh) or cosine_topk_ivf_frozen (embedding_knn_ivf)",
    )
    q = queries.select(
        F.col(id_col).alias("qid"), quantized(F.col(vec_col)).alias("q_emb")
    )
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("vid"), quantized(F.col(vec_col)).alias("c_emb")
    )
    pairs = F.broadcast(q).crossJoin(c).filter(F.col("qid") != F.col("vid"))
    scored = pairs.select(
        "qid",
        "vid",
        cosine_q(F.col("q_emb"), F.col("c_emb")).alias("cosine_sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine_sim").desc(), F.col("vid").asc())
    return (
        scored.withColumn("sim_rank", F.row_number().over(w))
        .filter(F.col("sim_rank") <= k)
    )


def label_centroids(
    vectors: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid via ``applyInPandas`` (grouped-map): one numpy
    column-sum per group instead of a 64-way posexplode + per-dimension
    shuffle.

    Deterministic cross-engine: components are quantized to int64 BEFORE
    the group map, the per-dimension sums are exact integer sums, and the
    centroid is one IEEE division per component — so the result is
    bitwise-stable under any row order/partitioning and oracle-checkable.

    Output is LONG-form — one row per (label, dim_idx) with a scalar
    ``component`` — not an array column: the driver's canonicalizer can
    only hash scalar cells, and the long form joins/pivots freely
    downstream.

    Scale shape: groups shuffle once on the label; each group's work is a
    single Arrow-batched matmul-free reduction.  For millions of labels
    this stays balanced (a label's rows co-locate); for ONE giant label
    use the two-phase trick (partial sums per salt, merge) — see
    operators/skew.py.
    """
    import pandas as pd  # driver+executor import

    prepared = vectors.select(
        F.col(label_col).alias("label"), quantized(F.col(vec_col)).alias("q")
    )

    def centroid(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        M = np.stack(pdf["q"].to_numpy()).astype(np.int64)
        sums = M.sum(axis=0)
        n = len(pdf)
        return pd.DataFrame(
            {
                "label": pdf["label"].iloc[0],
                "n_vectors": n,
                "dim_idx": np.arange(len(sums), dtype=np.int32),
                "component": [float(s) / (_SCALE * 1.0 * n) for s in sums],
            }
        )

    return prepared.groupBy("label").applyInPandas(
        centroid,
        schema="label int, n_vectors bigint, dim_idx int, component double",
    )


# --- LSH tier ---------------------------------------------------------------

def rademacher_plane(seed: int, dim: int) -> list[int]:
    """Deterministic pseudo-random ±1 hyperplane (sign random projection).

    Rademacher vectors are a standard LSH family for angular distance
    (they concentrate like Gaussian planes by Khintchine's inequality),
    and they make the projection of a QUANTIZED int64 vector an EXACT
    integer sum — order-independent and bit-identical on any engine, so
    the whole bucket assignment is oracle-checkable (no float summation
    order to disagree on).  Pure Python LCG; deterministic across runs.
    """
    signs = []
    state = (seed * 2654435761 + 1) & 0xFFFFFFFF
    for _ in range(dim):
        state = (1103515245 * state + 12345) & 0x7FFFFFFF
        signs.append(1 if state & 0x10000 else -1)
    return signs


def _proj_sql(qvec_sql: str, seed: int, dim: int) -> str:
    """Exact integer projection of a quantized array onto a ±1 plane."""
    plane = ", ".join(str(s) for s in rademacher_plane(seed, dim))
    return (
        f"aggregate(zip_with({qvec_sql}, array({plane}), "
        f"(x, y) -> x * CAST(y AS BIGINT)), CAST(0 AS BIGINT), "
        f"(acc, v) -> acc + v)"
    )


def lsh_bucket_sql(qvec_sql: str, dim: int, n_planes: int = 8, seed: int = 42) -> str:
    """SQL text for one table's bucket id (n_planes sign bits in a long)
    over a QUANTIZED (array<long>) vector expression.

    Built as ONE expression string, not a tree of per-component ``F.lit``
    Columns: a 32-plane × 64-dim signature is ~4k literals, and building
    them Column-by-Column costs a py4j round trip each — measured ~4s of
    DRIVER time per query before any task ran.  Parsing one string in the
    JVM is milliseconds, and the resolved plan (and its codegen) is
    identical.
    """
    terms = " + ".join(
        f"IF({_proj_sql(qvec_sql, seed + p, dim)} >= 0, {1 << p}L, 0L)"
        for p in range(n_planes)
    )
    return f"CAST({terms} AS BIGINT)"


def lsh_buckets_multi(
    qvec_col: str, dim: int, n_planes: int, n_tables: int, seed: int = 42
) -> Column:
    """n_tables independent LSH bucket ids (array<long>), one per table.

    Multi-table is the recall lever: a true neighbour is a candidate if it
    collides in ANY table — recall ≈ 1-(1-p)^T for per-table collision
    probability p = (1-θ/π)^n_planes.
    """
    buckets = ", ".join(
        lsh_bucket_sql(f"`{qvec_col}`", dim, n_planes, seed=seed + 1000 * t)
        for t in range(n_tables)
    )
    return F.expr(f"array({buckets})")


def ivf_codebook(
    corpus: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 5,
):
    """Fit an IVF coarse codebook: seeded distributed k-means over the
    L2-normalized corpus (spherical k-means, so euclidean argmin ≈ cosine
    argmax).  Returns the centroid matrix as a plain list-of-lists (tiny:
    n_centroids × dim floats — broadcastable to every executor).

    Scale shape: the fit is one distributed k-means over the corpus
    (Spark ML, partition-parallel); at lake scale fit on a uniform sample
    — the codebook quality needs vectors ≫ centroids, not all of them.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # greatest(…, 1e-30): the zero-norm guard the cosine paths apply —
    # one all-zero embedding must not ANSI-crash the codebook build (it
    # normalizes to the zero vector instead).
    norm = F.greatest(
        F.sqrt(
            F.aggregate(
                F.transform(F.col(vec_col), lambda x: x.cast("double") * x),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ),
        F.lit(1e-30),
    )
    normalized = corpus.select(
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double") / norm)
        ).alias("features")
    )
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(normalized)
    return [list(map(float, c)) for c in model.clusterCenters()]


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_sim: float | None = None,
) -> DataFrame:
    """ANN top-k: candidates from multi-table LSH bucket joins, exact
    rescoring inside buckets.

    At 100 TB this is the only viable shape: the corpus is hashed once
    (narrow map), candidate generation is a (table, bucket) equi-join —
    with the query side BROADCAST, so the corpus never shuffles for it —
    and AQE handles bucket skew like any skewed join.  Tune recall with
    n_tables (linear candidate cost) or n_planes (exponential
    selectivity).

    Fully deterministic cross-engine: planes are ±1 (Rademacher), vectors
    are int64-quantized, so every projection is an exact integer sum and
    the bucket ids — hence the candidate set, scores, and ranks — can be
    recomputed bit-for-bit by an independent SQL engine (the DuckDB
    oracle for embedding_knn_lsh does exactly that).

    Multi-table de-dup is an aggregation, not dropDuplicates: a (qid,
    vid) pair colliding in several tables is scored per collision and
    merged with ``max`` over NARROW (qid, vid, double) rows — map-side
    partial aggregation shrinks the shuffle to ~unique pairs, whereas
    dropDuplicates would shuffle every duplicate candidate still carrying
    both quantized embedding arrays (measured 4.03s → this shape at
    sf0.1; 39% of the round-1 headline wall).
    """
    # Quantize FIRST (one narrow projection), then derive norms and the
    # per-table buckets from the integer array: the bucket assignment is
    # exact integer arithmetic end-to-end (see rademacher_plane), and the
    # norms are computed once per vector, before the per-table explode.
    q_q = quantized(F.col(vec_col))
    q = queries.select(F.col(id_col).alias("qid"), q_q.alias("q_emb")).select(
        "qid",
        "q_emb",
        F.sqrt(dot_q(F.col("q_emb"), F.col("q_emb")).cast("double")).alias("q_norm"),
        F.posexplode_outer(lsh_buckets_multi("q_emb", dim, n_planes, n_tables)).alias(
            "table_idx", "bucket"
        ),
    )
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("vid"), q_q.alias("c_emb")
    ).select(
        "vid",
        "c_emb",
        F.sqrt(dot_q(F.col("c_emb"), F.col("c_emb")).cast("double")).alias("c_norm"),
        F.posexplode_outer(lsh_buckets_multi("c_emb", dim, n_planes, n_tables)).alias(
            "table_idx", "bucket"
        ),
    )
    cand = F.broadcast(q).join(c, ["table_idx", "bucket"]).filter(
        F.col("qid") != F.col("vid")
    )
    scored = cand.select(
        "qid",
        "vid",
        F.try_divide(  # NULL on a zero-norm vector (= DuckDB x/0.0)
            dot_q(F.col("q_emb"), F.col("c_emb")).cast("double"),
            F.col("q_norm") * F.col("c_norm"),
        ).alias("cosine_sim"),
    )
    merged = scored.groupBy("qid", "vid").agg(F.max("cosine_sim").alias("cosine_sim"))
    if max_sim is not None:
        # Hard-negative mining mode: keep bucket-colliding (i.e. similar
        # -ish) candidates whose exact similarity stays BELOW the
        # positive threshold — the top-k of those are the hardest
        # negatives for contrastive training.  The cut is deterministic:
        # scores are exact-integer dot/sqrt arithmetic on both engines.
        merged = merged.filter(F.col("cosine_sim") < F.lit(max_sim))
    w = Window.partitionBy("qid").orderBy(F.col("cosine_sim").desc(), F.col("vid").asc())
    return (
        merged.withColumn("sim_rank", F.row_number().over(w))
        .filter(F.col("sim_rank") <= k)
    )


# --- Frozen-codebook IVF tier ----------------------------------------------

def ivf_assign_sql(qvec_sql: str, n_probe: int) -> str:
    """SQL text assigning a quantized vector to its ``n_probe`` nearest
    frozen-codebook cells (array<int> of centroid ids, best first).

    Score for centroid i is ``CAST(dot(q, C[i]) AS DOUBLE) / norm[i]`` —
    an exact int64 dot product (centroids are pre-quantized literals)
    followed by one IEEE division by a shared shortest-repr double
    literal, so any engine reproduces the assignment bit-for-bit.  Sorts
    (score desc, cid asc) via array_sort over (negated-score, cid)
    structs.  One expression STRING, not ~1k ``F.lit`` Columns — see
    ``lsh_bucket_sql`` for why (py4j round-trip cost); the centroid
    array literal is constant-folded once by Catalyst.
    """
    from unicargo_medallion_data_pipeline_spark.textops.ivf_frozen import (
        FROZEN_CENTROIDS_Q,
        FROZEN_NORMS,
    )

    cc = ", ".join(
        "array(" + ", ".join(f"{v}L" for v in c) + ")" for c in FROZEN_CENTROIDS_Q
    )
    nn = ", ".join(f"CAST('{n!r}' AS DOUBLE)" for n in FROZEN_NORMS)
    k = len(FROZEN_CENTROIDS_Q)
    dot = (
        f"aggregate(zip_with({qvec_sql}, array({cc})[i], (x, y) -> x * y), "
        f"0L, (acc, v) -> acc + v)"
    )
    return (
        f"transform(slice(array_sort(transform(sequence(0, {k - 1}), "
        f"i -> named_struct('ns', -(CAST({dot} AS DOUBLE) / array({nn})[i]), "
        f"'cid', i))), 1, {n_probe}), s -> s.cid)"
    )


def cosine_topk_ivf_frozen(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k against the FROZEN codebook (``textops.ivf_frozen``).

    Corpus vectors live in their top-1 cell, queries probe their
    ``n_probe`` nearest cells, candidates come from a cell-id equi-join,
    and every candidate is rescored exactly; cell assignment is pure JVM
    integer arithmetic over centroid literals.  That is both the
    production serving shape (the codebook is fit offline by
    ``ivf_codebook``, on a sample at lake scale, then frozen) and what makes the
    query fully value-oracle-checkable: an independent engine recomputes
    cells, candidates, scores, and ranks from the frozen literals.
    """
    corpus_cells = ivf_frozen_index_rows(corpus, id_col, vec_col)
    return cosine_topk_ivf_frozen_on_index(queries, corpus_cells, k, n_probe, id_col, vec_col)


def ivf_frozen_index_rows(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """``(vid, c_emb, cell)`` — the MAINTAINABLE IVF index rows for a
    corpus batch: quantized vector + top-1 frozen-codebook cell.  Pure
    narrow maps against the frozen centroid literals (no shuffle), so a
    daily ingest assigns only its NEW vectors and appends; the
    accumulated table IS the serving index."""
    return ensure_parallelism(corpus).select(
        F.col(id_col).alias("vid"), quantized(F.col(vec_col)).alias("c_emb")
    ).select(
        "vid", "c_emb", F.expr(ivf_assign_sql("`c_emb`", 1))[0].alias("cell")
    )


def cosine_topk_ivf_frozen_on_index(
    queries: DataFrame,
    corpus_cells: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve IVF ANN top-k from PRE-ASSIGNED index rows (see
    ``ivf_frozen_index_rows``) — the search half of
    ``cosine_topk_ivf_frozen``, usable against an incrementally
    maintained index table."""
    query_cells = queries.select(
        F.col(id_col).alias("qid"), quantized(F.col(vec_col)).alias("q_emb")
    ).select(
        "qid", "q_emb", F.explode_outer(F.expr(ivf_assign_sql("`q_emb`", n_probe))).alias("cell")
    )
    pairs = query_cells.join(corpus_cells, "cell").filter(F.col("qid") != F.col("vid"))
    scored = pairs.select(
        "qid", "vid", cosine_q(F.col("q_emb"), F.col("c_emb")).alias("cosine_sim")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine_sim").desc(), F.col("vid").asc())
    return (
        scored.withColumn("sim_rank", F.row_number().over(w))
        .filter(F.col("sim_rank") <= k)
    )


# ---------------------------------------------------------------------------
# Product quantization against the frozen codebooks (textops/pq_frozen.py):
# the MEMORY tier of the ANN family.  Exact top-k scans float vectors
# (256 B each), IVF prunes the candidate set, PQ compresses the corpus to
# PQ_M nibble codes per vector (8 B at the frozen 16x4 geometry, 32x) and
# scores candidates from a per-query lookup table without ever touching the
# original floats — the shape that lets a vector lake keep its serving index
# in memory at 10^9+ rows.
# All arithmetic is int64 against frozen literals (see pq_frozen), so the
# whole pipeline is value-oracle-checkable bit-for-bit.
# ---------------------------------------------------------------------------


def _pq_literals() -> tuple[str, str, int, int, int]:
    """(centroid_array_sql, csq_array_sql, m, ks, subdim) — built as ONE
    expression string, constant-folded once by Catalyst (the same py4j
    rationale as ivf_assign_sql / lsh_bucket_sql)."""
    from unicargo_medallion_data_pipeline_spark.textops.pq_frozen import (
        FROZEN_PQ_CENTROIDS_Q,
        FROZEN_PQ_CSQ,
        PQ_KS,
        PQ_M,
        PQ_SUBDIM,
    )

    cents = (
        "array("
        + ", ".join(
            "array("
            + ", ".join("array(" + ", ".join(f"{v}L" for v in c) + ")" for c in book)
            + ")"
            for book in FROZEN_PQ_CENTROIDS_Q
        )
        + ")"
    )
    csq = (
        "array("
        + ", ".join("array(" + ", ".join(f"{v}L" for v in b) + ")" for b in FROZEN_PQ_CSQ)
        + ")"
    )
    return cents, csq, PQ_M, PQ_KS, PQ_SUBDIM


def pq_encode_sql(qvec_sql: str) -> str:
    """SQL text: array<int> of the PQ sub-codes of a QUANTIZED vector.

    Per subspace s the code is ``argmin_c ||x_s - C[s][c]||^2``
    evaluated as ``CSQ[s][c] - 2 * dot(x_s, C[s][c])`` (the ``||x_s||^2``
    term is constant within the argmin) — exact int64, ties broken
    (dist asc, cid asc) via array_sort over structs."""
    cents, csq, m, ks, sd = _pq_literals()
    dot = (
        f"aggregate(zip_with(slice({qvec_sql}, s * {sd} + 1, {sd}), "
        f"{cents}[s][c], (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    )
    return (
        f"transform(sequence(0, {m - 1}), s -> "
        f"array_sort(transform(sequence(0, {ks - 1}), c -> "
        f"named_struct('d', {csq}[s][c] - 2 * {dot}, 'cid', c)))[0].cid)"
    )


def pq_index_rows(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """``(vid, codes array<int>)`` — the MAINTAINABLE PQ index rows for
    a corpus batch.  Pure narrow maps against frozen literals (no
    shuffle): a daily ingest encodes only its NEW vectors and appends;
    the accumulated table IS the serving index, at ~4 logical bytes of
    payload per vector."""
    return ensure_parallelism(corpus).select(
        F.col(id_col).alias("vid"), quantized(F.col(vec_col)).alias("__q")
    ).select("vid", F.expr(pq_encode_sql("`__q`")).alias("codes"))


def pq_lut_sql(qvec_sql: str) -> str:
    """SQL text: the per-query ADC lookup table — array<array<long>>
    of ``dot(q_s, C[s][c])`` for every (subspace, centroid), exact
    int64.  Computed once per QUERY (m x ks tiny), then every corpus
    code row scores with m array lookups and m-1 additions."""
    cents, _, m, ks, sd = _pq_literals()
    dot = (
        f"aggregate(zip_with(slice({qvec_sql}, s * {sd} + 1, {sd}), "
        f"{cents}[s][c], (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    )
    return (
        f"transform(sequence(0, {m - 1}), s -> "
        f"transform(sequence(0, {ks - 1}), c -> {dot}))"
    )


def pq_adc_topk(
    queries: DataFrame,
    corpus_codes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k from PRE-ENCODED index rows: each
    query builds its LUT (narrow, m x ks ints), the tiny query side
    broadcasts, and one pass over the code table computes
    ``adc_score = sum_s lut[s][codes[s]]`` — the PQ approximation of
    ``dot(q, x)`` that never reads the corpus floats.  Returns
    (qid, vid, adc_score bigint, sim_rank) with (score desc, vid asc)
    ranking; only the per-query top-k shuffles."""
    m = _pq_literals()[2]
    q = queries.select(
        F.col(id_col).alias("qid"), quantized(F.col(vec_col)).alias("__q")
    ).select("qid", F.expr(pq_lut_sql("`__q`")).alias("lut"))
    pairs = corpus_codes.join(F.broadcast(q), F.col("qid") != F.col("vid"))
    scored = pairs.select(
        "qid",
        "vid",
        F.expr(
            f"aggregate(sequence(0, {m - 1}), 0L, (acc, s) -> acc + lut[s][codes[s]])"
        ).alias("adc_score"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("adc_score").desc(), F.col("vid").asc())
    return scored.withColumn("sim_rank", F.row_number().over(w)).filter(
        F.col("sim_rank") <= k
    )


def pq_rerank_topk(
    queries: DataFrame,
    corpus_codes: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production PQ serving pipeline: ADC SHORTLIST → exact
    re-rank.  Raw ADC ranking quality is bounded by the quantization
    error (4 bits/subspace), so PQ is used as a candidate generator:
    one pass over the compressed code table keeps the ``shortlist``
    best candidates per query (never touching the corpus floats), then
    ONLY those |Q| x shortlist rows join back to the float vectors for
    exact cosine scoring and the final top-``k``.

    Output (qid, vid, cosine_sim, sim_rank) — same shape as the other
    ANN tiers.  At 10^9 corpus rows the exact stage reads ``shortlist``
    vectors per query instead of 10^9: the float table is accessed like
    a key-value store (a vid-bucketed layout makes it one partition-
    pruned probe), while the scan-heavy stage runs entirely on the
    in-memory code table."""
    sl = pq_adc_topk(
        queries, corpus_codes, k=shortlist, id_col=id_col, vec_col=vec_col
    ).select("qid", "vid")
    c = corpus.select(
        F.col(id_col).alias("vid"), quantized(F.col(vec_col)).alias("c_emb")
    )
    q = queries.select(
        F.col(id_col).alias("qid"), quantized(F.col(vec_col)).alias("q_emb")
    )
    scored = sl.join(c, "vid").join(F.broadcast(q), "qid").select(
        "qid", "vid", cosine_q(F.col("q_emb"), F.col("c_emb")).alias("cosine_sim")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine_sim").desc(), F.col("vid").asc())
    return scored.withColumn("sim_rank", F.row_number().over(w)).filter(
        F.col("sim_rank") <= k
    )


def ivfadc_index_rows(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """``(vid, cell, codes)`` — the combined IVFADC index rows: frozen
    top-1 IVF cell (the pruning key) plus frozen PQ codes (the
    compressed payload).  One narrow map per batch, appendable like the
    single-index tables; at 10^9 rows this is the whole serving index
    in ~10 bytes of logical payload per vector, clustered by cell."""
    return ensure_parallelism(corpus).select(
        F.col(id_col).alias("vid"), quantized(F.col(vec_col)).alias("__q")
    ).select(
        "vid",
        F.expr(ivf_assign_sql("`__q`", 1))[0].alias("cell"),
        F.expr(pq_encode_sql("`__q`")).alias("codes"),
    )


def ivfadc_topk(
    queries: DataFrame,
    index: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC serving — the composition a 10^9-vector lake actually
    deploys (FAISS's IVFADC, re-expressed as DataFrame ops): queries
    probe their ``n_probe`` nearest frozen cells, candidates come from
    the cell equi-join against the COMPRESSED index (codes, not
    floats), ADC scores them from the per-query LUT, the ``shortlist``
    best join back to the float table for exact quantized-cosine
    re-ranking, and the top-``k`` ships.

    Cost anatomy per query: |corpus|/|cells| x n_probe code rows
    scanned (cell pruning) x 16 array lookups each (PQ), then
    ``shortlist`` float-vector fetches (exact stage).  Neither stage
    ever scans the full float table.  Both pruning and compression are
    frozen-literal arithmetic, so the whole pipeline remains
    bit-for-bit oracle-checkable."""
    m = _pq_literals()[2]
    q = queries.select(
        F.col(id_col).alias("qid"), quantized(F.col(vec_col)).alias("q_emb")
    ).select(
        "qid",
        "q_emb",
        F.expr(pq_lut_sql("`q_emb`")).alias("lut"),
        F.explode(F.expr(ivf_assign_sql("`q_emb`", n_probe))).alias("cell"),
    )
    cand = index.join(F.broadcast(q), "cell").filter(F.col("qid") != F.col("vid"))
    adc = cand.select(
        "qid",
        "vid",
        F.expr(
            f"aggregate(sequence(0, {m - 1}), 0L, (acc, s) -> acc + lut[s][codes[s]])"
        ).alias("adc_score"),
    )
    w_sl = Window.partitionBy("qid").orderBy(F.col("adc_score").desc(), F.col("vid").asc())
    sl = (
        adc.withColumn("__rn", F.row_number().over(w_sl))
        .filter(F.col("__rn") <= shortlist)
        .select("qid", "vid")
    )
    c = corpus.select(
        F.col(id_col).alias("vid"), quantized(F.col(vec_col)).alias("c_emb")
    )
    scored = sl.join(c, "vid").join(
        F.broadcast(queries.select(
            F.col(id_col).alias("qid"), quantized(F.col(vec_col)).alias("q_emb")
        )),
        "qid",
    ).select("qid", "vid", cosine_q(F.col("q_emb"), F.col("c_emb")).alias("cosine_sim"))
    w = Window.partitionBy("qid").orderBy(F.col("cosine_sim").desc(), F.col("vid").asc())
    return scored.withColumn("sim_rank", F.row_number().over(w)).filter(
        F.col("sim_rank") <= k
    )
