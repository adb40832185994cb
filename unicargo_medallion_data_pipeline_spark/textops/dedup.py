"""Near-duplicate detection: shingling, MinHash + LSH banding, SimHash,
n-gram Jaccard (north-star dedup surface).

Pipeline shape (the only shape that scales to 100 TB):

  1. shingle (narrow map) → 2. minhash signature (narrow map) →
  3. band hashes (narrow map) → 4. candidate pairs via EQUI-JOIN on
  (band, band_hash) — one shuffle, no cross product → 5. exact Jaccard
  rescoring on candidates only.

Everything is built-in higher-order array expressions (transform /
aggregate / zip_with) running inside the JVM — no Python UDFs.  MinHash
permutations use Spark's xxhash64 (fast; verified through a hybrid
exact-jaccard oracle — see plans/similarity_gold.py), while SimHash uses
md5-derived 60-bit token hashes so an independent engine can recompute
the fingerprints bit-for-bit (full DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from unicargo_medallion_data_pipeline_spark.textops.analysis import tokens
from unicargo_medallion_data_pipeline_spark.textops.util import ensure_parallelism


def shingles(col: str | Column = "text", n: int = 3) -> Column:
    """n-token shingles of the normalized text (array<string>, distinct).

    Short documents (< n tokens) produce one shingle of all tokens.
    """
    toks = tokens(col)
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    )


def minhash_signature(shingle_col: str = "sh", k: int = 16) -> Column:
    """k-permutation MinHash signature (array<long>) of a shingle column.

    Each permutation is xxhash64 re-seeded with the permutation index; the
    signature component is the min over the document's shingles.  Narrow,
    codegen'd, O(k·|shingles|) per row.

    Built as ONE expression string: the per-permutation Python loop this
    replaces emitted k Column trees (k py4j round trips — ~0.4s of pure
    driver time per plan at k=32; see docs/PLANS.md rule 2).  Hash values
    are bit-identical to the loop form (same argument types: STRING
    shingle → BIGINT base hash → xxhash64(BIGINT, INT) per permutation),
    pinned by tests/test_textops.py::test_minhash_expr_matches_column_loop.
    Each shingle STRING is hashed once (bound via the single-element fold),
    then the k permutations re-hash the 64-bit value — k long-hashes
    instead of k string-hashes per shingle.
    """
    if not isinstance(shingle_col, str):
        raise TypeError("minhash_signature needs a column NAME (it builds a SQL string)")
    base = f"transform(`{shingle_col}`, s -> xxhash64(s))"
    return F.expr(
        f"aggregate(array({base}), CAST(array() AS ARRAY<BIGINT>), "
        f"(acc, base) -> transform(sequence(0, {k - 1}), "
        f"i -> array_min(transform(base, h -> xxhash64(h, i)))))"
    )


def band_hashes(signature: str, bands: int, rows_per_band: int) -> Column:
    """LSH banding: hash each band of the signature column → array<long>.

    Two docs collide in a band iff that band of their signatures is
    identical; P(candidate) ≈ 1-(1-j^r)^b for Jaccard j.

    One expression string for the same driver-time reason as
    ``minhash_signature``; bit-identical to the per-band Column loop
    (``concat('band', CAST(b AS STRING), ':')`` == the old literal
    ``f"band{b}:"``, and ``concat_ws`` over a sliced array equals the
    varargs form).
    """
    if not isinstance(signature, str):
        raise TypeError("band_hashes needs a column NAME (it builds a SQL string)")
    return F.expr(
        f"transform(sequence(0, {bands - 1}), "
        f"b -> xxhash64(concat('band', CAST(b AS STRING), ':'), "
        f"concat_ws(',', transform(slice(`{signature}`, b * {rows_per_band} + 1, "
        f"{rows_per_band}), x -> CAST(x AS STRING)))))"
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays (ints → one IEEE div).

    ``array_intersect`` — the expensive op on the rescore path — is bound
    ONCE via a single-element fold so it cannot be re-evaluated for the
    union denominator (|a ∪ b| = |a| + |b| − |a ∩ b|), independent of
    whether codegen's subexpression elimination kicks in.
    """
    return F.aggregate(
        F.array(F.size(F.array_intersect(a, b))),
        F.lit(0.0),
        lambda _acc, inter: inter.cast("double")
        / (F.size(a) + F.size(b) - inter).cast("double"),
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash LSH.

    Returns (a_id, b_id, est_jaccard, jaccard) with a_id < b_id —
    est_jaccard from signature agreement, jaccard exact over shingle sets.
    One shuffle (the band-bucket self-join); no O(n²) stage anywhere.

    The (id, shingles, signature) frame is pinned with an eager
    ``localCheckpoint`` before it fans out: the frame feeds THREE plan
    branches (band explode + both rescore sides), and Spark re-evaluates
    a subtree per branch — without pinning, the shingle+signature hash
    work runs 3× per query (measured ~0.3s/pass at sf0.1, i.e. most of
    the query's runtime).  localCheckpoint rather than persist() for the
    reason documented in operators/ranks.py: checkpoint blocks are freed
    by the ContextCleaner when the frame is dropped, a persist here would
    outlive the call.  At lake scale, write the signature table once and
    join against it instead (docs/SCALE.md)."""
    if k % bands != 0:
        raise ValueError(
            f"k={k} must be divisible by bands={bands}: the trailing "
            f"{k % bands} signature components would be silently dropped "
            "from candidate generation, reducing recall with no warning"
        )
    rows_per_band = k // bands
    sh = ensure_parallelism(docs).select(
        F.col(id_col).alias("id"), shingles(text_col, shingle_n).alias("sh")
    )
    payload = sh.select(
        "id", "sh", minhash_signature("sh", k).alias("sig")
    ).localCheckpoint(eager=True)
    # The band self-join carries ONLY (id, band_idx, band_hash): with b
    # bands every document explodes b ways, and dragging shingle arrays /
    # signatures through that join would shuffle b copies of each
    # document's payload (measured 5.7s vs 0.9s at sf0.1 with b=16).
    # Candidates dedup on narrow id pairs; payloads re-join once per side
    # for rescoring — 2 payload shuffles total instead of b.
    banded = payload.select(
        "id",
        F.posexplode_outer(band_hashes("sig", bands, rows_per_band)).alias(
            "band_idx", "band_hash"
        ),
    )
    left = banded.select(F.col("id").alias("a_id"), "band_idx", "band_hash")
    right = banded.select(F.col("id").alias("b_id"), "band_idx", "band_hash")
    cand = (
        left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    a_payload = payload.select(
        F.col("id").alias("a_id"), F.col("sh").alias("a_sh"), F.col("sig").alias("a_sig")
    )
    b_payload = payload.select(
        F.col("id").alias("b_id"), F.col("sh").alias("b_sh"), F.col("sig").alias("b_sig")
    )
    pairs = cand.join(a_payload, "a_id").join(b_payload, "b_id")
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("a_sig"), F.col("b_sig"), lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        ).cast("double")
        / F.size(F.col("a_sig"))
    )
    return pairs.select(
        "a_id",
        "b_id",
        est.alias("est_jaccard"),
        jaccard(F.col("a_sh"), F.col("b_sh")).alias("jaccard"),
    )


def minhash_payload(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """``(id, sh, sig)`` signature payload — the MAINTAINED table of the
    incremental near-dup pipeline.

    At lake scale this is a silver table written once per ingest batch:
    signatures are computed for NEW documents only, appended, and every
    later batch joins against the accumulated table instead of
    re-shingling the corpus (the amortization
    ``minhash_lsh_candidates``'s docstring promises).  Narrow maps only;
    no shuffle."""
    sh = ensure_parallelism(docs).select(
        F.col(id_col).alias("id"), shingles(text_col, shingle_n).alias("sh")
    )
    return sh.select("id", "sh", minhash_signature("sh", k).alias("sig"))


def incremental_near_dup_pairs(
    new_payload: DataFrame,
    all_payload: DataFrame,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.3,
) -> DataFrame:
    """Near-dup pairs INVOLVING AT LEAST ONE NEW DOCUMENT: the per-batch
    step of incremental corpus dedup.

    ``new_payload`` holds the batch's ``(id, sh, sig)`` rows (from
    :func:`minhash_payload`); ``all_payload`` holds the whole corpus
    INCLUDING the batch.  Candidates come from the band-bucket equi-join
    of the new side against the full side — new×new and new×old pairs
    collide exactly as they would in the full self-join, so the union of
    per-batch results over any batch decomposition equals the full
    recompute (each qualifying pair surfaces exactly once: in the batch
    where its LATER member arrives).  One shuffle per batch, sized by
    the BATCH, not the corpus.

    Returns (a_id, b_id, jaccard) with a_id < b_id, exact Jaccard
    rescored over shingles, filtered at ``threshold``."""
    if k % bands != 0:
        raise ValueError(f"k={k} must be divisible by bands={bands}")
    rows_per_band = k // bands

    def banded(payload, side):
        return payload.select(
            F.col("id").alias(side),
            F.posexplode_outer(band_hashes("sig", bands, rows_per_band)).alias(
                "band_idx", "band_hash"
            ),
        )

    cand = (
        banded(new_payload, "n_id")
        .join(banded(all_payload, "o_id"), ["band_idx", "band_hash"])
        .filter(F.col("n_id") != F.col("o_id"))
        .select(
            F.least("n_id", "o_id").alias("a_id"),
            F.greatest("n_id", "o_id").alias("b_id"),
        )
        .distinct()
    )
    a_payload = all_payload.select(F.col("id").alias("a_id"), F.col("sh").alias("a_sh"))
    b_payload = all_payload.select(F.col("id").alias("b_id"), F.col("sh").alias("b_sh"))
    pairs = cand.join(a_payload, "a_id").join(b_payload, "b_id")
    j = jaccard(F.col("a_sh"), F.col("b_sh"))
    return pairs.select("a_id", "b_id", j.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


#: SimHash width: 60 bits = 15 hex digits of md5 — the widest slice that
#: fits a signed 64-bit int on every engine (DuckDB's ``('0x'||…)::BIGINT``
#: and Spark's ``conv(…,16,10)`` agree exactly on 15 digits).
SIMHASH_BITS = 60

#: SQL text of the per-token 60-bit hash (Spark dialect).  md5 rather than
#: xxhash64 so an independent engine can recompute the fingerprint
#: bit-for-bit (DuckDB mirror: ``('0x'||substr(md5('simhash:'||t),1,15))::BIGINT``).
#: A throughput-first deployment can swap in ``xxhash64(t)`` here — any
#: 64-bit hash yields a valid SimHash — at the cost of that verifiability.
_TOKEN_HASH_SQL = (
    "CAST(conv(substring(md5(concat('simhash:', t)), 1, 15), 16, 10) AS BIGINT)"
)


def token_hashes_sql(text_sql: str) -> str:
    """Spark-SQL text: array of 60-bit md5 token hashes of ``text_sql``."""
    norm = rf"trim(regexp_replace(lower({text_sql}), '\\s+', ' '))"
    return f"transform(split({norm}, ' '), t -> {_TOKEN_HASH_SQL})"


def simhash60(col: str | Column = "text") -> Column:
    """60-bit SimHash of the token stream (bit-majority of token hashes).

    Two nested ``aggregate`` folds built as ONE expression string (a
    per-bit Python loop would emit 60 Column trees = 60 py4j round trips
    of driver time): outer fold over bit positions, inner fold counting
    the bit's vote across token hashes.  Still a narrow per-row map —
    no shuffle, codegen'd, O(60·|tokens|) per row.

    Deterministic across engines: md5 token hashes and integer votes have
    exact cross-engine mirrors, so a DuckDB oracle can recompute the
    fingerprint (see plans/similarity_gold.py::doc_simhash_clusters).
    """
    name = col if isinstance(col, str) else None
    if name is None:
        raise TypeError("simhash60 needs a column NAME (it builds a SQL string)")
    th = token_hashes_sql(f"`{name}`")
    # Bind the hash array ONCE via a single-element fold (`h_arr`): writing
    # {th} inside the per-bit lambda would re-run the md5 pipeline 60×/row.
    return F.expr(
        f"""
        aggregate(
          array({th}),
          CAST(0 AS BIGINT),
          (acc0, h_arr) -> acc0 + aggregate(
            sequence(0, {SIMHASH_BITS - 1}),
            CAST(0 AS BIGINT),
            (acc, i) -> acc + IF(
              aggregate(h_arr, 0, (a, h) -> a + IF((shiftright(h, i) & 1) = 1, 1, -1)) > 0,
              shiftleft(CAST(1 AS BIGINT), i),
              CAST(0 AS BIGINT))))
        """
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))
