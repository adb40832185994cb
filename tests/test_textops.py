"""Semantic tests for the hash-based textops (MinHash/SimHash/LSH) whose
results can't be oracle-checked in SQL, plus ANN recall vs the exact KNN."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_with_planted_dups(spark):
    """Driver documents + planted near-duplicates with known overlap."""
    from unicargo_medallion_data_pipeline_spark.sources.readers import load_table

    d = load_table(spark, SF, "documents").select("doc_id", "text")
    # plant exact dups (jaccard 1.0) and a shuffled variant (token-set
    # jaccard 1.0, different order) for 5 docs
    exact = d.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    shuffled = d.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat_ws(" ", F.array_sort(F.split(F.lower("text"), r"\s+"))).alias("text"),
    )
    return d.unionByName(exact).unionByName(shuffled)


def test_minhash_lsh_finds_planted_dups(spark, docs_with_planted_dups):
    from unicargo_medallion_data_pipeline_spark.textops.dedup import minhash_lsh_candidates

    pairs = minhash_lsh_candidates(docs_with_planted_dups, shingle_n=1).filter(
        F.col("jaccard") >= 0.99
    )
    found = {(r["a_id"], r["b_id"]) for r in pairs.collect()}
    for i in range(5):
        assert (i, i + 100000) in found, f"exact dup of doc {i} missed"
        assert (i, i + 200000) in found, f"shuffled dup of doc {i} missed"


def test_minhash_estimate_tracks_exact_jaccard(spark, docs_with_planted_dups):
    from unicargo_medallion_data_pipeline_spark.textops.dedup import minhash_lsh_candidates

    pairs = minhash_lsh_candidates(docs_with_planted_dups, shingle_n=1).limit(500).collect()
    assert pairs, "no candidate pairs at all"
    err = [abs(r["est_jaccard"] - r["jaccard"]) for r in pairs]
    # 16 permutations → stderr ~0.12; mean abs error must be well under 0.2
    assert sum(err) / len(err) < 0.2


def test_simhash_identical_and_different(spark):
    from unicargo_medallion_data_pipeline_spark.textops.dedup import hamming64, simhash60

    df = spark.createDataFrame(
        [
            (1, "spark builds scalable data pipelines for large tables"),
            (2, "spark builds scalable data pipelines for large tables"),
            (3, "completely unrelated words about gardens and oceans tides"),
        ],
        ["id", "text"],
    )
    fp = df.select("id", simhash60("text").alias("s")).collect()
    by_id = {r["id"]: r["s"] for r in fp}
    assert by_id[1] == by_id[2], "identical text must hash identically"
    a = spark.createDataFrame([(by_id[1], by_id[3])], ["x", "y"])
    ham = a.select(hamming64(F.col("x"), F.col("y")).alias("h")).collect()[0]["h"]
    assert ham > 10, f"unrelated docs should be far apart, got hamming={ham}"


def test_shingles_short_doc_edge(spark):
    from unicargo_medallion_data_pipeline_spark.textops.dedup import shingles

    df = spark.createDataFrame([("one two",), ("solo",)], ["text"])
    rows = df.select(shingles("text", 3).alias("sh")).collect()
    assert rows[0]["sh"] == ["one two"]
    assert rows[1]["sh"] == ["solo"]


def test_lsh_ann_better_than_random(spark):
    """The honest ANN contract on unstructured data: returned neighbours
    must be substantially more similar than random pairs (uniform random
    64-d embeddings have no cluster structure, so exact-top-5 recall is
    not a meaningful bar — better-than-random by a clear margin is)."""
    import statistics

    from unicargo_medallion_data_pipeline_spark.plans.all import CATALOG
    from unicargo_medallion_data_pipeline_spark.sources.readers import load_table
    from unicargo_medallion_data_pipeline_spark.textops import similarity as sim

    ann = CATALOG["embedding_knn_lsh"].fn(spark, SF).collect()
    assert ann, "ANN returned nothing"
    for r in ann:
        assert 1 <= r["sim_rank"] <= 5
    ann_mean = statistics.mean(r["cosine_sim"] for r in ann)

    e = load_table(spark, SF, "embeddings")
    baseline = (
        sim.cosine_topk_exact(e.filter(F.col("vec_id") < 10), e, k=10**9)
        .agg(F.avg("cosine_sim"), F.stddev("cosine_sim"))
        .collect()[0]
    )
    mean_all, sd_all = baseline[0], baseline[1]
    assert ann_mean > mean_all + sd_all, (
        f"ANN mean {ann_mean:.3f} not better than random ({mean_all:.3f}±{sd_all:.3f})"
    )


def test_exact_knn_is_true_topk(spark):
    """The quantized exact KNN must match a float64 brute-force recompute
    (quantization error < 1e-6 cannot change a rank unless ties)."""
    import numpy as np

    from unicargo_medallion_data_pipeline_spark.plans.all import CATALOG
    from unicargo_medallion_data_pipeline_spark.sources.readers import load_table

    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in load_table(spark, SF, "embeddings").collect()
    }
    got = CATALOG["embedding_knn_exact"].fn(spark, SF).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append((r["sim_rank"], r["vid"], r["cosine_sim"]))
    for qid, hits in by_q.items():
        qv = vecs[qid]
        sims = {
            vid: float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v)))
            for vid, v in vecs.items()
            if vid != qid
        }
        true_top = sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        got_sorted = [vid for _, vid, _ in sorted(hits)]
        assert got_sorted == [vid for vid, _ in true_top], f"qid={qid}"


def test_ivf_ann_better_than_random(spark):
    """IVF probes n_probe/n_centroids of the corpus; on unstructured
    embeddings its hits must still be clearly better than random pairs
    (same honest-ANN contract as the LSH test)."""
    import statistics

    from unicargo_medallion_data_pipeline_spark.plans.all import CATALOG
    from unicargo_medallion_data_pipeline_spark.sources.readers import load_table
    from unicargo_medallion_data_pipeline_spark.textops import similarity as sim

    ann = CATALOG["embedding_knn_ivf"].fn(spark, SF).collect()
    assert ann, "IVF ANN returned nothing"
    for r in ann:
        assert 1 <= r["sim_rank"] <= 5
    by_q = {}
    for r in ann:
        by_q.setdefault(r["qid"], 0)
        by_q[r["qid"]] += 1
    assert all(n <= 5 for n in by_q.values())
    ann_mean = statistics.mean(r["cosine_sim"] for r in ann)

    e = load_table(spark, SF, "embeddings")
    baseline = (
        sim.cosine_topk_exact(e.filter(F.col("vec_id") < 10), e, k=10**9)
        .agg(F.avg("cosine_sim"), F.stddev("cosine_sim"))
        .collect()[0]
    )
    mean_all, sd_all = baseline[0], baseline[1]
    assert ann_mean > mean_all + sd_all, (
        f"IVF mean {ann_mean:.3f} not better than random ({mean_all:.3f}±{sd_all:.3f})"
    )


def test_pii_redaction_planted(spark):
    from unicargo_medallion_data_pipeline_spark.textops.pii import pii_count, redact_pii

    df = spark.createDataFrame(
        [
            (1, "contact alice.smith+x@example.co.uk or bob@site.io today"),
            (2, "my ssn is 123-45-6789 thanks"),
            (3, "call +1 (555) 123-4567 now"),
            (4, "nothing sensitive here at all"),
            (5, "mixed: a@b.org then 987-65-4321 then 555-867-5309"),
            (6, "released on 2015-01-01, buy 1 000 000 000 of v10.2.3.4567"),
            (7, "isbn 9780306406157, card 4111111111111111, epoch 1755234000000"),
        ],
        ["id", "text"],
    )
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            pii_count("email", "text").alias("em"),
            pii_count("ssn", "text").alias("ss"),
            pii_count("phone", "text").alias("ph"),
            redact_pii("text").alias("red"),
        ).collect()
    }
    assert rows[1]["em"] == 2 and "<EMAIL>" in rows[1]["red"]
    assert "alice" not in rows[1]["red"] and "bob@" not in rows[1]["red"]
    assert rows[2]["ss"] == 1 and "<SSN>" in rows[2]["red"]
    # an SSN must NOT also count as a phone (counts mirror redaction order)
    assert rows[2]["ph"] == 0
    assert rows[3]["ph"] == 1 and "<PHONE>" in rows[3]["red"]
    assert rows[4]["em"] == rows[4]["ss"] == rows[4]["ph"] == 0
    assert rows[4]["red"] == "nothing sensitive here at all"
    # ordering: SSN labelled as <SSN>, not swallowed by the phone pattern
    assert rows[5]["em"] == 1 and rows[5]["ss"] == 1
    assert "<EMAIL>" in rows[5]["red"] and "<SSN>" in rows[5]["red"]
    assert "<PHONE>" in rows[5]["red"]
    # dates, spaced thousands, and dotted versions are NOT phones — the
    # naive digit-run pattern redacted every ISO date in a corpus
    assert rows[6]["ph"] == 0 and rows[6]["red"] == (
        "released on 2015-01-01, buy 1 000 000 000 of v10.2.3.4567"
    )
    # the match must START at a run boundary: without the leading
    # anchor the engine started MID-RUN and redacted the tail of any
    # 10+ digit run (ISBNs, card numbers, epoch timestamps)
    assert rows[7]["ph"] == 0 and rows[7]["red"] == (
        "isbn 9780306406157, card 4111111111111111, epoch 1755234000000"
    )


def test_repetition_signals_detect_degenerate_doc(spark):
    from unicargo_medallion_data_pipeline_spark.plans.all import CATALOG

    out = {r["doc_id"]: r for r in CATALOG["doc_repetition_signals"].fn(spark, SF).collect()}
    assert out, "no rows"
    for r in out.values():
        assert 0.0 < r["top_token_frac"] <= 1.0
        assert 0.0 <= r["dup_bigram_frac"] <= 1.0
        assert r["n_bigrams"] == max(r["n_tokens"] - 1, 0)
    # a synthetic fully-repeated doc must max out the signals
    df = spark.createDataFrame([(1, "spam spam spam spam spam spam")], ["doc_id", "text"])
    from unicargo_medallion_data_pipeline_spark.textops import analysis as ta

    row = df.select(
        ta.max_element_count(ta.tokens("text")).alias("top"),
        ta.duplicated_instance_count(ta.bigrams("text")).alias("dup"),
        F.size(ta.bigrams("text")).alias("nbg"),
    ).collect()[0]
    assert row["top"] == 6 and row["dup"] == row["nbg"] == 5


def test_shard_packing_invariants(spark):
    from unicargo_medallion_data_pipeline_spark.plans.all import CATALOG

    rows = CATALOG["doc_shard_packing"].fn(spark, SF).collect()
    assert rows
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in rs:
            # offsets reconstruct the concatenated stream exactly
            assert r["shard_idx"] * 4096 + r["shard_offset"] == cum
            cum += r["n_tokens"]
        # shard indices are dense from 0
        assert rs[0]["shard_idx"] == 0


def test_ivf_scores_equal_exact_rescore(spark):
    """Every (qid, vid, cosine) the IVF path emits must equal the exact
    quantized cosine for that pair — the probe structure decides WHICH
    pairs surface, but never their scores (closes the rows-only oracle
    gap from the value side)."""
    from unicargo_medallion_data_pipeline_spark.plans.all import CATALOG
    from unicargo_medallion_data_pipeline_spark.sources.readers import load_table
    from unicargo_medallion_data_pipeline_spark.textops import similarity as sim

    e = load_table(spark, SF, "embeddings")
    exact = {
        (r["qid"], r["vid"]): r["cosine_sim"]
        for r in sim.cosine_topk_exact(
            e.filter(F.col("vec_id") < 10), e, k=10**9
        ).collect()
    }
    ann = CATALOG["embedding_knn_ivf"].fn(spark, SF).collect()
    assert ann
    for r in ann:
        assert exact[(r["qid"], r["vid"])] == r["cosine_sim"], (r["qid"], r["vid"])


def test_ivf_codebook_fit_is_seeded(spark):
    """The k-means fit behind the frozen IVF codebook (``ivf_codebook``,
    which ``ivf_frozen._refreeze`` reruns): n_centroids finite centroids
    of the embedding's dimension, and the same centroids again for the
    same seed."""
    import math

    from unicargo_medallion_data_pipeline_spark.sources.readers import load_table
    from unicargo_medallion_data_pipeline_spark.textops import similarity as sim

    e = load_table(spark, SF, "embeddings")
    dim = len(e.first()["embedding"])
    cents = sim.ivf_codebook(e, n_centroids=8, seed=42)
    assert len(cents) == 8
    assert all(len(c) == dim for c in cents)
    assert all(math.isfinite(v) for c in cents for v in c)
    assert sim.ivf_codebook(e, n_centroids=8, seed=42) == cents


def test_ivf_frozen_assignment_matches_numpy(spark):
    """The JVM-side frozen-codebook assignment (one SQL expression) must
    agree with an independent numpy recompute from the same literals —
    same int64 dot products, same double division, same (score desc,
    cid asc) order."""
    import numpy as np

    from unicargo_medallion_data_pipeline_spark.sources.readers import load_table
    from unicargo_medallion_data_pipeline_spark.textops import similarity as sim
    from unicargo_medallion_data_pipeline_spark.textops.ivf_frozen import (
        FROZEN_CENTROIDS_Q,
        FROZEN_NORMS,
    )

    C = np.asarray(FROZEN_CENTROIDS_Q, dtype=np.int64)
    norms = np.asarray(FROZEN_NORMS, dtype=np.float64)
    e = load_table(spark, SF, "embeddings")
    rows = e.select(
        "vec_id",
        sim.quantized(F.col("embedding")).alias("q"),
        F.expr(sim.ivf_assign_sql("transform(embedding, "
                                  "x -> CAST(floor(CAST(x AS DOUBLE) * 100000000) AS BIGINT))", 4)
               ).alias("probes"),
    ).collect()
    assert rows
    for r in rows:
        q = np.asarray(r["q"], dtype=np.int64)
        scores = (C @ q).astype(np.float64) / norms
        want = sorted(range(len(scores)), key=lambda i: (-scores[i], i))[:4]
        assert list(r["probes"]) == want, r["vec_id"]


def test_minhash_expr_matches_column_loop(spark):
    """The one-string expr forms of minhash_signature / band_hashes must be
    BIT-IDENTICAL to the per-permutation Column-loop forms they replaced
    (the loop emitted k py4j round trips of driver time): same argument
    types reach xxhash64, so any divergence is a rewrite bug that would
    silently shift LSH recall."""
    from unicargo_medallion_data_pipeline_spark.sources.readers import load_table
    from unicargo_medallion_data_pipeline_spark.textops import dedup as dd

    K, B, R = 8, 4, 2
    d = load_table(spark, SF, "documents").limit(50)
    sh = d.select("doc_id", dd.shingles("text", 3).alias("sh"))

    base = F.transform(F.col("sh"), lambda s: F.xxhash64(s))

    def _perm(i):
        return lambda h: F.xxhash64(h, F.lit(i))

    loop_sig = F.array(*[F.array_min(F.transform(base, _perm(i))) for i in range(K)])
    assert (
        sh.select((loop_sig != dd.minhash_signature("sh", K)).alias("ne"))
        .filter("ne").count() == 0
    )

    sig = sh.select(dd.minhash_signature("sh", K).alias("sig"))
    loop_bands = F.array(
        *[
            F.xxhash64(
                F.lit(f"band{b}:"),
                F.concat_ws(
                    ",",
                    *[F.element_at(F.col("sig"), b * R + r + 1).cast("string") for r in range(R)],
                ),
            )
            for b in range(B)
        ]
    )
    assert (
        sig.select((loop_bands != dd.band_hashes("sig", B, R)).alias("ne"))
        .filter("ne").count() == 0
    )


def test_incremental_near_dups_equals_full(spark):
    """r12: the per-batch incremental near-dup step must compose to the
    full recompute under ANY batch decomposition — each qualifying pair
    surfaces exactly once, in the batch where its later member arrives."""
    from pyspark.sql import functions as F

    from unicargo_medallion_data_pipeline_spark.textops import dedup as dd

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
            (3, "completely different content about spark engines"),
            (4, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
            (5, "completely different content about spark planes"),  # near-dup of 3
        ],
        "doc_id int, text string",
    )
    full = {
        (r.a_id, r.b_id, round(r.jaccard, 9))
        for r in dd.minhash_lsh_candidates(docs, k=16, bands=8)
        .filter(F.col("jaccard") >= 0.3)
        .select("a_id", "b_id", "jaccard")
        .collect()
    }
    assert full, "fixture must contain qualifying pairs"

    # three uneven batches; signatures accumulate across steps
    incremental = set()
    acc = None
    for batch_filter in (F.col("doc_id") <= 1, F.col("doc_id").isin(2, 3), F.col("doc_id") >= 4):
        newp = dd.minhash_payload(docs.filter(batch_filter), k=16).localCheckpoint(eager=True)
        allp = newp if acc is None else acc.unionByName(newp)
        step = dd.incremental_near_dup_pairs(newp, allp, k=16, bands=8, threshold=0.3)
        rows = {(r.a_id, r.b_id, round(r.jaccard, 9)) for r in step.collect()}
        assert not rows & incremental, "a pair surfaced in two batches"
        incremental |= rows
        acc = allp.localCheckpoint(eager=True)
    assert incremental == full


def test_winnow_guarantee_and_mirror(spark):
    """Winnowing (r12): any shared substring of >= w + k - 1 chars must
    yield a shared fingerprint; unrelated docs share none; fingerprint
    sets are deterministic under repartitioning."""
    from pyspark.sql import functions as F

    from unicargo_medallion_data_pipeline_spark.textops.winnow import (
        winnow_overlap_pairs,
        with_winnow_fingerprints,
    )

    shared = "the quick brown fox jumps over the lazy dog near the river bank"
    assert len(shared) >= 16 + 32 - 1
    docs = spark.createDataFrame(
        [
            (1, "intro text. " + shared + " and some unique tail one"),
            (2, "other opening! " + shared + " with a different ending here"),
            (3, "completely unrelated content about spark engines and parquet files"),
            (4, "tiny"),  # shorter than one gram: one degenerate fingerprint
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.a_id, r.b_id)
        for r in winnow_overlap_pairs(docs, k=16, w=32, min_shared=1).collect()
    }
    assert (1, 2) in pairs
    assert all(3 not in p and 4 not in p for p in pairs)

    fps1 = {r.doc_id: sorted(r.fps) for r in with_winnow_fingerprints(docs, k=16, w=32).collect()}
    fps2 = {
        r.doc_id: sorted(r.fps)
        for r in with_winnow_fingerprints(docs.repartition(8), k=16, w=32).collect()
    }
    assert fps1 == fps2 and len(fps1[4]) == 1


def test_winnow_row_form_matches_array_form(spark):
    """r13: winnow_fingerprint_rows (codegen'd explode + window-min)
    selects the bit-identical fingerprint set as with_winnow_fingerprints
    (interpreted array lambdas) — including the degenerate floors: text
    shorter than one gram, shorter than one full window, unicode, and a
    single-char doc.  The row form exists because the array form's
    per-window lambda measured ~1 ms/window (minutes corpus-wide)."""
    from unicargo_medallion_data_pipeline_spark.textops.winnow import (
        winnow_fingerprint_rows,
        with_winnow_fingerprints,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog " * 6),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "tiny"),                       # shorter than k
            (4, "barely eight+"),              # >= k, < k + w - 1
            (5, "x"),
            (6, "ünïcødé tæxt — mixed 𝒘𝒊𝒅𝒆 codepoints " * 3),
            (7, ""),
        ],
        "doc_id long, text string",
    )
    for k, w in ((8, 8), (8, 16), (16, 32)):
        rows = {
            (r.id, r.fp)
            for r in winnow_fingerprint_rows(docs, k=k, w=w).collect()
        }
        arrays = {
            (r["doc_id"], fp)
            for r in with_winnow_fingerprints(docs, k=k, w=w).collect()
            for fp in r["fps"]
        }
        assert rows == arrays, (k, w)
    # parallelism-invariant (the window is per-doc keyed)
    a = {(r.id, r.fp) for r in winnow_fingerprint_rows(docs.repartition(7), k=8, w=8).collect()}
    b = {(r.id, r.fp) for r in winnow_fingerprint_rows(docs.coalesce(1), k=8, w=8).collect()}
    assert a == b


def test_pq_adc_recall_and_determinism(spark):
    """r13 PQ tier: (a) the encoder emits one code per subspace in
    [0, 16); (b) raw ADC is a SHORTLIST signal — its own top-5 recall
    is modest on this unit-norm random-ish corpus (quantization error
    dominates the tiny cosine spread), but the rerank pipeline
    (ADC shortlist-100 → exact cosine) recovers the exact top-5;
    (c) both are deterministic under repartitioning (pure int
    arithmetic + total-order tie-breaks)."""
    from pyspark.sql import functions as F

    from unicargo_medallion_data_pipeline_spark.sources.readers import load_table
    from unicargo_medallion_data_pipeline_spark.textops import similarity as sim

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    codes = sim.pq_index_rows(e).localCheckpoint(eager=True)
    row = codes.first()
    assert len(row.codes) == 16 and all(0 <= c < 16 for c in row.codes)

    q = e.filter(F.col("vec_id") < 10)
    exact_sets = {}
    for r in sim.cosine_topk_exact(q, e, k=5).collect():
        exact_sets.setdefault(r.qid, set()).add(r.vid)

    adc = sim.pq_adc_topk(q, codes, k=5)
    adc_sets = {}
    for r in adc.collect():
        adc_sets.setdefault(r.qid, set()).add(r.vid)
    adc_recall = [
        len(adc_sets[qid] & exact_sets[qid]) / len(exact_sets[qid])
        for qid in exact_sets
    ]
    assert sum(adc_recall) / len(adc_recall) >= 0.25, adc_recall

    rr_sets = {}
    for r in sim.pq_rerank_topk(q, codes, e, k=5, shortlist=100).collect():
        rr_sets.setdefault(r.qid, set()).add(r.vid)
    rr_recall = [
        len(rr_sets[qid] & exact_sets[qid]) / len(exact_sets[qid])
        for qid in exact_sets
    ]
    assert sum(rr_recall) / len(rr_recall) >= 0.95, rr_recall

    again = sim.pq_adc_topk(q.repartition(7), sim.pq_index_rows(e.repartition(5)), k=5)
    key = lambda df: sorted((r.qid, r.sim_rank, r.vid, r.adc_score) for r in df.collect())
    assert key(adc) == key(again)


def test_ivfadc_recall_and_cell_consistency(spark):
    """r13 IVFADC composition: recall@5 vs the exact scan is bounded by
    the IVF cell pruning (its n_probe=4 recall ceiling is the pure-IVF
    query's recall) and the PQ shortlist within probed cells must not
    lose materially below that ceiling.  Also pins that the combined
    index rows carry exactly the single-index assignments (cell from
    ivf_frozen_index_rows, codes from pq_index_rows)."""
    from pyspark.sql import functions as F

    from unicargo_medallion_data_pipeline_spark.sources.readers import load_table
    from unicargo_medallion_data_pipeline_spark.textops import similarity as sim

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    index = sim.ivfadc_index_rows(e).localCheckpoint(eager=True)

    cells = {r.vid: r.cell for r in sim.ivf_frozen_index_rows(e).collect()}
    codes = {r.vid: tuple(r.codes) for r in sim.pq_index_rows(e).collect()}
    for r in index.collect():
        assert cells[r.vid] == r.cell and codes[r.vid] == tuple(r.codes)

    q = e.filter(F.col("vec_id") < 10)
    exact_sets, ivf_sets, adc_sets = {}, {}, {}
    for r in sim.cosine_topk_exact(q, e, k=5).collect():
        exact_sets.setdefault(r.qid, set()).add(r.vid)
    for r in sim.cosine_topk_ivf_frozen(q, e, k=5, n_probe=4).collect():
        ivf_sets.setdefault(r.qid, set()).add(r.vid)
    for r in sim.ivfadc_topk(q, index, e, k=5, n_probe=4, shortlist=50).collect():
        adc_sets.setdefault(r.qid, set()).add(r.vid)
    mean = lambda sets: sum(
        len(sets[qid] & exact_sets[qid]) / len(exact_sets[qid]) for qid in exact_sets
    ) / len(exact_sets)
    ceiling, combined = mean(ivf_sets), mean(adc_sets)
    # the PQ shortlist may cost a little recall inside probed cells,
    # but not collapse it (ceiling is the n_probe=4 IVF recall)
    assert combined >= ceiling - 0.25, (combined, ceiling)
    assert combined >= 0.3, (combined, ceiling)
