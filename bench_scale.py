#!/usr/bin/env python
"""Scaling-curvature measurement (r7 verdict task 8).

All per-query timing evidence so far is sf0.1; the 100x-scale argument
rests on plan shape.  This harness adds the second data point: it
builds an **sf0.5-equivalent** dataset by replicating the sf0.1 tables
5x with consistent key remapping (replica i offsets every
primary/foreign key by i*max_key, so joins keep their selectivity and
group-by keys keep their cardinality where the schema implies it), then
times the TPC-H/events headline queries at both scales and reports the
ratio.  Linear-ish ratios (~5x on scan-bound, less on
fixed-group aggregates) confirm no super-linear term is hiding in the
plans.

Document/embedding queries need more than key remapping: replicating
IDENTICAL text/vectors 5x would inflate near-dup candidate density
super-linearly relative to a true sf0.5 corpus, so the ratio would
measure that distortion, not the plan.  The similarity family
(r8 verdict task 6) therefore replicates with structure-preserving
per-replica transforms instead:

  - documents: every token in replica i>0 gets an ``r{i}x`` suffix —
    an injective vocabulary map, so every within-replica shingle-set
    Jaccard (the structure minhash/simhash/ngram queries consume) is
    EXACTLY preserved, while replicas share zero shingles with each
    other (cross-replica candidate pairs cannot form).
  - embeddings: replica i>0 multiplies each dimension by a
    deterministic ±1 pattern — an orthogonal transform, so every
    within-replica cosine/dot is EXACTLY preserved, while
    cross-replica pairs scatter pseudo-randomly.

Dup/neighbor density per replica thus matches sf0.1 exactly and total
density scales linearly, which is what a real 5x corpus does.

Usage: python bench_scale.py [--replicas N] [--headline] [--rounds R] [NAMES...]

Prints ONE JSON line:
  {"metric": "scale_curvature", "queries": {name: {"sf01": s, "sf05": s,
   "ratio": r}}, "calibration": {...}}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import bench  # noqa: E402

REPLICAS = 5

#: Flight-domain headline queries read the committed FIXTURE, not
#: sf_dir — they are timed in a subprocess against a generator-scaled
#: fixture (gen_flights(n x replicas), dims fixed like TPC-H) with
#: SPARK_GRAFT_FLIGHTS_FIXTURE_DIR redirecting the loaders.
FLIGHT_QUERIES = {"flight_airline_scorecard"}

QUERIES = [
    "pricing_summary",
    "daily_order_summary",
    "segment_scorecard",
    "top_trade_routes",
    "rolling_7day_revenue",
    "events_tumbling_5min",
    # similarity family (r8 verdict task 6) — see module docstring for
    # the structure-preserving replication that makes these honest
    "doc_minhash_near_dups",
    "doc_simhash_clusters",
    "doc_duplicate_ngram_rate",
    "embedding_knn_lsh",
    "embedding_knn_ivf",
    # r12: the two canonical-universe-pin payers — their 10x points ran
    # above the steady bar in r11; measured here under the shared
    # steady-by-construction policy instead
    "doc_curation_pipeline",
    "doc_contamination_overlap",
    # r9 verdict task 3: the five heavy stateful/iterative bench anchors.
    # All five consume tables the replication already scales structure-
    # preservingly — scd2 folds per-customer order-priority snapshots
    # (o_custkey offsets grow the KEY population 5x while each key keeps
    # its 3-batch history shape); sessionization/retention grow users 5x
    # with per-user event streams intact; grouping-sets grows orders 5x;
    # pagerank keeps the 25 fixed nation nodes (TPC-H doesn't scale
    # dims) while its edge-building aggregation input grows 5x — the
    # honest 100 TB shape: iteration cost is O(nodes+edges), input-
    # aggregation cost scales with data.
    "scd2_as_of_snapshot",
    "nation_trade_pagerank",
    "events_sessionization",
    "user_weekly_retention",
    "order_grouping_sets",
    # r15: the maintained-asset-table pipeline query — its cost is the
    # two path-keyed admission anti-joins plus the metadata aggregate,
    # all sized by the doc universe the replication scales linearly
    # (content bytes feed only narrow codegen hash/sniff/dims maps).
    "corpus_assets_maintained_profile",
    # r13: the PQ tier (code-table scan must scale with the corpus; the
    # broadcast query/LUT side is fixed) and the winnowed contamination
    # scan (fixed benchmark set doc_id < 10 lives in replica 0, so the
    # candidate probe pays the growing corpus while the shingle stage
    # pays only candidates — the honest fixed-bench/growing-corpus
    # contamination shape).
    "embedding_pq_adc_knn",
    "embedding_pq_rerank_knn",
    "doc_contamination_winnowed",
]

#: Per-table key columns that must be offset per replica so that joins
#: neither collide across replicas nor break within one.  nation/region
#: (fixed-size dims — TPC-H does not scale them) and documents/
#: embeddings (excluded queries) are copied as-is.
KEY_COLS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
}
#: Offset units: the key space of the table OWNING the key.
KEY_SPACE_OF = {
    "c_custkey": ("customer", "c_custkey"),
    "o_orderkey": ("orders", "o_orderkey"),
    "o_custkey": ("customer", "c_custkey"),
    "l_orderkey": ("orders", "o_orderkey"),
    "l_partkey": ("part", "p_partkey"),
    "l_suppkey": ("supplier", "s_suppkey"),
    "s_suppkey": ("supplier", "s_suppkey"),
    "p_partkey": ("part", "p_partkey"),
    "event_id": ("events", "event_id"),
    "user_id": ("events", "user_id"),
}
COPY_AS_IS = ["nation", "region"]


def build_scaled_documents(spark, src_dir: str, dst_dir: str, replicas: int) -> None:
    """documents ×replicas: doc_id offset per replica; replica i>0 maps
    every whitespace token t → t·r{i}x (injective vocab map: preserves
    every within-replica shingle Jaccard, shares no shingles across
    replicas)."""
    from pyspark.sql import functions as F

    from unicargo_medallion_data_pipeline_spark.sources.readers import load_table

    df = load_table(spark, src_dir, "documents")
    max_id = int(df.agg(F.max("doc_id")).collect()[0][0]) + 1
    rep = df.crossJoin(spark.range(replicas).withColumnRenamed("id", "_r"))
    suffixed = F.expr(
        "array_join(transform(split(text, ' '), t -> concat(t, 'r', _r, 'x')), ' ')"
    )
    (
        rep.withColumn("doc_id", F.col("doc_id") + F.col("_r") * F.lit(max_id))
        .withColumn("text", F.when(F.col("_r") == 0, F.col("text")).otherwise(suffixed))
        .withColumn("n_chars", F.length("text"))
        .drop("_r")
        .write.mode("overwrite")
        .parquet(os.path.join(dst_dir, "documents.parquet"))
    )


def build_scaled_embeddings(spark, src_dir: str, dst_dir: str, replicas: int) -> None:
    """embeddings ×replicas: vec_id offset per replica; replica i>0
    multiplies each dimension by a deterministic ±1 (orthogonal —
    within-replica cosines exact, cross-replica pairs scatter)."""
    from pyspark.sql import functions as F

    from unicargo_medallion_data_pipeline_spark.sources.readers import load_table

    df = load_table(spark, src_dir, "embeddings")
    max_id = int(df.agg(F.max("vec_id")).collect()[0][0]) + 1
    rep = df.crossJoin(spark.range(replicas).withColumnRenamed("id", "_r"))
    flipped = F.expr(
        "transform(embedding, (x, i) -> CAST(x * (1 - 2 * pmod(hash(i, _r), 2)) AS FLOAT))"
    )
    (
        rep.withColumn("vec_id", F.col("vec_id") + F.col("_r") * F.lit(max_id))
        .withColumn(
            "embedding",
            F.when(F.col("_r") == 0, F.col("embedding")).otherwise(flipped),
        )
        .drop("_r")
        .write.mode("overwrite")
        .parquet(os.path.join(dst_dir, "embeddings.parquet"))
    )


def build_scaled(spark, src_dir: str, dst_dir: str, replicas: int = REPLICAS) -> None:
    from pyspark.sql import functions as F

    from unicargo_medallion_data_pipeline_spark.sources.readers import load_table

    os.makedirs(dst_dir, exist_ok=True)
    spaces: dict[tuple[str, str], int] = {}
    for tbl, col in set(KEY_SPACE_OF.values()):
        df = load_table(spark, src_dir, tbl)
        spaces[(tbl, col)] = int(df.agg(F.max(col)).collect()[0][0]) + 1

    for tbl, keys in KEY_COLS.items():
        df = load_table(spark, src_dir, tbl)
        rep = df.crossJoin(spark.range(replicas).withColumnRenamed("id", "_r"))
        for k in keys:
            rep = rep.withColumn(
                k, F.col(k) + F.col("_r") * F.lit(spaces[KEY_SPACE_OF[k]])
            )
        (
            rep.drop("_r")
            .write.mode("overwrite")
            .parquet(os.path.join(dst_dir, f"{tbl}.parquet"))
        )
    build_scaled_documents(spark, src_dir, dst_dir, replicas)
    build_scaled_embeddings(spark, src_dir, dst_dir, replicas)
    for tbl in COPY_AS_IS:
        shutil.copy(
            os.path.join(src_dir, f"{tbl}.parquet"),
            os.path.join(dst_dir, f"{tbl}.parquet"),
        )


def headline_query_names() -> list[str]:
    """The full bench.py headline set (CATALOG entries with q.bench),
    sf-scaled ones only — flight queries are fixture-bound and measured
    separately (FLIGHT_QUERIES)."""
    from unicargo_medallion_data_pipeline_spark.plans.all import CATALOG

    return [n for n, q in CATALOG.items() if q.bench and n not in FLIGHT_QUERIES]


def build_scaled_flights_fixture(dst_dir: str, replicas: int) -> None:
    """Generator-scaled flights fixture: the fact table is
    ``gen_flights(N_FLIGHTS x replicas)`` (the generator is a pure
    function of row index, so a bigger n IS the honest bigger corpus —
    same distributions, no replica artifacts), dims stay fixed exactly
    as TPC-H fixes nation/region."""
    import pyarrow.parquet as pq

    from unicargo_medallion_data_pipeline_spark.sources import flights_fixture as ff

    os.makedirs(dst_dir, exist_ok=True)
    pq.write_table(
        ff.gen_flights(ff.N_FLIGHTS * replicas), os.path.join(dst_dir, "flights.parquet")
    )
    pq.write_table(ff.gen_airlines(), os.path.join(dst_dir, "airlines.parquet"))
    pq.write_table(ff.gen_airports(), os.path.join(dst_dir, "airports.parquet"))


def _flight_single(name: str, rounds: int, out_path: str) -> None:
    """Subprocess mode: time ONE flight query against whatever fixture
    SPARK_GRAFT_FLIGHTS_FIXTURE_DIR points at (must be set before the
    plans modules import — which is why this runs in a subprocess) and
    write ``{"sec", "calibration"}`` to ``out_path``."""
    from unicargo_medallion_data_pipeline_spark.session import get_spark

    spark = get_spark("bench-scale-flight")
    spark.sparkContext.setLogLevel("ERROR")
    sf01 = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    timings, cal = bench.time_catalog(spark, sf01, [name], n_rounds=rounds)
    with open(out_path, "w") as fh:
        json.dump({"sec": timings[name], "calibration": cal}, fh)


def _time_flight_subprocess(name: str, fixture_dir: str | None, rounds: int) -> dict:
    env = dict(os.environ)
    if fixture_dir:
        env["SPARK_GRAFT_FLIGHTS_FIXTURE_DIR"] = fixture_dir
    return bench.run_child([__file__, "--rounds", str(rounds), "--flight-single", name], env)


def main() -> None:
    import argparse
    import math

    ap = argparse.ArgumentParser(description="scaling-curvature harness")
    ap.add_argument("names", nargs="*", help="catalog queries to time (default: QUERIES)")
    ap.add_argument("--replicas", type=int, default=REPLICAS)
    ap.add_argument(
        "--headline",
        action="store_true",
        help="add the FULL bench.py headline set (plus fixture-scaled "
        "flight queries) to the timed names",
    )
    ap.add_argument("--rounds", type=int, default=3)
    # NAME RESULT_PATH: the child mode bench.run_child drives
    ap.add_argument("--flight-single", nargs=2, default=None, help=argparse.SUPPRESS)
    args = ap.parse_args()

    if args.flight_single:
        name, out_path = args.flight_single
        _flight_single(name, args.rounds, out_path)
        return

    sf01 = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from unicargo_medallion_data_pipeline_spark.plans.all import CATALOG
    from unicargo_medallion_data_pipeline_spark.session import get_spark

    names = args.names or QUERIES
    if args.headline:
        names = sorted(set(names) | set(headline_query_names()))

    spark = get_spark("bench-scale")
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="scale_bench_")
    try:
        sfr = os.path.join(work, f"sf{args.replicas}x")
        build_scaled(spark, sf01, sfr, args.replicas)

        t01, cal01 = bench.time_catalog(spark, sf01, names, n_rounds=args.rounds)
        tr, calr = bench.time_catalog(spark, sfr, names, n_rounds=args.rounds)

        def _entry(base: float, scaled: float) -> dict:
            ratio = round(scaled / base, 2) if base else None
            exponent = (
                round(math.log(scaled / base) / math.log(args.replicas), 3)
                if base and scaled and args.replicas > 1
                else None
            )
            return {"sf01": base, f"sf{args.replicas}x": scaled, "ratio": ratio,
                    "exponent": exponent}

        out = {n: _entry(t01[n], tr[n]) for n in names}

        flights = sorted(FLIGHT_QUERIES & {n for n, q in CATALOG.items() if q.bench})
        if args.headline:
            fdir = os.path.join(work, "flights_scaled")
            build_scaled_flights_fixture(fdir, args.replicas)
            for fq in flights:
                base = _time_flight_subprocess(fq, None, args.rounds)
                scaled = _time_flight_subprocess(fq, fdir, args.rounds)
                out[fq] = _entry(base["sec"], scaled["sec"])
                out[fq]["fixture_scaled"] = True

        #: super-linear beyond noise: exponent > 1.15 gets flagged for
        #: plan follow-up (sub-linear is expected for fixed-output /
        #: fixed-group queries — broadcast sides and result sizes that
        #: do not grow with the corpus).
        flagged = [
            n for n, e in out.items() if e["exponent"] is not None and e["exponent"] > 1.15
        ]
        print(
            json.dumps(
                {
                    "metric": "scale_curvature",
                    "replicas": args.replicas,
                    "queries": out,
                    "flagged_superlinear": flagged,
                    "calibration": {"sf01": cal01, f"sf{args.replicas}x": calr},
                }
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
