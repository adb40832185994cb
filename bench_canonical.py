#!/usr/bin/env python
"""Pinned vs materialized canonical universes (r11 verdict task 7).

Measures the per-query cost of the derive-and-pin universe path against
scanning the materialized silver tables (pipelines/canonical.py) for
the main universe consumers, under the shared steady-by-construction
policy.  Prints ONE JSON line; the committed numbers live in
docs/PLANS.md ("the pin cost disappears when the universe is
materialized").
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

QUERIES = [
    "embedding_knn_lsh",
    "embedding_knn_ivf",
    "doc_minhash_near_dups",
    "doc_neardup_representatives",
    "doc_contamination_overlap",
    "doc_curation_pipeline",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import time_catalog
    from unicargo_medallion_data_pipeline_spark.pipelines import canonical
    from unicargo_medallion_data_pipeline_spark.plans import universes
    from unicargo_medallion_data_pipeline_spark.session import get_spark

    spark = get_spark("bench-canonical")
    spark.sparkContext.setLogLevel("ERROR")

    # Every pinned attempt must PAY the derive-and-pin cost this harness
    # exists to compare (r12 advice): with the session-keyed cache left
    # warm, every attempt after the first is a cache hit and
    # min-of-rounds discards the only one that derived.
    os.environ.pop(canonical.CANONICAL_DIR_ENV, None)
    pinned, cal_p = time_catalog(
        spark, sf_dir, QUERIES, n_rounds=3, before=lambda n: universes.clear_universe_cache()
    )

    out = tempfile.mkdtemp(prefix="canon_bench_")
    t0 = time.perf_counter()
    canonical.materialize_canonical(spark, sf_dir, out)
    mat_cost = round(time.perf_counter() - t0, 3)
    os.environ[canonical.CANONICAL_DIR_ENV] = out
    silver, cal_s = time_catalog(spark, sf_dir, QUERIES, n_rounds=3)
    os.environ.pop(canonical.CANONICAL_DIR_ENV, None)

    print(
        json.dumps(
            {
                "metric": "canonical_pin_vs_materialized",
                "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
                "materialize_once_sec": mat_cost,
                "queries": {
                    n: {
                        "pinned": pinned[n],
                        "materialized": silver[n],
                        "ratio": round(silver[n] / pinned[n], 2) if pinned[n] else None,
                    }
                    for n in QUERIES
                },
                "calibration": {"pinned": cal_p, "materialized": cal_s},
            }
        )
    )


if __name__ == "__main__":
    main()
