"""Recompute ``pins.json``, the expected outputs the benchmark checks.

    python3 perfbench/pin.py

* ``query_catalog``: for each of ``wl_catalog.VARIANTS`` generated table
  sets, every ``bench=True`` query's fingerprint (row count and content
  hash, see ``outputs.py``), taken the way a benchmark run takes it.
  Where the catalog has oracle SQL, the Spark result is first compared
  with DuckDB's over the same files (``oracle.compare_query``).  The
  verdict is stored under ``oracle``; a query DuckDB disagrees with is
  left unpinned, so the benchmark counts it as failed.
* ``medallion``: for each of ``wl_medallion.VARIANTS`` input sets, the
  fingerprint of ``fact_flight`` and of every gold table after one
  pipeline run.

``stream_ingest`` needs no pins: its sinks are checked against batch
twins computed in the same run.
"""

from __future__ import annotations

import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(_HERE)


def catalog_pins(spark, work: str) -> tuple[dict, dict]:
    from unicargo_medallion_data_pipeline_spark import oracle
    from spans import Tracer

    import wl_catalog

    tracer = Tracer(spark, enabled=False)
    pins, verdicts = {}, {}
    for variant in range(wl_catalog.VARIANTS):
        sf_dir = wl_catalog.make_inputs(spark, os.path.join(work, f"catalog-v{variant}"), variant).sf_dir
        con = oracle.duckdb_connection(sf_dir)
        got, verdict = pins.setdefault(str(variant), {}), verdicts.setdefault(str(variant), {})
        for name, q in sorted(wl_catalog.bench_queries().items()):
            if q.sql is None:
                verdict[name] = "no oracle SQL"
            else:
                res = oracle.compare_query(spark, con, name, q.fn, q.sql, sf_dir)
                verdict[name] = ("match: " if res.ok else "MISMATCH: ") + res.detail
                if not res.ok:
                    continue
            got[name] = wl_catalog.execute(spark, tracer, name, q.fn, sf_dir)["out"]
            print(variant, name, verdict[name], got[name], flush=True)
        con.close()
    return pins, verdicts


def medallion_pins(spark, work: str) -> dict:
    import wl_medallion
    from datagen import write_flights_csvs
    from spans import Tracer

    tracer = Tracer(spark, enabled=False)
    out = {}
    for variant in range(wl_medallion.VARIANTS):
        paths = write_flights_csvs(os.path.join(work, f"csv-v{variant}"), variant, wl_medallion.ROWS, wl_medallion.DAYS)
        _, _, result = wl_medallion.run_once(spark, tracer, paths, work)
        out[str(variant)] = wl_medallion.fingerprints(spark, result)
        print("variant", variant, out[str(variant)]["fact_flight"], flush=True)
    return out


def main() -> int:
    os.environ["TZ"] = "UTC"  # collect() renders timestamps in the process zone; DuckDB's are UTC
    time.tzset()
    sys.path[:0] = [ROOT, _HERE]
    from common import spark_session

    with spark_session(ROOT, "perfbench-pin", 4) as (spark, work, _):
        catalog, verdicts = catalog_pins(spark, work)
        medallion = medallion_pins(spark, work)
    with open(os.path.join(_HERE, "pins.json"), "w") as fh:
        json.dump({"query_catalog": catalog, "oracle": verdicts, "medallion": medallion}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    bad = [(k, n) for k, vs in verdicts.items() for n, v in vs.items() if v.startswith("MISMATCH")]
    print("oracle mismatches:", bad or "none")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
