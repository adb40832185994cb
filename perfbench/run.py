"""Benchmark entry point: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload catalog_stream --seed 1 --seconds 5 --trace 0

Run from the repository root.  A run repeats whole units of work (one
pipeline run, one pass over the queries, one drain, or a pass plus a
drain) until ``--seconds`` have passed, at least one; each unit takes
longer than the 5 s ``BENCHMARK.json`` sets, so a benchmark run
measures exactly one.  The last line of standard output is the result
object ``{"correct", "attempted", "failed", "metrics"}``; the
line before it is the run's detail (host/config fingerprint, sample
counts, the supported tail percentile, failures, and with ``--trace 1``
the per-query ranking).  ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics of a traced run (every metric named
in ``BENCHMARK.json``; a layer the workload does not exercise reads 0).
``--detail PATH`` also writes the detail, metrics and spans to a JSON
file, the input of ``perfbench/compare.py``.  ``--all-queries`` runs
every ``bench=True`` catalog query instead of the measured subset (used
for the committed per-query ranking, not by the benchmark runs).

A failed operation is counted, not fatal.  If no unit of work finished,
there is no time to report: the result line is still printed, with
``correct`` false and only the metrics that were measured, and the exit
code is 1.

Every file the run writes (inputs, Spark warehouse, shuffle and temp
files) lives under ``.perfbench_work/`` in the repository root and is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(_HERE)

#: ``BENCHMARK.json`` lists ``medallion_batch`` and ``catalog_stream``;
#: the two parts of ``catalog_stream`` also run alone, by hand.
WORKLOADS = ("medallion_batch", "catalog_stream", "query_catalog", "stream_ingest")
CPUS = 4


def load_json(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def spec() -> dict:
    return load_json(os.path.join(ROOT, "BENCHMARK.json"))


def pins() -> dict:
    return load_json(os.path.join(_HERE, "pins.json"))


def workload_module(name: str):
    import wl_catalog
    import wl_catalog_stream
    import wl_medallion
    import wl_stream

    return {
        "medallion_batch": wl_medallion,
        "catalog_stream": wl_catalog_stream,
        "query_catalog": wl_catalog,
        "stream_ingest": wl_stream,
    }[name]


def end_to_end(out: dict, setup_s: float, rss: dict) -> dict:
    """The user-visible metrics of one run (meanings per workload in
    ``layers.json``).  The timing metrics are left out when no unit of
    work finished."""
    from statistics import median

    from common import supported_tail

    values = {"setup_s": setup_s, "peak_rss_mb": rss["driver"] + rss["jvm"]}
    lat_ms = [s * 1000.0 for s in out["op_latencies_s"]]
    out["detail"]["units"] = len(out["unit_walls_s"])
    if not lat_ms or not out["unit_walls_s"]:
        return values
    tail, p, n = supported_tail(lat_ms)
    out["detail"]["op_tail"] = {"value_ms": tail, "percentile": p, "samples": n}
    values.update(wall_s=median(out["unit_walls_s"]), op_p50_ms=median(lat_ms))
    return values


def measure(
    spark, workload: str, seed: int, seconds: float, trace: bool, work: str, session_s: float = 0.0, **options
) -> tuple[dict, dict, object]:
    """Make the workload's inputs and run its measured window on an open
    session (``session_s`` is what opening it took, part of ``setup_s``).
    Returns ``(result, detail, tracer)`` where ``result`` is the object
    the benchmark prints last.  ``options`` go to the workload's ``run``
    (``all_queries`` for the catalog)."""
    from common import cpu_seconds, cpu_ticks, rss_mb
    from spans import Tracer

    module = workload_module(workload)
    inputs = module.make_inputs(spark, work, seed)
    tracer = Tracer(spark, enabled=trace)
    steal0, total0 = cpu_ticks()
    cpu0 = cpu_seconds()
    out = module.run(spark, tracer, inputs, seed, seconds, pins(), **options)
    cpu1 = cpu_seconds()
    steal1, total1 = cpu_ticks()
    rss = rss_mb()
    bench = spec()
    if trace:
        names = [m["name"] for m in bench["per_layer"]]
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        extra = sorted(set(out["layers"]) - set(names))
        if extra:
            raise RuntimeError(f"layer metrics missing from BENCHMARK.json: {extra}")
        values = {n: out["layers"].get(n, 0) for n in names}
    else:
        values = end_to_end(out, session_s + inputs.setup_s, rss)
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    metrics = {n: {"value": float(v), "unit": units[n]} for n, v in values.items()}
    complete = set(metrics) == set(units)
    detail = out["detail"]
    detail.update(
        workload=workload,
        seed=seed,
        trace=int(trace),
        inputs_s=inputs.setup_s,
        rss_mb=rss,
        cpu_steal_share=(steal1 - steal0) / max(1, total1 - total0),
        run_cpu_s=cpu1 - cpu0,
        failures=out["failures"][:20],
        complete=complete,
    )
    correct = out["failed"] == 0 and complete
    result = {"correct": correct, "attempted": out["attempted"], "failed": out["failed"], "metrics": metrics}
    return result, detail, tracer


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--detail", help="also write the run's detail, metrics and spans to this JSON file")
    ap.add_argument("--all-queries", action="store_true", help="query_catalog: run all bench queries, not the subset")
    args = ap.parse_args(argv)

    spec()  # fail before any work without BENCHMARK.json
    sys.path[:0] = [ROOT, _HERE]
    from common import cpu_probe_s, fingerprint, spark_session

    with spark_session(ROOT, f"perfbench-{args.workload}", CPUS) as (spark, work, session_s):
        options = {"all_queries": True} if args.all_queries else {}
        result, detail, tracer = measure(
            spark, args.workload, args.seed, args.seconds, bool(args.trace), work, session_s=session_s, **options
        )
        detail.update(fingerprint=fingerprint(spark, ROOT), session_s=session_s, cpu_probe_s=cpu_probe_s())
    if args.detail:
        with open(args.detail, "w") as fh:
            json.dump({"detail": detail, "result": result, "spans": tracer.dump()}, fh, indent=1, default=str)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0 if detail["complete"] else 1


if __name__ == "__main__":
    sys.exit(main())
