"""``catalog_stream``: the engine's serving side in one session — one pass
over the catalog subset (``wl_catalog``), then one drain of the three
streaming paths (``wl_stream``) over landed events.

One unit is a pass plus a drain, and its operations are the pass's
query executions and the drain's micro-batches, so ``wall_s`` and
``op_p50_ms`` move with either part.  The detail line keeps each part's
own figures (``catalog_total_s``, ``catalog_query_p50_ms``,
``stream_drain_s``, ``stream_batch_p50_ms``, ``stream_rows_per_s``).
The two parts share a workload because three workloads' runs do not fit
the benchmark's time budget: each run pays a cold Spark start of about
13 s, and a ``medallion_batch`` run alone takes about 55 s.
"""

from __future__ import annotations

import statistics
import time
from types import SimpleNamespace

import wl_catalog
import wl_stream


def make_inputs(spark, work: str, seed: int) -> SimpleNamespace:
    catalog = wl_catalog.make_inputs(spark, work, seed)
    stream = wl_stream.make_inputs(spark, work, seed)
    return SimpleNamespace(catalog=catalog, stream=stream, setup_s=catalog.setup_s + stream.setup_s)


def run(spark, tracer, inputs, seed: int, seconds: float, pins: dict) -> dict:
    walls, latencies, failures, parts, layer_runs = [], [], [], [], []
    attempted = failed = 0
    t_end = time.perf_counter() + seconds
    while not walls or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        with tracer.span("catalog_stream") as unit:
            cat = wl_catalog.run(spark, tracer, inputs.catalog, seed, 0.0, pins)
            st = wl_stream.run(spark, tracer, inputs.stream, seed, 0.0, pins)
        walls.append(time.perf_counter() - t0)
        latencies += cat["op_latencies_s"] + st["op_latencies_s"]
        attempted += cat["attempted"] + st["attempted"]
        failed += cat["failed"] + st["failed"]
        failures += cat["failures"] + st["failures"]
        parts.append((cat, st))
        if tracer.enabled:
            c = tracer.counters(unit)
            layer_runs.append(
                {
                    **cat["layers"],
                    **st["layers"],
                    "spark.task_retry_ratio": c["task_attempts_failed"] / max(1, c["tasks"]),
                    "spark.stage_skip_ratio": c["stages_skipped"] / max(1, c["stages"]),
                    "trace.wall_s": walls[-1],
                }
            )

    def p50_ms(values):
        return statistics.median(values) * 1000.0 if values else None

    detail = {
        "catalog": parts[0][0]["detail"],
        "stream": parts[0][1]["detail"],
        "catalog_total_s": statistics.median(c["unit_walls_s"][0] for c, _ in parts),
        "catalog_query_p50_ms": p50_ms([x for c, _ in parts for x in c["op_latencies_s"]]),
        "stream_drain_s": statistics.median(s["unit_walls_s"][0] for _, s in parts),
        "stream_batch_p50_ms": p50_ms([x for _, s in parts for x in s["op_latencies_s"]]),
        "stream_rows_per_s": statistics.median(s["detail"]["stream_rows_per_s"] for _, s in parts),
    }
    return {
        "unit_walls_s": walls,
        "op_latencies_s": latencies,
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "detail": detail,
        "layers": {k: statistics.median(r[k] for r in layer_runs) for k in layer_runs[0]} if layer_runs else {},
    }
