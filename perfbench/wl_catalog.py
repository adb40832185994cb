"""``query_catalog``: catalog queries run serially by one client over
seeded generated tables.

A run measures :func:`subset`: six of the 27 ``bench=True`` queries,
one from each layer family of ``layers.json``.  One cold pass
over all 27 takes about 65 s at ``local[4]``, more than a run's share of
the benchmark's time budget.  ``all_queries=True`` runs all 27 (the
committed per-query ranking uses it).

One operation is one query execution: the query function builds the
DataFrame (including any eager pins it makes), then a ``noop``-format
write materializes every row and column of the result.  ``count()`` is
not used, because Catalyst prunes the aggregates a count does not need.
The same job observes the result's row count and content hash, which
must equal the values pinned for the generated tables.  The seed picks
one of :data:`VARIANTS` generated table sets, each with its own pins.
The query order is fixed (by name): with a seeded order the one-time
costs of a cold session (first Python worker, first codegen of each
operator) land on different queries in each run, and the per-query
median moved by 15% between seeds.
"""

from __future__ import annotations

import json
import os
import time
from types import SimpleNamespace

from common import Clock
from outputs import observe, observed

#: Distinct generated table sets; ``--seed`` picks one.  Each has pins.
VARIANTS = 4

_HERE = os.path.dirname(os.path.abspath(__file__))


def _spec() -> dict:
    with open(os.path.join(_HERE, "layers.json")) as fh:
        return json.load(fh)["query_catalog"]


def families() -> dict[str, str]:
    """Query name → layer family, from ``layers.json``."""
    return {q: fam for fam, names in _spec()["families"].items() for q in names}


def subset() -> list[str]:
    """The queries a benchmark run measures, from ``layers.json``."""
    return _spec()["measured"]


def bench_queries() -> dict:
    from unicargo_medallion_data_pipeline_spark.plans.all import CATALOG

    return {n: q for n, q in CATALOG.items() if q.bench}


def make_inputs(spark, work: str, seed: int) -> SimpleNamespace:
    """Write the variant's tables; ``setup_s`` is the write time."""
    from datagen import write_catalog_tables

    sf_dir = os.path.join(work, "tables")
    with Clock() as c:
        write_catalog_tables(sf_dir, seed % VARIANTS)
    return SimpleNamespace(sf_dir=sf_dir, setup_s=c.s)


class PlanPhases:
    """Planning time of the query executions Spark reports, from a JVM
    ``QueryExecutionListener`` implemented in Python over the py4j
    callback server.  The listener sees the ``QueryExecution`` that the
    noop write actually ran, so its phase tracker holds that run's own
    analysis (of the write command; the query was analysed when ``fn()``
    built it), optimization and planning, and tracing adds no planning
    pass.  Planning happens inside the write call, so it is part of
    ``exec_s``.  Adaptive re-planning during execution is not a tracker
    phase and stays in ``exec_s`` only."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self._manager = spark._jsparkSession.listenerManager()
        self._ms: list[float] = []
        self._manager.register(self)

    def _record(self, qe) -> None:
        phases = qe.tracker().phases()
        self._ms.append(float(sum(phases.get(p).get().durationMs() for p in self.PHASES if phases.contains(p))))

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - JVM interface method
        self._record(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - JVM interface method
        self._record(qe)

    def take(self) -> float:
        """Planning ms of the executions reported since the last call
        (the caller drains the listener bus first)."""
        ms, self._ms = sum(self._ms), []
        return ms

    def close(self) -> None:
        self._manager.unregister(self)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def execute(spark, tracer, name: str, fn, sf_dir: str, phases: PlanPhases | None = None) -> dict:
    """Build + materialize one query; returns its timings and fingerprint.
    With tracing, ``phases`` supplies the write's planning time."""
    with tracer.span(f"query:{name}"):
        with tracer.span("build") as b:
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
        rec = {"build_s": t1 - t0}
        if phases is not None:
            phases.take()  # executions of the build (eager pins) are build_s
        with tracer.span("exec") as e:
            t2 = time.perf_counter()
            odf, obs = observe(df)
            odf.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
        rec["exec_s"] = t3 - t2
        rec["latency_s"] = (t1 - t0) + (t3 - t2)
        rec["out"] = observed(obs)
    if tracer.enabled:
        rec["plan_ms"] = phases.take()  # the exec span's close drained the listener bus
        rec["build_jobs"] = tracer.counters(b)["jobs"]
        c = tracer.counters(e)
        rec.update(
            jobs=c["jobs"],
            tasks=c["tasks"],
            shuffle_bytes=c["shuffle_write_bytes"],
            spill_bytes=c["spill_bytes"],
            stages_skipped=c["stages_skipped"],
            stages=c["stages"],
            task_attempts_failed=c["task_attempts_failed"],
        )
    return rec


FAMILY_METRICS = ("build_s", "build_jobs", "plan_ms", "exec_s", "jobs", "tasks", "shuffle_bytes", "spill_bytes")


def dominant(rec: dict) -> str:
    """The largest of build, plan and exec, where exec counts the write
    without its planning (``exec_s`` includes ``plan_ms``)."""
    plan_s = rec["plan_ms"] / 1000.0
    parts = {"build": rec["build_s"], "plan": plan_s, "exec": rec["exec_s"] - plan_s}
    return max(parts, key=parts.get)


def run(spark, tracer, inputs, seed: int, seconds: float, pins: dict, all_queries: bool = False) -> dict:
    sf_dir = inputs.sf_dir
    queries = bench_queries()
    if not all_queries:
        queries = {n: queries[n] for n in subset()}
    fam = families()
    want = pins.get("query_catalog", {}).get(str(seed % VARIANTS), {})
    passes, latencies, failures, traced = [], [], [], []
    attempted = 0
    phases = PlanPhases(spark) if tracer.enabled else None
    t_end = time.perf_counter() + seconds
    while not passes or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        per_query = {}
        for name in sorted(queries):
            attempted += 1
            try:
                rec = execute(spark, tracer, name, queries[name].fn, sf_dir, phases)
            except Exception as e:  # noqa: BLE001 - a failed query is counted, not fatal
                failures.append({"op": name, "error": f"{type(e).__name__}: {e}"[:300]})
                continue
            latencies.append(rec["latency_s"])
            if rec["out"] != want.get(name):
                failures.append({"op": name, "got": rec["out"], "want": want.get(name)})
            per_query[name] = rec
        passes.append(time.perf_counter() - t0)
        traced.append(per_query)
    if phases is not None:
        phases.close()
    out = {
        "unit_walls_s": passes,
        "op_latencies_s": latencies,
        "attempted": attempted,
        "failed": len(failures),
        "failures": failures,
        "detail": {"variant": seed % VARIANTS, "passes": len(passes), "queries": len(queries)},
        "layers": {},
    }
    if tracer.enabled:
        first = traced[0]
        layers = {}
        for family in sorted(set(fam.values())):
            recs = [r for q, r in first.items() if fam.get(q) == family]
            for m in FAMILY_METRICS:
                layers[f"{family}.{m}"] = sum(r[m] for r in recs)
        tot_tasks = sum(r["tasks"] for r in first.values())
        tot_stages = sum(r["stages"] for r in first.values())
        layers["spark.task_retry_ratio"] = sum(r["task_attempts_failed"] for r in first.values()) / max(1, tot_tasks)
        layers["spark.stage_skip_ratio"] = sum(r["stages_skipped"] for r in first.values()) / max(1, tot_stages)
        layers["trace.wall_s"] = passes[0]
        out["layers"] = layers
        out["detail"]["ranking"] = sorted(
            (
                {
                    "query": q,
                    "family": fam.get(q),
                    "dominant": dominant(r),
                    **{k: r[k] for k in FAMILY_METRICS},
                }
                for q, r in first.items()
            ),
            key=lambda x: -(x["build_s"] + x["exec_s"]),
        )
    return out
