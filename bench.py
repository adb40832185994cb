#!/usr/bin/env python
"""Benchmark harness: runs the headline queries (or the catalog queries
named on the command line) at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ..., "calibration": {...}}.

Each query is executed to completion (count() action) after a warm-up of
the session; per-query wall time includes plan + execution.

Self-evidencing against host noise: the harness VM's CPU throughput has
been observed to swing ~3x between windows (a fixed Python loop measured
0.30s vs 0.96s across rounds — docs/PLANS.md round-7 bench note), which
makes a bare wall-clock total impossible to interpret after the fact.
So the harness runs a fixed-work CPU calibration probe BEFORE the first
query round, BETWEEN rounds, and AFTER the last, and embeds every probe
timing in the output JSON.  A probe spread (max/min) near 1.0 means the
window was steady and the query timings are trustworthy; a spread above
~1.5 proves the window was noisy and the wall-clock numbers must be
discounted accordingly — the artifact carries its own evidence either
way.

Usage: python bench.py [NAMES...]
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

#: Interleaved best-of-N rounds (round-robin over all queries per round,
#: so a sustained host stall cannot swallow every attempt of one query).
N_ROUNDS = 4
#: The committed artifact must be steady by construction (round-10
#: verdict finding 2): if the probes bracketing the WINNING attempts
#: spread wider than this, re-run bounded extra rounds on a hopefully
#: quieter window before emitting.
STEADY_SPREAD = 1.35
MAX_EXTRA_ROUNDS = 4


def _cpu_probe() -> float:
    """Fixed-work, deterministic CPU probe (~0.3s on a quiet host):
    a pure-Python arithmetic loop plus a NumPy matmul chain, covering
    both the interpreter and the BLAS paths a Spark driver exercises."""
    import numpy as np

    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i * i
    a = np.random.default_rng(0).random((400, 400))
    for _ in range(8):
        a = (a @ a) * 1e-3  # rescale to keep magnitudes bounded
    # fold results into a value the optimizer cannot elide
    if s < 0 or not float(a.sum()) == float(a.sum()):
        raise AssertionError("probe arithmetic diverged")
    return time.perf_counter() - t0


def bracket_spread(rounds_used, probes: list[float]) -> float | None:
    """Spread (max/min) of the probes bracketing ``rounds_used``."""
    used = sorted({i for r in rounds_used for i in (r, r + 1)})
    vals = [probes[i] for i in used if i < len(probes)]
    return max(vals) / min(vals) if vals and min(vals) else None


def steady_selection(
    runs: dict[str, list[tuple[int, float]]],
    probes: list[float],
    bar: float = STEADY_SPREAD,
) -> dict[str, tuple[int, float]] | None:
    """Per-query winners restricted to the steadiest AND fastest window:
    rounds whose BOTH bracketing probes lie within ``bar`` of the global
    minimum probe (the cleanest host state observed — CPU-steal noise
    only ever inflates a fixed-work probe, so min(probes) is the
    faithful throughput anchor).  Returns ``{name: (round, sec)}`` with
    each query's fastest attempt inside that window, or ``None`` when
    some query has no attempt there (the caller then runs another round
    or falls back to global minima with the honest spread).  Emitted
    numbers under a non-None selection are steady BY CONSTRUCTION: the
    probes bracketing every winner are within ``bar`` of each other
    (r12 verdict task 2 — the committed artifact must not ship per-query
    ratios under a 4.8x probe spread again)."""
    if not probes:
        return None
    lim = min(probes) * bar
    rounds = {
        r
        for r in range(len(probes) - 1)
        if probes[r] <= lim and probes[r + 1] <= lim
    }
    if not rounds:
        return None
    sel: dict[str, tuple[int, float]] = {}
    for name, attempts in runs.items():
        candidates = [(r, t) for r, t in attempts if r in rounds]
        if not candidates:
            return None
        sel[name] = min(candidates, key=lambda x: x[1])
    return sel


def effective_spread(
    runs: dict[str, list[tuple[int, float]]], probes: list[float]
) -> float | None:
    """Spread (max/min) of the probes BRACKETING the rounds whose
    attempts actually won (produced each query's minimum).  This is the
    steadiness evidence for the emitted numbers specifically: a noisy
    early round whose attempts all lost to a later quiet round does not
    taint the artifact."""
    return bracket_spread(
        (min(r, key=lambda t: t[1])[0] for r in runs.values() if r), probes
    )


def run_rounds(
    names: list[str],
    attempt,
    probe,
    n_rounds: int = N_ROUNDS,
    steady: float = STEADY_SPREAD,
    max_extra: int = MAX_EXTRA_ROUNDS,
) -> tuple[dict[str, list[tuple[int, float]]], list[float], int]:
    """The measurement loop, parameterized over ``attempt(name) -> sec``
    and ``probe() -> sec`` so the retry policy is unit-testable.

    Base behavior: ``n_rounds`` interleaved rounds, the last skipping
    queries whose earlier attempts already agree within 3x.  Then, while
    no ``steady_selection`` exists (no fast-steady window yet covers
    every query), run up to ``max_extra`` full extra rounds — when the
    host quiets down, one full round inside the quiet window makes the
    selection feasible and the emitted numbers steady by construction
    (bounded: a persistently noisy host still emits global minima, with
    the honest spread recorded)."""
    probes = [probe()]
    runs: dict[str, list[tuple[int, float]]] = {n: [] for n in names}
    for rnd in range(n_rounds):
        for name in names:
            times = [t for _, t in runs[name]]
            if rnd == n_rounds - 1 and len(times) >= 2 and max(times) <= 3 * min(times):
                continue
            runs[name].append((rnd, attempt(name)))
        probes.append(probe())
    extra = 0
    while extra < max_extra:
        if steady_selection(runs, probes, steady) is not None:
            break
        rnd = n_rounds + extra
        for name in names:
            runs[name].append((rnd, attempt(name)))
        probes.append(probe())
        extra += 1
    return runs, probes, extra


def calibration_dict(
    runs: dict[str, list[tuple[int, float]]],
    probes: list[float],
    n_rounds: int,
    extra: int,
    steady: float = STEADY_SPREAD,
    sel: dict[str, tuple[int, float]] | None = None,
) -> dict:
    """The calibration block every harness embeds in its JSON."""
    probe_min = min(probes)
    if sel is not None:
        eff = bracket_spread({r for r, _ in sel.values()}, probes)
    else:
        eff = effective_spread(runs, probes)
    import statistics

    return {
        "probe_sec": [round(p, 3) for p in probes],
        # r14 verdict task 2: cross-round deltas must be probe-
        # NORMALIZED so host drift and plan regressions separate in the
        # artifacts themselves.  probe_anchor is the MINIMUM probe —
        # the window steady_selection aims the winning attempts at
        # (CPU-steal noise only inflates a fixed-work probe, so the min
        # is the cleanest host state observed; an artifact-wide median
        # would misattribute a noisy artifact's winners, e.g. r12's
        # 4.8x-spread probe list whose winners ran at the min).
        "probe_anchor": round(probe_min, 4),
        "probe_median": round(statistics.median(probes), 4),
        # spread of the probes bracketing the rounds that produced the
        # emitted numbers — the steadiness evidence for THESE numbers
        "probe_spread": round(eff, 3) if eff else None,
        # whole-run spread incl. rounds whose attempts all lost
        "probe_spread_all": round(max(probes) / probe_min, 3) if probe_min else None,
        # True = emitted numbers come from the fast-steady window
        # (steady_selection); False = no such window materialized and
        # the global minima ship with their honest (breaching) spread
        "selected_window": sel is not None,
        "rounds": n_rounds + extra,
        "extra_rounds": extra,
        "steady_target": steady,
    }


def steady_time_queries(
    names,
    attempt,
    probe=_cpu_probe,
    n_rounds: int = N_ROUNDS,
    steady: float = STEADY_SPREAD,
    max_extra: int = MAX_EXTRA_ROUNDS,
) -> tuple[dict[str, float], dict]:
    """Per-query minima + calibration under the SAME steady-by-
    construction retry policy ``main()`` uses — the shared entry point
    for every query-set harness (bench_scale/bench_skew/…), so no
    committed scale table hand-reports a probe spread above the bar
    when extra rounds could have fixed it (r11 verdict item 6)."""
    runs, probes, extra = run_rounds(
        list(names), attempt, probe, n_rounds=n_rounds, steady=steady, max_extra=max_extra
    )
    sel = steady_selection(runs, probes, steady)
    if sel is not None:
        # Steady by construction: every emitted number is a winner from
        # the fast-steady probe window (may be marginally above the
        # global minimum if that minimum sat in an unsteady bracket —
        # exactly the trade the r12 verdict asked for).
        timings = {n: round(t, 3) for n, (_, t) in sel.items()}
    else:
        timings = {n: round(min(t for _, t in r), 3) for n, r in runs.items()}
    return timings, calibration_dict(runs, probes, n_rounds, extra, steady, sel=sel)


def steady_single(
    measure,
    probe=_cpu_probe,
    steady: float = STEADY_SPREAD,
    max_attempts: int = 3,
) -> tuple[object, dict]:
    """Steady policy for SINGLE-SHOT expensive measurements (an
    end-to-end pipeline run that cannot be cheaply best-of-N'd):
    bracket each attempt with probes; while the bracket spread breaches
    the bar, re-run on a hopefully quieter window (bounded).  Returns
    (payload of the steadiest attempt, calibration dict).  A
    persistently noisy host still emits, with the honest spread."""
    probes = [probe()]
    attempts: list[tuple[object, float]] = []
    for i in range(max_attempts):
        payload = measure()
        probes.append(probe())
        lo, hi = sorted((probes[i], probes[i + 1]))
        spread = hi / lo if lo else float("inf")
        attempts.append((payload, spread))
        if spread <= steady:
            break
    best_payload, best_spread = min(attempts, key=lambda a: a[1])
    probe_min = min(probes)
    calibration = {
        "probe_sec": [round(p, 3) for p in probes],
        "probe_spread": round(best_spread, 3),
        "probe_spread_all": round(max(probes) / probe_min, 3) if probe_min else None,
        "rounds": len(attempts),
        "extra_rounds": len(attempts) - 1,
        "steady_target": steady,
    }
    return best_payload, calibration


def time_catalog(
    spark, sf_dir: str, names, n_rounds: int = N_ROUNDS
) -> tuple[dict[str, float], dict]:
    """Time a full ``count()`` of each named catalog query at ``sf_dir``
    under the steady policy (``steady_time_queries``) after one warm-up
    action.  The calibration block also records the session's
    ``master`` / ``default_parallelism`` / ``shuffle_partitions`` and
    ``$SPARK_GRAFT_CPUS``, so an artifact shows which parallelism
    produced it."""
    from unicargo_medallion_data_pipeline_spark.plans.all import CATALOG

    # Warm up the JVM + parquet footer caches with a trivial action.
    spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).count()

    def _attempt(name: str) -> float:
        t0 = time.perf_counter()
        CATALOG[name].fn(spark, sf_dir).count()
        return time.perf_counter() - t0

    timings, calibration = steady_time_queries(list(names), _attempt, n_rounds=n_rounds)
    sc = spark.sparkContext
    calibration["master"] = sc.master
    calibration["default_parallelism"] = sc.defaultParallelism
    calibration["shuffle_partitions"] = spark.conf.get("spark.sql.shuffle.partitions")
    calibration["cpus_env"] = os.environ.get("SPARK_GRAFT_CPUS")
    return timings, calibration


def run_child(argv: list[str], env: dict | None = None) -> dict:
    """Run ``python *argv RESULT_PATH`` and return the JSON object the
    child wrote to ``RESULT_PATH`` (its last argument).  The result
    travels through a file, so nothing the child or Spark prints on
    stdout can be mistaken for it."""
    import subprocess
    import tempfile

    fd, path = tempfile.mkstemp(prefix="bench_child_", suffix=".json")
    os.close(fd)
    try:
        subprocess.run(
            [sys.executable, *argv, path], env=env, check=True, capture_output=True
        )
        with open(path) as fh:
            return json.load(fh)
    finally:
        os.unlink(path)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from unicargo_medallion_data_pipeline_spark.plans.all import CATALOG
    from unicargo_medallion_data_pipeline_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Interleaved best-of-N per query, emitted from the fast-steady
    # probe window (see steady_selection): the host shows intermittent
    # CPU-steal stalls, so calibration probes bracket every round.
    names = sys.argv[1:] or [n for n, q in CATALOG.items() if q.bench]
    timings, calibration = time_catalog(spark, sf_dir, names)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
                "calibration": calibration,
            }
        )
    )


if __name__ == "__main__":
    main()
