"""Summarize and compare sets of benchmark runs taken with ``run.py --detail``.

    python3 perfbench/compare.py BASE_DIR [NEW_DIR]

Each directory holds the ``--detail`` JSON files of one set of runs.  For
every workload and metric it prints the median, the quartiles and their
spread (quartile distance over the median, the share ``BENCHMARK.json``
bounds are compared with).  Given NEW_DIR it also prints the change of
each median against BASE_DIR and flags a worsening beyond the metric's
bound.  Where a set holds traced and untraced runs of a workload it
prints the tracing overhead: the traced runs' median ``trace.wall_s``
over the untraced runs' median ``wall_s``, minus one.

Results from different hosts or configurations are refused: every file's
``fingerprint.host`` and ``fingerprint.config`` must be equal.  Exit code
1 on a refusal or a worsening beyond a bound, else 0.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict

_HERE = os.path.dirname(os.path.abspath(__file__))


def load(directory: str) -> list[dict]:
    docs = []
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as fh:
            doc = json.load(fh)
        doc["path"] = path
        docs.append(doc)
    if not docs:
        raise SystemExit(f"no result files in {directory}")
    return docs


def identity(doc: dict) -> dict:
    fp = doc["detail"]["fingerprint"]
    return {"host": fp["host"], "config": fp["config"]}


def refuse_mixed(docs: list[dict]) -> None:
    first = identity(docs[0])
    for d in docs[1:]:
        if identity(d) != first:
            raise SystemExit(f"refused: {d['path']} was taken on another host or config than {docs[0]['path']}")


def stats(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def summarize(docs: list[dict]) -> dict:
    """``{(workload, trace): {metric: stats}}``."""
    series: dict = defaultdict(lambda: defaultdict(list))
    for d in docs:
        key = (d["detail"]["workload"], d["detail"]["trace"])
        for name, m in d["result"]["metrics"].items():
            series[key][name].append(m["value"])
        series[key]["failed"].append(d["result"]["failed"])
    return {k: {n: stats(v) for n, v in ms.items()} for k, ms in series.items()}


def overhead(summary: dict) -> dict:
    out = {}
    for (wl, trace), ms in summary.items():
        untraced = summary.get((wl, 0), {}).get("wall_s")
        if trace == 1 and untraced and "trace.wall_s" in ms:
            out[wl] = ms["trace.wall_s"]["median"] / untraced["median"] - 1.0
    return out


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__)
        return 2
    sets = [load(d) for d in argv]
    refuse_mixed([d for s in sets for d in s])
    with open(os.path.join(os.path.dirname(_HERE), "BENCHMARK.json")) as fh:
        bounds = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    base = summarize(sets[0])
    new = summarize(sets[1]) if len(sets) > 1 else None
    worse = []
    for key in sorted(base):
        for name, s in sorted(base[key].items()):
            if key[1] == 1 and name not in ("trace.wall_s", "failed"):
                continue
            line = f"{key[0]:16s} trace={key[1]} {name:14s} n={s['n']:2d} median={s['median']:.4g} q1={s['q1']:.4g} q3={s['q3']:.4g} spread={s['spread']:.3f}"
            if new is not None and name in new.get(key, {}):
                change = new[key][name]["median"] / s["median"] - 1.0 if s["median"] else 0.0
                line += f"  new median={new[key][name]['median']:.4g} change={change:+.3f}"
                b = bounds.get(name)
                if b and (change if b["better"] == "lower" else -change) > b["bound"]:
                    line += "  WORSE THAN BOUND"
                    worse.append((key, name))
            print(line)
    for label, summary in (("base", base), ("new", new)):
        for wl, share in sorted((overhead(summary) if summary else {}).items()):
            print(f"tracing overhead ({label}) {wl}: {share:+.3f}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
