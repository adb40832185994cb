"""The root harness scripts: ``bench.py``'s one-JSON-line contract, the
child-result handoff, and that every root script still imports (so a
deleted or renamed script cannot leave a dangling import behind)."""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import json
import os
import subprocess
import sys

from tests.conftest import REPO, SF_SMOKE

ROOT_SCRIPTS = sorted(
    os.path.splitext(os.path.basename(p))[0] for p in glob.glob(os.path.join(REPO, "*.py"))
)

CALIBRATION_KEYS = {
    "probe_sec", "probe_anchor", "probe_median", "probe_spread", "probe_spread_all",
    "selected_window", "rounds", "extra_rounds", "steady_target",
    "master", "default_parallelism", "shuffle_partitions", "cpus_env",
}


def test_bench_py_prints_the_driver_json_line():
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF_SMOKE, SPARK_GRAFT_CPUS="2")
    env.pop("SPARK_MASTER", None)
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "pricing_summary"],
        capture_output=True, text=True, timeout=900, env=env, cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    assert len(lines) == 1, out.stdout
    rec = json.loads(lines[0])
    assert set(rec) == {"metric", "value", "unit", "queries", "sf", "calibration"}
    assert rec["metric"] == "headline_queries_total_wall" and rec["unit"] == "sec"
    assert set(rec["queries"]) == {"pricing_summary"}
    assert rec["value"] == round(sum(rec["queries"].values()), 3)
    assert rec["sf"] == 0.001
    cal = rec["calibration"]
    assert set(cal) == CALIBRATION_KEYS
    assert cal["master"] == "local[2]" and cal["cpus_env"] == "2"


def test_every_root_script_imports():
    """Each root script imports as a module, and every module any of
    them imports (also inside functions) resolves."""
    assert "bench" in ROOT_SCRIPTS and "__spark_entry__" in ROOT_SCRIPTS
    unresolved = []
    for name in ROOT_SCRIPTS:
        importlib.import_module(name)
        with open(os.path.join(REPO, f"{name}.py")) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.level == 0:
                mods = [node.module]
            else:
                continue
            unresolved += [
                f"{name}: {m}" for m in mods if importlib.util.find_spec(m.split(".")[0]) is None
            ]
    assert not unresolved, unresolved


def test_run_child_reads_the_result_file_not_stdout():
    import bench

    child = (
        "import json, sys\n"
        "print('{not the result')\n"
        "print('{\"result\": false}')\n"
        "json.dump({'result': True}, open(sys.argv[-1], 'w'))\n"
        "print('{trailing noise')\n"
    )
    assert bench.run_child(["-c", child], dict(os.environ)) == {"result": True}
