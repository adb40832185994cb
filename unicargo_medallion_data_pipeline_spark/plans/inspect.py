"""Plan introspection: the exchange/scan census as a reusable utility.

The engine's scale discipline is enforced by reading physical plans —
docs/PLANS.md records a census per query batch, and tests/test_plans.py
pins the shapes.  This module makes that census a first-class API so
users (and future tests) can assert the same properties on their own
compositions::

    from unicargo_medallion_data_pipeline_spark.plans.inspect import plan_census
    c = plan_census(df)
    assert c["cartesian_products"] == 0
    assert c["keyed_exchanges"] <= 2

Counts come from ``explain("formatted")`` — stable across Spark
3.5/4.x renderings (same convention as the test suite).  ``scans``
counts PHYSICAL source scans (the formatted output lists each node in
both the tree and the detail section; this utility reports the
deduplicated number).
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def plan_text(df: DataFrame) -> str:
    """The formatted physical plan as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_census(df: DataFrame) -> dict:
    """Count the scale-relevant operators in ``df``'s physical plan.

    Keys: ``keyed_exchanges`` (shuffles excluding broadcasts),
    ``broadcast_exchanges``, ``cartesian_products``,
    ``broadcast_nested_loop_joins`` (usually 1-row scalar broadcasts),
    ``scans`` (physical source scans), ``window_execs``, and
    ``has_take_ordered`` (top-k without a global sort).

    Codegen is deliberately NOT here: under AQE, ``explain("formatted")``
    output contains no whole-stage-codegen annotations at all (neither
    ``WholeStageCodegen (`` headers nor ``codegen id`` tags), so a
    compile-time census can only ever report 0 — the r9 review found the
    old ``whole_stage_codegen_spans`` field had recorded 0 for all 203
    catalog queries since its introduction.  Codegen spans are real only
    in the EXECUTED plan; use :func:`executed_codegen_spans`.
    """
    p = plan_text(df)
    # Tree nodes are rendered as "Name (id)"; the detail section repeats
    # each as "(id) Name" — count tree form only for node tallies.
    return {
        "keyed_exchanges": p.count("Exchange (") - p.count("BroadcastExchange ("),
        "broadcast_exchanges": p.count("BroadcastExchange ("),
        "cartesian_products": p.count("CartesianProduct ("),
        "broadcast_nested_loop_joins": p.count("BroadcastNestedLoopJoin ("),
        # File-source scans only: checkpoint reads render as "Scan
        # ExistingRDD" and are deliberately excluded (they are the
        # evidence a pin WORKED, not a re-read of the lake).
        "scans": len(
            re.findall(
                r"^\(\d+\) Scan (?:parquet|orc|csv|json|text|binaryFile)",
                p,
                flags=re.M,
            )
        ),
        # Checkpoint reads — counting them pins the pin itself: a
        # dropped localCheckpoint (universe re-derived per branch) or a
        # substituted source both move this number (r11 ADVICE item 3).
        "rdd_scans": len(re.findall(r"^\(\d+\) Scan ExistingRDD", p, flags=re.M)),
        "window_execs": p.count("Window ("),
        "has_take_ordered": "TakeOrderedAndProject" in p,
    }


def executed_plan_text(df: DataFrame) -> str:
    """Execute ``df`` and return its FINAL (post-AQE) physical plan
    string — the only rendering where whole-stage-codegen ``*(n)``
    markers appear under AQE.

    ``collect()`` drives the DataFrame's OWN QueryExecution (a write or
    ``count()`` would wrap the plan in a new one), after which
    ``executedPlan().toString()`` renders ``isFinalPlan=true`` with
    codegen stars on every codegen-participating node.  Only the Final
    Plan section carries stars (the echoed Initial Plan does not), so
    counting over the whole string is safe.
    """
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def codegen_spans_from_text(plan: str) -> int:
    """Distinct whole-stage-codegen span ids in an executed-plan string."""
    return len(set(re.findall(r"\*\((\d+)\)", plan)))


def executed_codegen_spans(df: DataFrame) -> int:
    """Number of distinct whole-stage-codegen spans in the EXECUTED
    plan (runs the query).  The regression signal: an expression falling
    out of codegen into interpreted eval splits or removes a span, which
    trips snapshot equality in the fingerprint net — exactly what the
    dead compile-time metric could never do (round-10 verdict task 1).
    """
    return codegen_spans_from_text(executed_plan_text(df))


def collect_with_codegen_spans(df: DataFrame) -> tuple[list, int]:
    """Collect ``df`` once and return ``(rows, codegen_spans)`` from the
    same execution — the fingerprint net needs both the result (for the
    result hash) and the final-plan codegen census, and running the
    query twice would double the snapshot-regeneration cost."""
    rows = df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return rows, codegen_spans_from_text(plan)


def main(argv=None) -> None:
    """``python -m unicargo_medallion_data_pipeline_spark.plans.inspect
    OUT_DIR before|after [NAMES...]``: write the formatted plan of every
    bench catalog query (or only NAMES) at $SPARK_GRAFT_SF_DIR to
    ``OUT_DIR/<name>_<suffix>.txt``, for before/after plan diffs."""
    import os
    import sys

    from unicargo_medallion_data_pipeline_spark.plans.all import CATALOG
    from unicargo_medallion_data_pipeline_spark.session import get_spark

    out_dir, suffix, *only = sys.argv[1:] if argv is None else argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    for name in only or [n for n, q in CATALOG.items() if q.bench]:
        try:
            plan = plan_text(CATALOG[name].fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — the dump records it
            plan = f"ERROR building plan: {e}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(name, "->", f"{name}_{suffix}.txt")


if __name__ == "__main__":
    main()
