"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``unicargo_medallion_data_pipeline_spark`` package; this file
only adapts the catalog to the driver's calling convention.

Window rotation (driver samples the FIRST 50 entries of ``queries()``):
the ordering is DERIVED from the committed ``CORRECTNESS_r*.json``
artifacts, never hand-maintained.  The r7 rotation was two ~200-line
name literals (`_PRIORITY`/`_TAIL`) whose upkeep was the most
error-prone artifact in the repo — a typo silently dropped a query from
the window (the r7 "typo'd CLI names" false-PASS was exactly this
defect class).  Now each query's verified rounds are parsed from the
artifacts and the window is computed:

1. Active ``_FORCE_WINDOW`` entries — queries whose PLAN changed in
   round ``_FORCE_WINDOW[name]`` and have NO green driver row from a
   round >= that change.  A green row at or after the change round
   DRAINS the entry automatically (r11 ADVICE: a static force list
   larger than the window re-ran the same head forever while the tail
   backlog never entered the sample).  Ordering: ascending change
   round, then insertion order — so the oldest backlog drains first.
2. Never-driver-verified queries (any new registration), catalog order.
3. Everything else, stalest first: ascending last-green round, then
   ascending number of green rounds, then name.

``tests/test_entry_contract.py`` asserts the ordering is a permutation
of the catalog and that the window holds exactly the stalest entries.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Make the repo importable regardless of the driver's cwd.
_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from unicargo_medallion_data_pipeline_spark.plans.all import CATALOG  # noqa: E402

#: name -> round whose changes invalidated the old green rows.  An
#: entry is ACTIVE (forced to the window head) until a green driver
#: row exists from a round >= that value, then it drains and may be
#: pruned at leisure.  Add entries whenever a catalog query's
#: semantics/plan change; never remove one that has not drained.
_FORCE_WINDOW: dict[str, int] = {
    # r14 housekeeping: the 116 drained r11-r13 entries were pruned
    # (each had a committed green driver row at/after its change round
    # — verified mechanically via _active_forced before pruning); only
    # ACTIVE entries remain below.  Drained entries may always be
    # pruned: their invalidation is already answered by the artifacts.
    #
    # r14 verdict task 4: snaps dedup pinned once (localCheckpoint)
    # instead of re-executing per batch filter — plan shape changed
    # (scans -> rdd_scans), values unchanged.  Re-forced r15: the
    # classification join went full-outer (untouched current rows ride
    # it; the second current-partition scan, the anti-join and the
    # redundant writer pin are gone) — values re-proven at sf0.001 +
    # sf0.01 + hostile seeds.  NB comments in this dict must avoid
    # apostrophes/quotes: the textual parser in
    # plans/fingerprints.py::_force_window_names reads any quoted
    # span as a name.
    # Re-forced r16: bootstrap NULL-ts probe folded into the bootstrap
    # write action (raise_error in-plan, translated back to the
    # canonical ValueError) and the gate read is bounded with a direct-
    # aggregate fallback.  Values re-proven at both SFs + hostile seeds.
    "scd2_as_of_snapshot": 16,
    # r16 optimization round: per-batch signature writes land in their
    # own partition dir of the maintained table; pair joins read the
    # frozen on-disk state inside ONE final action (both payload
    # localCheckpoints and the per-batch pair pins removed).  Values
    # re-proven at sf0.001 + sf0.01 + empty + fresh hostile seeds.
    "doc_minhash_incremental_near_dups": 16,
    # r16: the ANN frozen constants (IVF/PQ codebooks, LSH planes) were
    # moved to one-row broadcast frames mid-round and then REVERTED to
    # the r15 literal-expression forms after measurement (the 1-row
    # BNLJ copies the const arrays onto every corpus row — a per-row
    # cost that grows with the corpus — while the literal parse it
    # saves is ~5 ms; see OPTIMIZATION_r16.md).  Plans are back to the
    # r15 shapes, but the churn means the driver should re-verify the
    # family; values re-proven at both SFs + empty + fresh hostile
    # seeds in BOTH states.
    "embedding_pq_adc_knn": 16,
    "embedding_pq_rerank_knn": 16,
    "embedding_ivfadc_knn": 16,
    "embedding_knn_ivf": 16,
    "embedding_knn_ivf_incremental": 16,
    "embedding_knn_lsh": 16,
    "embedding_hard_negatives": 16,
    "embedding_mutual_nn_pairs": 16,
    "embedding_knn_label_accuracy": 16,
    "embedding_rrf_fusion": 16,
    # r14 10x scale sweep: one-file-per-bucket write + size-scaled
    # bucket count — the warm join now skips its per-query sorts
    # (census/hash unchanged at sf0.001; execution path changed).
    "orders_lineitem_bucketed_join": 14,
    # r15 optimization round: plan shapes changed, values proven
    # identical against the oracle at sf0.001 + sf0.01 before commit.
    # pagerank: per-iteration localCheckpoint dropped for bounded
    # unrolls (checkpoint cadence) — lineage now inline in the plan.
    "nation_trade_pagerank": 15,
    # corpus shared-gram aggregate: count(DISTINCT doc_id)>=2 replaced
    # by min(doc_id)!=max(doc_id) — one exchange instead of two (r15).
    # Re-forced r16: join-free shape — the exploded instances shuffle
    # by gram once and a window min(doc_id)/max(doc_id) over each gram
    # group marks shared grams, replacing the localCheckpoint pin, the
    # corpus aggregate and the join back (census: 1 scan, 0 joins, 1
    # window exec).  Values re-proven at both SFs + hostile seeds.
    "doc_duplicate_ngram_rate": 16,
    # distinct-then-aggregate fused into one collect_set aggregate —
    # one exchange instead of two.
    "doc_inverted_index": 15,
    # single-scan form: shared user_id exchange feeds dedup aggregate +
    # cohort window; the first-touch/activity join is gone.
    "user_weekly_retention": 15,
    # r17: build_dim_date generates its rows from a Range scan and date
    # functions instead of a driver-side row list (no RDD scan, no
    # Python worker); rows, names and types unchanged, result hash
    # unchanged.  Values re-proven at both SFs + hostile seeds.
    "generated_dim_date": 17,
}

#: Driver sample-window size (the correctness harness samples this many
#: entries from the head of ``queries()``).
_WINDOW = 50


def _is_green(row: dict) -> bool:
    """One driver row counts as green iff nothing it measured failed.
    Non-SQL queries lack hash/schema fields (rows-only check) — absent
    fields never fail, ``False`` always does."""
    return (
        bool(row.get("rows_match"))
        and row.get("err") is None
        and row.get("schema_match") in (True, None)
        and row.get("hash_match") in (True, None)
    )


#: A CORRECTNESS artifact must look like a COMPLETE driver run before it
#: may contribute green rows: the driver writes ~_WINDOW entries, each a
#: dict with at least a rows_match field.  A truncated / partial /
#: foreign working-tree file (r8 ADVICE item 3) would otherwise silently
#: mark queries fresh and rotate them OUT of the verification window.
_MIN_ARTIFACT_ROWS = 40


def _plausible_artifact(data) -> bool:
    return (
        isinstance(data, dict)
        and len(data) >= _MIN_ARTIFACT_ROWS
        and all(
            isinstance(row, dict) and "rows_match" in row
            for row in data.values()
        )
    )


def verified_rounds() -> dict[str, list[int]]:
    """name → sorted rounds with a green driver row, parsed from the
    committed CORRECTNESS_r{N}.json artifacts next to this file."""
    out: dict[str, set[int]] = {}
    for path in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)\.json$", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue  # unreadable artifact: contributes no green rows
        if not _plausible_artifact(data):
            continue  # partial/foreign file must not reshape the window
        for name, row in data.items():
            if _is_green(row):
                out.setdefault(name, set()).add(rnd)
    return {n: sorted(rs) for n, rs in out.items()}


def _active_forced(seen: dict[str, list[int]]) -> list[str]:
    """_FORCE_WINDOW entries still awaiting a green driver row from a
    round >= their change round, oldest change first (then insertion
    order — dicts preserve it) so the backlog drains front-to-back."""
    order = {n: i for i, n in enumerate(_FORCE_WINDOW)}
    active = [
        n
        for n, changed in _FORCE_WINDOW.items()
        if n in CATALOG and not (seen.get(n) and seen[n][-1] >= changed)
    ]
    return sorted(active, key=lambda n: (_FORCE_WINDOW[n], order[n]))


def _ordered_names() -> list[str]:
    seen = verified_rounds()
    forced = _active_forced(seen)
    placed = set(forced)
    never = [n for n in CATALOG if n not in seen and n not in placed]
    placed.update(never)
    rest = sorted(
        (n for n in CATALOG if n not in placed),
        key=lambda n: (seen[n][-1], len(seen[n]), n),
    )
    return forced + never + rest


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return CATALOG["pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator/query from SURVEY.md §2."""
    return {name: CATALOG[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for every SQL-expressible query."""
    return {
        name: CATALOG[name].sql
        for name in _ordered_names()
        if CATALOG[name].sql is not None
    }
