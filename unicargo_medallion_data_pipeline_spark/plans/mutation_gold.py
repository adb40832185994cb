"""One-query-shaped projections of the MUTATION operators (SCD2,
additive rollup) so they sit under the driver's hash gate, not just
pytest.

Both operators maintain a stored table across batches; a catalog query
must be a pure ``(spark, sf_dir) → DataFrame``.  The bridge: apply a
FIXED, deterministic batch schedule (derived from the shared testdata
tables, so the oracle can re-derive it) to a session-temp table
in-plan, then project the final state.  The DuckDB oracle computes the
same end state declaratively — window SQL for SCD2 version compression,
a straight GROUP BY for the rollup — so a green row proves the
incremental maintenance path equals the from-scratch computation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unicargo_medallion_data_pipeline_spark.functions.exact import DEC, sql_dsum
from unicargo_medallion_data_pipeline_spark.operators.cleaning import canonical_dedup
from unicargo_medallion_data_pipeline_spark.operators.rollup import merge_additive_rollup
from unicargo_medallion_data_pipeline_spark.operators.scd2 import apply_scd2, as_of, scd2_frame_like
from unicargo_medallion_data_pipeline_spark.plans.catalog import register
from unicargo_medallion_data_pipeline_spark.session import session_state
from unicargo_medallion_data_pipeline_spark.sources.readers import load_table, read_parquet_or_empty
from unicargo_medallion_data_pipeline_spark.sources.staging import scratch_dir

_AS_OF = "1995-06-15"
_B1, _B2 = "1994-01-01", "1996-01-01"


@register(
    "scd2_as_of_snapshot",
    sql=f"""
    WITH snap AS (
      SELECT custkey, priority, ts FROM (
        SELECT o_custkey AS custkey, o_orderpriority AS priority,
               CAST(o_orderdate AS TIMESTAMP) AS ts,
               ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                                  ORDER BY o_orderkey NULLS LAST,
                                           o_orderpriority NULLS LAST) AS rn
        FROM orders
        WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL)
      WHERE rn = 1
    ),
    staged AS (
      SELECT *, CASE WHEN ts < TIMESTAMP '{_B1}' THEN 1
                     WHEN ts < TIMESTAMP '{_B2}' THEN 2 ELSE 3 END AS batch
      FROM snap
    ),
    surv AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY custkey, batch
                                     ORDER BY ts DESC) AS rn
        FROM staged) WHERE rn = 1
    ),
    vers AS (
      SELECT custkey, priority, ts AS effective_from,
             LEAD(ts) OVER (PARTITION BY custkey ORDER BY ts) AS effective_to
      FROM (
        SELECT *, LAG(priority) OVER (PARTITION BY custkey ORDER BY batch) AS prev,
               ROW_NUMBER() OVER (PARTITION BY custkey ORDER BY batch) AS seq
        FROM surv)
      -- NULL-safe change detection: LAG() is NULL both for the first row
      -- and for a genuinely-NULL previous priority, so first-ness needs
      -- its own marker and the comparison must be IS DISTINCT FROM
      -- (found by the round-11 adversarial robustness sweep)
      WHERE seq = 1 OR prev IS DISTINCT FROM priority
    )
    SELECT custkey, priority, effective_from, effective_to,
           (effective_to IS NULL) AS is_current
    FROM vers
    WHERE effective_from <= TIMESTAMP '{_AS_OF}'
      AND (effective_to IS NULL OR effective_to > TIMESTAMP '{_AS_OF}')
    """,
    operators=("P10", "W1", "J7"),
    bench=True,  # r8 verdict task 3: stateful/mutation/iterative bench anchors
)
def scd2_as_of_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 end-to-end under the hash gate: fold three time-ordered
    batches of customer-priority snapshots (latest order priority per
    customer per day, from ``orders``) into a versioned dimension via
    ``apply_scd2`` — bootstrap, close+insert, no-op re-delivery all
    exercised — then project the point-in-time view at {_AS_OF}.

    The oracle re-derives the identical version chain declaratively:
    per-batch surviving snapshot → LAG-compressed change sequence →
    LEAD-closed intervals.  A green row therefore proves the
    incremental close/insert/no-op machinery equals the from-scratch
    window computation, value-for-value (timestamps, open intervals,
    is_current flags).
    """
    o = load_table(spark, sf_dir, "orders")
    # A dimension snapshot needs an identity and an effective time; rows
    # missing either are not snapshots (and a NULL SCD2 key / NULL batch
    # timestamp has no cross-engine meaning).  The dedup tie-break
    # includes the tracked column with pinned NULL order so two same-key
    # same-ts rows that disagree on priority resolve identically in both
    # engines (round-11 adversarial robustness sweep).
    snaps = canonical_dedup(
        o.filter(F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull())
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderdate").cast("timestamp").alias("effective_ts"),
            "o_orderkey",
        ),
        keys=["custkey", "effective_ts"],
        order_by=[F.asc_nulls_last("o_orderkey"), F.asc_nulls_last("priority")],
    ).drop("o_orderkey")
    # Pin the dedup once (r13 verdict task 4): the three batch filters
    # below each re-executed the window-dedup over orders — one eager
    # localCheckpoint cuts two of the three dedup shuffles; per-batch
    # work is then a filter over the pinned snapshot.  At lake scale the
    # equivalent is materializing the snapshot table once per load.
    snaps = snaps.localCheckpoint(eager=True)

    path = os.path.join(scratch_dir("scd2_q_"), "dim")
    ts = F.col("effective_ts")
    batches = (
        ts < F.lit(_B1).cast("timestamp"),
        (ts >= F.lit(_B1).cast("timestamp")) & (ts < F.lit(_B2).cast("timestamp")),
        ts >= F.lit(_B2).cast("timestamp"),
    )
    for cond in batches:
        apply_scd2(
            spark,
            path,
            snaps.filter(cond),
            key_cols=["custkey"],
            tracked_cols=["priority"],
        )
    dim = read_parquet_or_empty(
        spark, path, scd2_frame_like(snaps, ["custkey"], ["priority"])
    )
    return as_of(dim, _AS_OF).select(
        "custkey", "priority", "effective_from", "effective_to", "is_current"
    )


@register(
    "rollup_incremental_equals_full",
    sql=f"""
    SELECT CAST(ts AS DATE) AS event_date, event_type,
      COUNT(*) AS n_events,
      {sql_dsum("value")} AS value_sum,
      MIN(value) AS min_value,
      MAX(value) AS max_value
    FROM events
    WHERE ts IS NOT NULL AND event_type IS NOT NULL
      AND event_type != '' AND length(event_type) <= 128
    GROUP BY 1, 2
    """,
    operators=("A4", "A15"),
)
def rollup_incremental_equals_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive-rollup invariant under the hash gate: three increments
    (events sliced by ``user_id % 3``, so EVERY (date, type) grain
    receives contributions from every increment and the combine path
    genuinely merges) folded into a materialized rollup via
    ``merge_additive_rollup``; the oracle recomputes the rollup from
    raw in one GROUP BY.  Green ⇔ incremental == full.

    Exactness: counts are longs, the value sum is DECIMAL(18,2)-routed
    (sums of sums stay exact), min/max are order-free — so the compare
    is bitwise, not approximate.
    """
    # Rollup grain keys must be non-NULL (the merge contract rejects
    # NULL keys — SQL MERGE equality never matches them), and the
    # PARTITION key must fit filesystem limits (Hive-style layout
    # encodes the value into a directory name; an unbounded string
    # partition column is a real lakehouse hazard — a 400-char value
    # fails the task with ENAMETOOLONG).  Rows outside that universe
    # are excluded on both sides (round-11 sweep).
    # (empty string is additionally excluded: Hive-style layout encodes
    # '' as the default partition, which reads back as NULL — a silent
    # key rewrite)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
        & (F.col("event_type") != "")
        & (F.length("event_type") <= 128)
    )
    path = os.path.join(scratch_dir("rollup_q_"), "rollup")
    # pmod, not %: Spark's % keeps the dividend's sign, so a negative
    # user_id would fall outside every slice and the increment union
    # would silently LOSE its events (r11 sweep)
    slice_key = F.coalesce(F.pmod(F.col("user_id"), F.lit(3)), F.lit(0))
    for s in range(3):
        delta = (
            e.filter(slice_key == s)
            .groupBy(F.to_date("ts").alias("event_date"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast(DEC)).alias("value_sum"),
                F.min("value").alias("min_value"),
                F.max("value").alias("max_value"),
            )
        )
        merge_additive_rollup(
            spark,
            path,
            delta,
            keys=["event_date", "event_type"],
            measures={
                "n_events": "sum",
                "value_sum": "sum",
                "min_value": "min",
                "max_value": "max",
            },
            partition_col="event_type",
        )
    return read_parquet_or_empty(spark, path, delta).select(
        "event_date",
        "event_type",
        "n_events",
        F.col("value_sum").cast("double").alias("value_sum"),
        "min_value",
        "max_value",
    )


@register(
    "orders_customer_join_ivm",
    sql="""
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
           c.c_mktsegment, c.c_nationkey
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_orderkey
    """,
    operators=("J2", "S12"),
)
def orders_customer_join_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of a JOIN view — the delta-join
    algebra (Blakeley et al., SIGMOD'86) under the hash gate, the
    two-sided sibling of priority_rollup_cdf_maintained (which
    maintains an AGGREGATE from one table's change feed).

    The orders and customer tables are each split deterministically
    into a base and a delta (orders: o_orderkey % 4 == 0 arrives late;
    customer: c_custkey % 5 == 0 arrives late).  The maintained view is
    built WITHOUT ever joining the two full tables:

        J_new = (O₀ ⋈ C₀)  ∪  (ΔO ⋈ C₀)  ∪  (O₀ ⋈ ΔC)  ∪  (ΔO ⋈ ΔC)

    — exactly the insert-only delta-join expansion; the four terms are
    disjoint because base/delta partition each input.  The oracle joins
    the full tables declaratively, so a green row proves the
    incremental union reaches the from-scratch state value-for-value.

    At 100 TB this is the point: when ΔO and ΔC are a day's arrivals,
    three of the four terms are delta-sized joins (the delta side
    broadcasts), and the expensive O₀ ⋈ C₀ term is the ALREADY
    MATERIALIZED view — the maintenance cost is O(|Δ|), not O(|base|).
    Here all four terms execute so the algebra itself is what the gate
    certifies; the base term reuses one shuffle because all four joins
    share the same key, and AQE folds the three delta joins to
    broadcasts at delta scale.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    # The base/delta split must be EXHAUSTIVE: a bare `key % n != 0`
    # filter pair drops NULL-key rows from BOTH sides (NULL % n is NULL,
    # which satisfies neither predicate), silently shrinking the
    # maintained view relative to the from-scratch join (round-11
    # adversarial robustness sweep).  NULL keys ride with the base.
    o_split = F.coalesce(F.col("o_orderkey") % 4, F.lit(1))
    c_split = F.coalesce(F.col("c_custkey") % 5, F.lit(1))
    o_base = o.filter(o_split != 0)
    o_delta = o.filter(o_split == 0)
    c_base = c.filter(c_split != 0)
    c_delta = c.filter(c_split == 0)

    on = F.col("o_custkey") == F.col("c_custkey")
    view = (
        o_base.join(c_base, on)
        .unionByName(o_delta.join(c_base, on))
        .unionByName(o_base.join(c_delta, on))
        .unionByName(o_delta.join(c_delta, on))
    )
    return view.select(
        "o_orderkey", "o_custkey", "o_totalprice", "c_mktsegment", "c_nationkey"
    ).orderBy("o_orderkey")


@register(
    "orders_lineitem_bucketed_join",
    sql=f"""
    SELECT o.o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
           {sql_dsum("l.l_extendedprice")} AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY priority
    """,
    operators=("S14", "J2", "A1"),
    bench=True,  # r6 verdict task 4: bench must cover the bucketed-join layer
)
def orders_lineitem_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pay-shuffle-once contract under the hash gate: orders and
    lineitem are materialized as co-bucketed managed tables (same key,
    same bucket count) and the fact-to-fact join runs with ZERO Exchange
    on either side — asserted on the physical plan in-query, with
    broadcast disabled so nothing can mask a missing bucket scan.  The
    oracle joins the raw tables declaratively; a green row proves the
    bucketed layout changes the PLAN, never the ANSWER.

    This is the core 100 TB fact-join lever (SURVEY §4 / docs/SCALE.md):
    bucket both fact tables on the join key at silver-write time and
    every downstream join or keyed aggregation on that key skips its
    exchange AND its sort forever.  Plan shape certified here: two
    bucketed FileScans (selectedBucketsCount visible) → SortMergeJoin
    with no Exchange beneath it; the only exchange in the whole query
    is the final |priorities|-row aggregate's.
    """
    from unicargo_medallion_data_pipeline_spark.sources.writers import save_bucketed_table

    # Pay-the-shuffle-once, MEASURED as such: the bucketed layout is a
    # silver-write-time artifact (write once, every later join skips its
    # exchange), so the save is session-memoized per sf_dir — re-writing
    # both tables per call was a harness artifact, the same class the r5
    # verdict had the flights silver fix.  The memo holds the sf_dir whose
    # bucketed tables are materialized; existence is re-verified against
    # the catalog on every hit, so a dropped table is rebuilt.
    state = session_state(spark)
    if state.get("bucketed_sf_dir") != sf_dir or not (
        spark.catalog.tableExists("bucketed_gold.orders_b")
        and spark.catalog.tableExists("bucketed_gold.lineitem_b")
    ):
        o = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
        )
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_extendedprice"
        )
        # Bucket count scales with the BIG side (r14, from the 10x
        # scale sweep: a fixed 8 capped join parallelism at 8 tasks
        # forever — exponent 1.59 at 10x data).  Write-time control-
        # plane decision, exactly like a real lake's layout job: target
        # ~250k rows/bucket, power-of-two, floor 8 (parquet count() is
        # metadata-only).  Both tables MUST share the count — the
        # co-located join requires equal bucketing.
        import math  # noqa: PLC0415

        n_li = li.count()
        n_buckets = max(8, 2 ** math.ceil(math.log2(max(1.0, n_li / 250_000))))
        save_bucketed_table(
            o, spark, "bucketed_gold", "orders_b", ["l_orderkey"], n_buckets
        )
        save_bucketed_table(
            li, spark, "bucketed_gold", "lineitem_b", ["l_orderkey"], n_buckets
        )
        state["bucketed_sf_dir"] = sf_dir

    # A `merge` hint pins sort-merge per-QUERY (the strategy bucketing
    # accelerates) instead of toggling autoBroadcastJoinThreshold
    # session-wide.  The old toggle also had a latent inconsistency: the
    # plan was ASSERTED under threshold=-1, but the returned DataFrame
    # executed after the conf was restored — a small sf could broadcast
    # and never exercise the bucketed path the assert vouched for.  The
    # hint makes the asserted plan and the executed plan the same plan.
    # Guarded reads (r15): the scan-claimed sort order is only trusted
    # for tables stamped one-file-per-bucket by save_bucketed_table —
    # a foreign/multi-file bucketed table refuses here instead of
    # letting the sort-free SMJ return wrong rows.
    from unicargo_medallion_data_pipeline_spark.sources.writers import read_bucketed_table

    joined = (
        read_bucketed_table(spark, "bucketed_gold.lineitem_b")
        .hint("merge")
        .join(read_bucketed_table(spark, "bucketed_gold.orders_b"), "l_orderkey")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    if "Exchange" in plan:
        raise AssertionError(
            "bucketed fact-to-fact join must not shuffle; plan:\n" + plan
        )

    return (
        joined.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"),
            F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("revenue"),
        )
        .orderBy("priority")
    )
