"""SQL-surface depth: recursive CTE graph traversal and correlated
LATERAL top-k — ANSI constructs Spark 4 executes natively that the
engine's SQL front door must support (the reference exposes a plain SQL
path through its notebooks; `sql_frontdoor_revenue` proved basic SQL
text, these prove the advanced constructs).

Registered in round 5 — outside the round-5 driver window, locally
oracle-verified at sf0.001/0.01/0.1, front of the round-6 rotation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from unicargo_medallion_data_pipeline_spark.plans.catalog import register
from unicargo_medallion_data_pipeline_spark.session import session_state
from unicargo_medallion_data_pipeline_spark.sources.readers import load_table
from unicargo_medallion_data_pipeline_spark.sources.staging import scratch_dir

# ---------------------------------------------------------------------------
# Recursive CTE: multi-hop reachability over a sparsified trade graph
# ---------------------------------------------------------------------------

#: Out-degree cap for the sparsified edge set (top-K destinations per
#: source nation) and the hop bound for the traversal.
_TOP_DST = 2
_MAX_HOPS = 6

# Edge set: for each supplier nation, its TOP-2 customer nations by
# shipment count (ties by destination key) — sparse by construction
# (out-degree ≤ 2), so reachability genuinely needs multiple hops.
_EDGES_SQL = """
    SELECT src, dst FROM (
      SELECT src, dst,
             ROW_NUMBER() OVER (PARTITION BY src
                                ORDER BY n_ship DESC, dst) AS rk
      FROM (
        SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
               COUNT(*) AS n_ship
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE s.s_nationkey <> c.c_nationkey
        GROUP BY s.s_nationkey, c.c_nationkey
      )
    ) WHERE rk <= {top}
"""

_REACH_SQL = """
    WITH RECURSIVE edges AS ({edges}),
    reach AS (
      SELECT src, dst, 1 AS hops FROM edges
      UNION ALL
      SELECT r.src, e.dst, r.hops + 1
      FROM reach r JOIN edges e ON r.dst = e.src
      WHERE r.hops < {max_hops}
    )
    SELECT r.src AS src_nation, r.dst AS dst_nation,
           CAST(MIN(r.hops) AS INT) AS min_hops
    FROM reach r
    WHERE r.src <> r.dst
    GROUP BY r.src, r.dst
    ORDER BY src_nation, dst_nation
"""


@register(
    "nation_reach_recursive",
    sql=_REACH_SQL.format(
        edges=_EDGES_SQL.format(top=_TOP_DST), max_hops=_MAX_HOPS
    ),
    operators=("J2", "W5", "A8"),
)
def nation_reach_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop reachability (min hop count per reachable pair) over a
    sparsified trade graph, computed with Spark 4's native
    ``WITH RECURSIVE`` — the third iterative-graph execution strategy in
    the engine beside the driver-loop + localCheckpoint operators
    (``operators/graph.py`` connected components / PageRank): here
    Catalyst owns the fixpoint, no Python loop, no manual checkpoint.

    The edge set caps each source at its top-{_TOP_DST} destinations
    (ties by key), so the graph is sparse and paths genuinely need up to
    {_MAX_HOPS} hops; the traversal is depth-bounded in the recursion
    predicate, which also terminates cycles under UNION ALL semantics.
    Both engines run near-identical text; counts and hop arithmetic are
    integral, so the hash gate pins the whole closure.

    Scale: each recursion level is one equi-join of the frontier against
    the edge relation — the same shuffle shape as the driver-loop BFS,
    but planned once.  Frontier size is bounded by |nations|² here; for
    a billion-edge graph the driver-loop variant with per-iteration
    re-partitioning (graph.py) remains the right tool, and its docstring
    says so.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    for name, df in (
        ("reach_lineitem", li),
        ("reach_orders", o),
        ("reach_supplier", s),
        ("reach_customer", c),
    ):
        df.createOrReplaceTempView(name)
    edges = _EDGES_SQL.format(top=_TOP_DST)
    for tbl in ("lineitem", "orders", "supplier", "customer"):
        edges = edges.replace(f" {tbl} ", f" reach_{tbl} ")
    return spark.sql(_REACH_SQL.format(edges=edges, max_hops=_MAX_HOPS))


# ---------------------------------------------------------------------------
# Correlated LATERAL top-k
# ---------------------------------------------------------------------------

_LATERAL_SQL = """
    SELECT n.n_name AS nation, l.c_name, l.c_acctbal
    FROM {nation} n,
    LATERAL (SELECT c_name, c_acctbal FROM {customer} c
             WHERE c.c_nationkey = n.n_nationkey
             ORDER BY c_acctbal DESC, c_custkey
             LIMIT 3) AS l
"""


@register(
    "nation_top_customers_lateral",
    sql=_LATERAL_SQL.format(nation="nation", customer="customer"),
    operators=("J6", "O3", "W5"),
)
def nation_top_customers_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by account balance per nation, written as a
    correlated ``LATERAL`` subquery with ORDER BY + LIMIT — the ANSI
    form of per-group top-k.  Spark decorrelates it into a ranked
    window join (no nested-loop per outer row), i.e. the same physical
    plan the DataFrame `top_customers_per_segment` query gets from an
    explicit row_number — proving the front door accepts the idiom a
    SQL-native user would write, not just the window spelling.

    Determinism: ties broken by c_custkey inside the LIMIT.  DuckDB
    executes the identical text as the oracle.
    """
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    n.createOrReplaceTempView("lat_nation")
    c.createOrReplaceTempView("lat_customer")
    return spark.sql(
        _LATERAL_SQL.format(nation="lat_nation", customer="lat_customer")
    )


# ---------------------------------------------------------------------------
# Window-function corners: nth_value / cume_dist / first-last ignoreNulls
# ---------------------------------------------------------------------------


@register(
    "customer_order_window_corners",
    sql="""
    WITH seq AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
             CASE WHEN o_orderpriority = '1-URGENT'
                  THEN o_totalprice END AS urgent_price
      FROM orders
    )
    SELECT * FROM (
      SELECT o_custkey AS custkey,
             ROW_NUMBER() OVER w AS rn,
             o_orderkey AS orderkey,
             first_value(o_orderdate) OVER w AS first_order_date,
             nth_value(o_orderkey, 2) OVER w AS second_orderkey,
             first_value(urgent_price IGNORE NULLS) OVER w
               AS first_urgent_price,
             cume_dist() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice NULLS LAST) AS price_cume_dist
      FROM seq
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate NULLS LAST, o_orderkey NULLS LAST,
                            o_totalprice NULLS LAST, urgent_price NULLS LAST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ) WHERE rn <= 3
    """,
    operators=("W5", "W3"),
)
def customer_order_window_corners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The W5 family's corner functions under the hash gate in one
    query: running ``first_value``, ``nth_value(2)``, ``first_value
    IGNORE NULLS`` over a sparse measure, and ``cume_dist`` — the
    corners a window implementation most often gets subtly wrong
    (null skipping, frame-sensitive nth, tie handling in cume_dist).

    cume_dist is rank-of-tie-group / n — a single IEEE division of two
    integers, so it compares exactly across engines; ties share a value
    on both.  One customer-key exchange serves all four windows (same
    partitioning; Spark collapses them into one Window operator chain),
    and the rn ≤ 3 cap bounds the output at 3 rows per customer.
    """
    o = load_table(spark, sf_dir, "orders")
    # NULLS LAST pinned on every ordering key, and the running frame's
    # order is TOTAL over the emitted values (date, key, price, urgent
    # measure): near-duplicate rows must window identically in both
    # engines (round-11 adversarial sweep).
    urgent_order = F.when(
        F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice")
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(
            F.asc_nulls_last("o_orderdate"),
            F.asc_nulls_last("o_orderkey"),
            F.asc_nulls_last("o_totalprice"),
            F.asc_nulls_last(urgent_order),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wd = Window.partitionBy("o_custkey").orderBy(F.asc_nulls_last("o_totalprice"))
    urgent = F.when(
        F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice")
    )
    return (
        o.select(
            F.col("o_custkey").alias("custkey"),
            F.row_number().over(w).alias("rn"),
            F.col("o_orderkey").alias("orderkey"),
            F.first("o_orderdate").over(w).alias("first_order_date"),
            F.nth_value("o_orderkey", 2).over(w).alias("second_orderkey"),
            F.first(urgent, ignorenulls=True).over(w).alias("first_urgent_price"),
            F.cume_dist().over(wd).alias("price_cume_dist"),
        )
        .filter(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# Manifest-committed table (ACID-lite) under the hash gate
# ---------------------------------------------------------------------------

_ACID_CUTOFF = "1995-01-01"


@register(
    "orders_acid_timetravel",
    sql=f"""
    WITH v0 AS (
      SELECT o_orderpriority AS priority,
             COUNT(*) AS n_orders
      FROM orders WHERE o_orderdate < DATE '{_ACID_CUTOFF}'
        AND o_orderpriority IS NOT NULL
      GROUP BY o_orderpriority
    ),
    v1 AS (
      SELECT o_orderpriority AS priority,
             COUNT(*) AS n_orders
      FROM orders WHERE o_orderpriority IS NOT NULL
      GROUP BY o_orderpriority
    )
    SELECT 0 AS version, priority, n_orders FROM v0
    UNION ALL
    SELECT 1 AS version, priority, n_orders FROM v1
    ORDER BY version, priority
    """,
    operators=("S12", "A13", "P7"),
)
def orders_acid_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manifest-committed table (`sources/acid.py` — atomic
    copy-on-write commits, optimistic concurrency, time travel over
    plain parquet) end-to-end under the hash gate: commit the
    pre-{_ACID_CUTOFF} per-priority order counts as version 0, MERGE the
    full-range counts as version 1 (updates win per key), then read BOTH
    versions back — version 0 via time travel — and union them tagged.

    The oracle recomputes each version's state declaratively, so a
    green row proves the commit/merge/read protocol preserves values
    exactly and that time travel returns the byte-identical
    pre-mutation state (the guarantee the engine's Delta branches make
    but cannot demonstrate in this environment).
    """
    import os

    from pyspark.sql import functions as F2

    from unicargo_medallion_data_pipeline_spark.sources.acid import ManifestTable

    # priority is the MERGE key: NULL keys are rejected by the merge
    # gate (SQL MERGE equality never matches NULL), so the keyed-state
    # universe is the non-NULL priorities on both sides (r11 sweep).
    o = load_table(spark, sf_dir, "orders").select(
        F2.col("o_orderpriority").alias("priority"), "o_orderdate"
    ).filter(F2.col("priority").isNotNull())
    t = ManifestTable(spark, os.path.join(scratch_dir("acid_q_"), "t"))
    v0_state = (
        o.filter(F2.col("o_orderdate") < F2.lit(_ACID_CUTOFF).cast("date"))
        .groupBy("priority")
        .agg(F2.count(F2.lit(1)).alias("n_orders"))
    )
    t.commit(v0_state)
    v1_updates = o.groupBy("priority").agg(
        F2.count(F2.lit(1)).alias("n_orders")
    )
    t.merge_upsert(v1_updates, keys=["priority"])
    tagged0 = t.read(version=0).select(
        F2.lit(0).alias("version"), "priority", "n_orders"
    )
    tagged1 = t.read().select(
        F2.lit(1).alias("version"), "priority", "n_orders"
    )
    return tagged0.unionByName(tagged1).orderBy("version", "priority")


# ---------------------------------------------------------------------------
# Manifest file-stats pruning under the hash gate
# ---------------------------------------------------------------------------

_PRUNE_LO, _PRUNE_HI = 30.0, 45.0


@register(
    "events_manifest_pruned_scan",
    sql=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(MIN(value) AS DOUBLE) AS min_value,
           CAST(MAX(value) AS DOUBLE) AS max_value
    FROM events
    WHERE value BETWEEN {_PRUNE_LO} AND {_PRUNE_HI}
    GROUP BY event_type
    ORDER BY event_type
    """,
    operators=("S3", "P7", "A13"),
)
def events_manifest_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stats data skipping (`sources/acid.ManifestTable.read_pruned`)
    under the hash gate: commit `events` into a manifest table
    range-clustered on `value` with per-file min/max stats, read back
    ONLY the files overlapping [{_PRUNE_LO}, {_PRUNE_HI}], and
    aggregate.  The oracle scans everything and filters — a green row
    proves pruning returned exactly the rows a full scan would (the
    skipping-never-loses-data contract), value-for-value.

    The in-plan assert pins the skipping itself: the pruned read must
    touch strictly fewer files than the table holds — without it a
    pruning regression (reading everything) would still hash-match.
    """
    import os

    from unicargo_medallion_data_pipeline_spark.sources.acid import ManifestTable

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    t = ManifestTable(
        spark, os.path.join(scratch_dir("prune_q_"), "t")
    )
    t.commit(
        ev.repartitionByRange(8, "value"), stats_cols=["value"]
    )
    pruned = t.read_pruned("value", _PRUNE_LO, _PRUNE_HI)
    n_all, n_pruned = len(t.read().inputFiles()), len(pruned.inputFiles())
    # skipping is only provable when there is more than one file to
    # skip (an empty/one-file table reads 1/1 vacuously — r11 sweep)
    if n_all > 1 and not n_pruned < n_all:  # explicit raise: -O strips asserts
        raise AssertionError(
            f"file skipping regressed: read {n_pruned}/{n_all} files"
        )
    return (
        pruned.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("value").cast("double").alias("min_value"),
            F.max("value").cast("double").alias("max_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Manifest Bloom-filter point-lookup skipping under the hash gate (r6)
# ---------------------------------------------------------------------------

#: Deterministic probe cohort for the bloom lookup.
_BLOOM_USERS = (7, 70, 123)


@register(
    "events_bloom_pruned_lookup",
    sql=f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           COUNT(DISTINCT event_type) AS n_types,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    WHERE user_id IN {_BLOOM_USERS}
    GROUP BY user_id
    ORDER BY user_id
    """,
    operators=("S3", "P8", "A13"),
    bench=True,  # r6 verdict task 4: bench must cover the manifest/ACID layer
)
def events_bloom_pruned_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file Bloom skipping (`sources/acid.ManifestTable.
    read_bloom_pruned`) under the hash gate: commit `events`
    range-clustered on `user_id` with per-file Bloom bitmaps, point-look
    up a fixed user cohort opening ONLY the maybe-containing files, and
    aggregate.  The oracle scans everything and filters — a green row
    proves equality skipping returns exactly the full-scan rows.

    This is the pruning case min/max stats cannot serve: an equality
    probe on a high-cardinality key.  Bitmaps are 4 KiB per (file,
    column) — O(files) manifest metadata, the Parquet column-index /
    Iceberg bloom-stats posture.  The in-plan assert pins the skipping
    itself (strictly fewer files opened than committed); the residual
    `isin` keeps exactness under bloom false positives.
    """
    import os

    from unicargo_medallion_data_pipeline_spark.functions.exact import dsum
    from unicargo_medallion_data_pipeline_spark.sources.acid import ManifestTable

    # The bloom-equipped commit is the table's WRITE path (paid once per
    # table version in production); this query certifies the pruned READ
    # path.  Memoize the committed table's path per (session, sf_dir) so
    # repeated calls measure the read, not a re-ingest — the on-disk
    # manifest is re-verified before reuse.
    state = session_state(spark)
    key = ("bloom_table", sf_dir)
    path = state.get(key)
    if path is None or not os.path.isdir(os.path.join(path, "_manifests")):
        ev = load_table(spark, sf_dir, "events").select(
            "user_id", "event_type", "value"
        )
        path = os.path.join(scratch_dir("bloom_q_"), "t")
        t = ManifestTable(spark, path)
        t.commit(ev.repartitionByRange(8, "user_id"), bloom_cols=["user_id"])
        state[key] = path
    else:
        t = ManifestTable(spark, path)
    hits = t.read_bloom_pruned("user_id", list(_BLOOM_USERS))
    n_all, n_read = len(t.read().inputFiles()), len(hits.inputFiles())
    # skipping is only provable when there is more than one file to
    # skip (an empty/one-file table reads 1/1 vacuously — r11 sweep)
    if n_all > 1 and not n_read < n_all:  # explicit raise: -O strips asserts
        raise AssertionError(
            f"bloom skipping regressed: read {n_read}/{n_all} files"
        )
    return (
        hits.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            dsum("value").alias("sum_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Manifest change-data-feed under the hash gate (r6)
# ---------------------------------------------------------------------------


@register(
    "orders_manifest_cdf",
    sql=f"""
    WITH v0 AS (
      SELECT o_orderpriority AS priority, COUNT(*) AS n_orders
      FROM orders WHERE o_orderdate < DATE '{_ACID_CUTOFF}'
        AND o_orderpriority IS NOT NULL
      GROUP BY o_orderpriority
    ),
    v1 AS (
      SELECT o_orderpriority AS priority, COUNT(*) AS n_orders
      FROM orders WHERE o_orderpriority IS NOT NULL
      GROUP BY o_orderpriority
    )
    SELECT priority, n_orders, change_type FROM (
      SELECT priority, n_orders, 'insert' AS change_type
      FROM (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v0)
      UNION ALL
      SELECT priority, n_orders, 'delete' AS change_type
      FROM (SELECT * FROM v0 EXCEPT ALL SELECT * FROM v1)
    )
    ORDER BY priority, change_type
    """,
    operators=("S12", "P11", "A13"),
)
def orders_manifest_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed between two manifest versions
    (`sources/acid.ManifestTable.table_changes`) under the hash gate:
    the same two committed states as `orders_acid_timetravel` (v0 =
    pre-cutoff per-priority counts, v1 = MERGE of full-range counts),
    diffed row-level as tagged insert/delete rows.  The oracle
    recomputes both states and diffs them with EXCEPT ALL — a green row
    proves the CDF returns exactly the multiset delta between the
    committed versions.  Files shared by both versions are dropped from
    both sides before the diff (append-only commits diff only their
    appended files — the Iceberg incremental-read shape)."""
    import os

    from pyspark.sql import functions as F2

    from unicargo_medallion_data_pipeline_spark.sources.acid import ManifestTable

    # non-NULL merge-key universe — same posture as orders_acid_timetravel
    o = load_table(spark, sf_dir, "orders").select(
        F2.col("o_orderpriority").alias("priority"), "o_orderdate"
    ).filter(F2.col("priority").isNotNull())
    t = ManifestTable(spark, os.path.join(scratch_dir("cdf_q_"), "t"))
    t.commit(
        o.filter(F2.col("o_orderdate") < F2.lit(_ACID_CUTOFF).cast("date"))
        .groupBy("priority")
        .agg(F2.count(F2.lit(1)).alias("n_orders"))
    )
    t.merge_upsert(
        o.groupBy("priority").agg(F2.count(F2.lit(1)).alias("n_orders")),
        keys=["priority"],
    )
    return (
        t.table_changes(0, 1)
        .withColumnRenamed("_change_type", "change_type")
        .orderBy("priority", "change_type")
    )


# ---------------------------------------------------------------------------
# Cross-table amount reconciliation (warehouse DQ, r6)
# ---------------------------------------------------------------------------


@register(
    "orders_reconciliation_audit",
    sql="""
    WITH li AS (
      SELECT l_orderkey,
             SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * CAST(round((1 - l_discount) * 100) AS BIGINT)
                 * CAST(round((1 + l_tax) * 100) AS BIGINT)) AS computed_e6
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT o.o_orderpriority AS priority,
             li.computed_e6
               - CAST(round(o.o_totalprice * 100) AS BIGINT) * 10000
               AS delta_e6
      FROM li JOIN orders o ON li.l_orderkey = o.o_orderkey
    )
    SELECT priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN ABS(delta_e6) <= 10000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_consistent,
           CAST(MAX(ABS(delta_e6)) AS DOUBLE) / 1e6 AS max_abs_delta,
           CAST(SUM(ABS(delta_e6)) AS DOUBLE) / 1e6 AS sum_abs_delta
    FROM j
    GROUP BY priority
    ORDER BY priority
    """,
    operators=("A13", "J2", "P7"),
)
def orders_reconciliation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table amount reconciliation — the warehouse DQ rule the
    quality family lacked beside orphan-FK audits: does the order
    header's total equal the TPC-H invariant
    SUM(extendedprice·(1−discount)·(1+tax)) over its line items?  Per
    priority: order count, within-one-cent consistent count, and the
    max/total absolute divergence.  (On this synthetic corpus the
    generator does NOT maintain the invariant — the audit's job is
    precisely to quantify that, identically on both engines.)

    Determinism: every money value quantizes to integer cents/percent
    BEFORE any arithmetic (2-decimal data ⇒ ·100 lands within 1e-9 of
    an integer, never near a rounding tie), so the per-order delta is
    an exact BIGINT in 1e-6 dollars and the aggregate sums are exact —
    the only float ops are two final divisions by 1e6.  Scale shape:
    one map-side-combinable lineitem aggregate, one keyed join to
    orders, one small group-by; no window, no sort beyond presentation.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * F.round((1 - F.col("l_discount")) * 100).cast("bigint")
            * F.round((1 + F.col("l_tax")) * 100).cast("bigint")
        ).alias("line_e6"),
    )
    computed = li.groupBy("l_orderkey").agg(F.sum("line_e6").alias("computed_e6"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        (F.round(F.col("o_totalprice") * 100).cast("bigint") * 10000).alias(
            "total_e6"
        ),
    )
    j = computed.join(o, computed.l_orderkey == o.o_orderkey).select(
        "priority", (F.col("computed_e6") - F.col("total_e6")).alias("delta_e6")
    )
    return (
        j.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.when(F.abs(F.col("delta_e6")) <= 10000, 1).otherwise(0)
            ).alias("n_consistent"),
            (F.max(F.abs("delta_e6")).cast("double") / 1e6).alias("max_abs_delta"),
            (F.sum(F.abs("delta_e6")).cast("double") / 1e6).alias("sum_abs_delta"),
        )
        .orderBy("priority")
    )


# Benford first-digit reference probabilities, hardcoded as literals on
# BOTH engine and oracle sides (log10(1+1/d) evaluated once, offline) —
# cross-engine log() is not correctly-rounded, a literal is.
_BENFORD = {
    1: 0.30103, 2: 0.17609, 3: 0.12494, 4: 0.09691, 5: 0.07918,
    6: 0.06695, 7: 0.05799, 8: 0.05115, 9: 0.04576,
}
_BENFORD_SQL = "\n      UNION ALL ".join(
    f"SELECT {d} AS digit, CAST({p} AS DOUBLE) AS benford_p"
    for d, p in _BENFORD.items()
)


@register(
    "orders_benford_digits",
    sql=f"""
    WITH obs AS (
      SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                 AS VARCHAR), 1, 1) AS INTEGER) AS digit,
             COUNT(*) AS n_obs
      FROM orders
      WHERE o_totalprice > 0
      GROUP BY 1
    ),
    ref AS ({_BENFORD_SQL}),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs)
    SELECT r.digit,
           CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs,
           CAST(COALESCE(o.n_obs, 0) AS DOUBLE) / t.n AS obs_share,
           r.benford_p,
           CAST(COALESCE(o.n_obs, 0) AS DOUBLE) / t.n - r.benford_p
             AS deviation
    FROM ref r LEFT JOIN obs o ON r.digit = o.digit CROSS JOIN tot t
    ORDER BY r.digit
    """,
    operators=("A12", "J7", "P4"),
)
def orders_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the classic
    financial-anomaly screen (fabricated amounts drift from the
    logarithmic digit distribution).  Per digit 1-9: observed count,
    observed share, the Benford reference probability, and the
    deviation.

    Determinism: the leading digit comes from STRING formatting of the
    exact integer cents (no log10 — cross-engine log is not
    correctly-rounded; integer-to-text is exact), counts are exact
    BIGINTs, the Benford column is a shared hardcoded literal, and each
    output row's float ops are one division and one subtraction.  The
    9-row reference frame is a local relation; the only distributed
    work is one map-side-combinable digit aggregate."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    obs = (
        o.select(
            F.substring(
                F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
                1,
                1,
            )
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    ref = spark.createDataFrame(
        list(_BENFORD.items()), "digit int, benford_p double"
    )
    n = obs.agg(F.sum("n_obs").alias("n"))
    out = (
        ref.join(obs, "digit", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("bigint").alias("n_obs"),
            (
                F.coalesce(F.col("n_obs"), F.lit(0)).cast("double") / F.col("n")
            ).alias("obs_share"),
            "benford_p",
            (
                F.coalesce(F.col("n_obs"), F.lit(0)).cast("double") / F.col("n")
                - F.col("benford_p")
            ).alias("deviation"),
        )
        .orderBy("digit")
    )
    return out


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance from the change feed (r6)
# ---------------------------------------------------------------------------


@register(
    "priority_rollup_cdf_maintained",
    sql=f"""
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                / 100 AS DOUBLE) AS total_value
    FROM orders WHERE o_orderpriority IS NOT NULL
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
    operators=("S12", "A13", "A15"),
)
def priority_rollup_cdf_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance driven by the CHANGE FEED: a
    per-priority rollup maintained from `table_changes` deltas instead
    of recomputed — maintained = base aggregate + Σ(inserts) −
    Σ(deletes) per key.  The engine commits the pre-{_ACID_CUTOFF}
    orders as version 0, overwrites with the full range as version 1,
    derives the row-level CDF between them, and applies ONLY the delta
    aggregate to version 0's rollup.  The oracle recomputes the rollup
    directly over the full table — a green row proves delta-maintenance
    reaches the exact recomputed state (the Delta-CDF → MERGE-into-
    aggregate production pattern, with `rollup_incremental_equals_full`
    as the append-only sibling).

    Exactness: order counts and cent-quantized sums are integers, so
    base + insert − delete is exact arithmetic; the one float op is the
    final ÷100 presentation cast.  Scale shape: the CDF diff scans only
    version-exclusive files; the delta aggregate is map-side combined
    on the same key as the base rollup."""
    import os

    from pyspark.sql import functions as F2

    from unicargo_medallion_data_pipeline_spark.sources.acid import ManifestTable

    cents = F2.round(F2.col("o_totalprice") * 100).cast("bigint")
    # non-NULL key universe: a NULL priority never joins its own delta
    # in the base FULL JOIN delta maintenance (equality join), so the
    # maintained view would double the NULL group (r11 sweep).
    o = load_table(spark, sf_dir, "orders").select(
        F2.col("o_orderpriority").alias("priority"),
        "o_orderdate",
        cents.alias("total_cents"),
    ).filter(F2.col("priority").isNotNull())
    t = ManifestTable(spark, os.path.join(scratch_dir("ivm_q_"), "t"))
    v0_rows = o.filter(
        F2.col("o_orderdate") < F2.lit(_ACID_CUTOFF).cast("date")
    ).drop("o_orderdate")
    t.commit(v0_rows)
    t.commit(o.drop("o_orderdate"), mode="overwrite")

    base = v0_rows.groupBy("priority").agg(
        F2.count(F2.lit(1)).alias("n"), F2.sum("total_cents").alias("c")
    )
    cdf = t.table_changes(0, 1)
    sign = F2.when(F2.col("_change_type") == "insert", 1).otherwise(-1)
    delta = cdf.groupBy("priority").agg(
        F2.sum(sign).alias("dn"),
        F2.sum(sign * F2.col("total_cents")).alias("dc"),
    )
    maintained = (
        base.join(delta, "priority", "full")
        .select(
            "priority",
            (F2.coalesce("n", F2.lit(0)) + F2.coalesce("dn", F2.lit(0))).alias(
                "n_orders"
            ),
            (F2.coalesce("c", F2.lit(0)) + F2.coalesce("dc", F2.lit(0))).alias(
                "cents"
            ),
        )
        .filter(F2.col("n_orders") > 0)
    )
    return maintained.select(
        "priority",
        "n_orders",
        (F2.col("cents").cast("double") / 100).alias("total_value"),
    ).orderBy("priority")


@register(
    "orders_manifest_history",
    sql=f"""
    SELECT 0 AS version,
           CAST(COUNT(CASE WHEN o_orderdate < DATE '{_ACID_CUTOFF}'
                           THEN 1 END) AS BIGINT) AS n_rows
    FROM orders
    UNION ALL
    SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders
    ORDER BY version
    """,
    operators=("S12", "A16"),
)
def orders_manifest_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest metadata row counts under the hash gate: commit the
    pre-{_ACID_CUTOFF} orders as version 0, append the rest as version
    1, then read per-version row totals from `history()` — METADATA
    ONLY, no data files opened for the counts.  The oracle recounts both
    states declaratively; a green row proves the per-file row counts
    recorded at commit time (and carried forward across appends) sum to
    the true table cardinality at every version — the invariant that
    makes metadata-only COUNT(*) (`ManifestTable.count`) trustworthy."""
    import os

    from pyspark.sql import functions as F2

    from unicargo_medallion_data_pipeline_spark.sources.acid import ManifestTable

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    t = ManifestTable(spark, os.path.join(scratch_dir("hist_q_"), "t"))
    cutoff = F2.lit(_ACID_CUTOFF).cast("date")
    t.commit(o.filter(F2.col("o_orderdate") < cutoff))
    # exhaustive split: NULL-dated rows must land in exactly one commit
    # (a bare >= drops them from both — r11 sweep)
    t.commit(
        o.filter(F2.col("o_orderdate").isNull() | (F2.col("o_orderdate") >= cutoff)),
        mode="append",
    )
    return (
        t.history()
        .select("version", "n_rows")
        .orderBy("version")
    )


@register(
    "orders_cdc_apply_state",
    sql="""
    WITH seed AS (
      SELECT k, priority, total_cents FROM (
        SELECT o_orderkey AS k, o_orderpriority AS priority,
               CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents,
               ROW_NUMBER() OVER (
                 PARTITION BY o_orderkey
                 ORDER BY o_orderpriority NULLS LAST,
                          CAST(round(o_totalprice * 100) AS BIGINT) NULLS LAST
               ) AS rn
        FROM orders WHERE o_orderkey IS NOT NULL) WHERE rn = 1
    ),
    final_state AS (
      SELECT priority,
             CASE WHEN k % 13 = 1 THEN total_cents * 2
                  ELSE total_cents END AS total_cents
      FROM seed
      WHERE k % 13 <> 0
    )
    SELECT priority,
           COUNT(*) AS n_orders,
           CAST(CAST(SUM(total_cents) AS DOUBLE) / 100 AS DOUBLE)
             AS total_value
    FROM final_state
    GROUP BY priority
    ORDER BY priority
    """,
    operators=("S12", "A13", "T4"),
)
def orders_cdc_apply_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply semantics under the hash gate: seed a manifest table
    with all orders, then apply ONE Debezium-shape change batch through
    the real `apply_cdc_batch` operator — for keys ≡ 0 (mod 13) an
    upsert FOLLOWED by a delete (same batch, `_seq`-ordered: last op
    must win → net delete), for keys ≡ 1 (mod 13) a price-doubling
    upsert — and aggregate the resulting state.  The oracle computes
    the intended final state declaratively; a green row proves
    upsert+delete atomic apply AND within-batch last-op-wins ordering,
    value-for-value.  Prices stay integer cents end-to-end, so the
    doubled totals are exact."""
    import os

    from pyspark.sql import functions as F2

    from unicargo_medallion_data_pipeline_spark.sources.acid import ManifestTable
    from unicargo_medallion_data_pipeline_spark.streaming.writers import apply_cdc_batch

    from unicargo_medallion_data_pipeline_spark.operators.cleaning import canonical_dedup

    # A CDC-maintained table is KEYED state: the seed must be one
    # canonical row per non-NULL key (duplicate/NULL-keyed seed rows
    # make per-key apply ill-defined — r11 sweep), tie-broken over the
    # payload identically in both engines.
    o = canonical_dedup(
        load_table(spark, sf_dir, "orders")
        .filter(F2.col("o_orderkey").isNotNull())
        .select(
            F2.col("o_orderkey").alias("k"),
            F2.col("o_orderpriority").alias("priority"),
            F2.round(F2.col("o_totalprice") * 100).cast("bigint").alias("total_cents"),
        ),
        keys=["k"],
        order_by=[F2.asc_nulls_last("priority"), F2.asc_nulls_last("total_cents")],
    )
    t = ManifestTable(spark, os.path.join(scratch_dir("cdcq_"), "t"))
    t.commit(o)

    mod = F2.col("k") % 13
    # one batch: (u then d) for mod==0, doubling u for mod==1
    u_then_d = o.filter(mod == 0).select(
        "k", "priority", "total_cents",
        F2.lit("u").alias("op"), F2.lit(1).cast("long").alias("_seq"),
    ).unionByName(
        o.filter(mod == 0).select(
            "k", "priority", "total_cents",
            F2.lit("d").alias("op"), F2.lit(2).cast("long").alias("_seq"),
        )
    )
    doubling = o.filter(mod == 1).select(
        "k", "priority",
        (F2.col("total_cents") * 2).alias("total_cents"),
        F2.lit("u").alias("op"), F2.lit(1).cast("long").alias("_seq"),
    )
    apply_cdc_batch(t, u_then_d.unionByName(doubling), key_cols=["k"], batch_id=0)

    return (
        t.read()
        .groupBy("priority")
        .agg(
            F2.count(F2.lit(1)).alias("n_orders"),
            (F2.sum("total_cents").cast("double") / 100).alias("total_value"),
        )
        .orderBy("priority")
    )


# Z-order pruning windows (both dimensions constrained simultaneously).
_Z_VALUE_LO, _Z_VALUE_HI = 20.0, 35.0
_Z_USER_LO, _Z_USER_HI = 3, 9


@register(
    "events_zorder_pruned_scan",
    sql=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(MIN(user_id) AS BIGINT) AS min_user,
           CAST(MAX(user_id) AS BIGINT) AS max_user,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    WHERE value BETWEEN {_Z_VALUE_LO} AND {_Z_VALUE_HI}
      AND user_id BETWEEN {_Z_USER_LO} AND {_Z_USER_HI}
    GROUP BY event_type
    ORDER BY event_type
    """,
    operators=("S3", "P7", "A13"),
)
def events_zorder_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-dimensional data skipping via Z-order clustering (the
    Delta OPTIMIZE ZORDER analog, `operators/layout.zvalue_column`)
    under the hash gate: commit `events` clustered on the bit-
    interleaved Z-curve of (value, user_id) with per-file min/max for
    BOTH columns, then read with simultaneous range predicates on both
    dimensions — each file covers a compact hyper-rectangle, so pruning
    bites on BOTH predicates where a linear sort helps only its leading
    column.  The oracle full-scans and filters; the in-plan assert pins
    that strictly fewer files were opened than committed.

    Scale shape: the rewrite is one range exchange + spillable in-task
    sort (O(data)); the pruned read's decision is driver-side manifest
    metadata.  Exact decimal-routed sum keeps the aggregate hashable."""
    import os

    from pyspark.sql import functions as F2

    from unicargo_medallion_data_pipeline_spark.operators.layout import zvalue_column
    from unicargo_medallion_data_pipeline_spark.sources.acid import ManifestTable

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "value"
    )
    z = ev.withColumn("__z", zvalue_column(ev, ["value", "user_id"]))
    clustered = (
        z.repartitionByRange(8, "__z").sortWithinPartitions("__z").drop("__z")
    )
    t = ManifestTable(
        spark, os.path.join(scratch_dir("zorder_q_"), "t")
    )
    t.commit(clustered, stats_cols=["value", "user_id"])
    pruned = t.read_pruned(
        "value",
        _Z_VALUE_LO,
        _Z_VALUE_HI,
        more=[("user_id", _Z_USER_LO, _Z_USER_HI)],
    )
    n_all, n_read = len(t.read().inputFiles()), len(pruned.inputFiles())
    # skipping is only provable when there is more than one file to
    # skip (an empty/one-file table reads 1/1 vacuously — r11 sweep)
    if n_all > 1 and not n_read < n_all:  # explicit raise: -O strips asserts
        raise AssertionError(
            f"z-order skipping regressed: read {n_read}/{n_all} files"
        )
    return (
        pruned.groupBy("event_type")
        .agg(
            F2.count(F2.lit(1)).alias("n_events"),
            F2.min("user_id").cast("bigint").alias("min_user"),
            F2.max("user_id").cast("bigint").alias("max_user"),
            F2.sum(F2.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "orders_csv_quarantine_roundtrip",
    sql="""
    SELECT COUNT(*) AS n_good,
           CAST(3 AS BIGINT) AS n_quarantined,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_total
    FROM orders
    """,
    operators=("S1", "P5", "A15"),
)
def orders_csv_quarantine_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The S1 quarantine ingest path under the hash gate (previously
    pytest-only): write `orders` out as headered CSV, inject exactly 3
    malformed lines (wrong arity / untypeable cells), re-ingest through
    `read_csv_with_quarantine`, and return (good count, quarantined
    count, decimal-exact total over the good rows).  The oracle states
    the contract declaratively: every original row must survive the
    CSV round-trip typed and exactly the 3 injected lines must
    quarantine — proving PERMISSIVE+corrupt-record capture loses
    nothing and passes nothing bad.

    Round-trip hazard handled: o_totalprice is written via DECIMAL(18,2)
    formatting so the CSV text parses back to the identical double; all
    other compared state is the row count."""
    import csv as _csv
    import glob
    import os

    from pyspark.sql import functions as F2
    from pyspark.sql.types import (
        DateType,
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from unicargo_medallion_data_pipeline_spark.sources.readers import (
        read_csv_with_quarantine,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        # decimal-formatted text round-trips exactly to the same double
        F2.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
        # CSV interchange contract: LINE-based (the splittable,
        # quarantine-conserving form read_csv_with_quarantine is built
        # around), so embedded newlines are sanitized before export — a
        # quoted multi-line cell would otherwise truncate on re-ingest
        # and its tail lines would quarantine (r11 adversarial sweep).
        F2.regexp_replace("o_orderpriority", r"[\r\n]", " ").alias(
            "o_orderpriority"
        ),
    )
    d = scratch_dir("csvq_")
    csv_dir = os.path.join(d, "csv")
    o.coalesce(1).write.option("header", "true").mode("overwrite").csv(csv_dir)
    # inject exactly 3 malformed lines into the part file; drop the
    # Hadoop .crc sidecar the out-of-band append invalidates
    part = glob.glob(os.path.join(csv_dir, "part-*.csv"))[0]
    crc = os.path.join(os.path.dirname(part), f".{os.path.basename(part)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    with open(part, "a", newline="") as fh:
        w = _csv.writer(fh)
        w.writerow(["not_an_int", "7", "2024-01-01", "1.00", "LOW"])  # bad type
        w.writerow(["123"])  # wrong arity
        w.writerow(["99", "x", "never", "abc", "HIGH"])  # multiple bad cells
    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", IntegerType()),
            StructField("o_orderdate", DateType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderpriority", StringType()),
        ]
    )
    good, quarantine = read_csv_with_quarantine(spark, csv_dir, schema)
    n_q = quarantine.count()
    return good.agg(
        F2.count(F2.lit(1)).alias("n_good"),
        F2.lit(n_q).cast("bigint").alias("n_quarantined"),
        F2.sum(F2.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_total"),
    )


@register(
    "orders_column_profile",
    sql="""
    WITH s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_k,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_c,
             CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_p,
             CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_d,
             CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_y,
             CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS d_k,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS d_c,
             CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS d_p,
             CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS d_d,
             CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS d_y,
             CAST(MIN(o_orderkey) AS VARCHAR) AS mn_k,
             CAST(MAX(o_orderkey) AS VARCHAR) AS mx_k,
             CAST(MIN(o_custkey) AS VARCHAR) AS mn_c,
             CAST(MAX(o_custkey) AS VARCHAR) AS mx_c,
             CAST(CAST(round(MIN(o_totalprice) * 100) AS BIGINT) AS VARCHAR) AS mn_p,
             CAST(CAST(round(MAX(o_totalprice) * 100) AS BIGINT) AS VARCHAR) AS mx_p,
             CAST(CAST(MIN(o_orderdate) AS DATE) AS VARCHAR) AS mn_d,
             CAST(CAST(MAX(o_orderdate) AS DATE) AS VARCHAR) AS mx_d,
             MIN(o_orderpriority) AS mn_y,
             MAX(o_orderpriority) AS mx_y
      FROM orders
    )
    SELECT 'o_orderkey' AS column_name, n_rows, nn_k AS n_nulls, d_k AS n_distinct,
           mn_k AS min_repr, mx_k AS max_repr FROM s
    UNION ALL
    SELECT 'o_custkey', n_rows, nn_c, d_c, mn_c, mx_c FROM s
    UNION ALL
    SELECT 'o_totalprice', n_rows, nn_p, d_p, mn_p, mx_p FROM s
    UNION ALL
    SELECT 'o_orderdate', n_rows, nn_d, d_d, mn_d, mx_d FROM s
    UNION ALL
    SELECT 'o_orderpriority', n_rows, nn_y, d_y, mn_y, mx_y FROM s
    ORDER BY column_name
    """,
    operators=("A15", "A17", "Q4"),
)
def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-job table profiler: per column — null count, EXACT distinct
    count, min/max — in a single aggregate over one scan, unpivoted to
    the long (column_name, stats...) form every data-catalog UI wants.

    Min/max are emitted as canonical strings computed on the NATIVE type
    first (string-typed min would order "10" < "9"); the double column
    goes through the cents quantization so the text form is
    engine-independent (double→string shortest-round-trip formatting is
    not a cross-engine contract).  Plan note (read from executedPlan):
    Catalyst pushes the union's 5 projections down into 5 COLUMN-PRUNED
    single-column subtrees — each branch scans exactly one parquet
    column, distinct-aggregates it (partial → merge), and finishes on a
    partial-sized SinglePartition row; total bytes read ≈ one 5-column
    scan, with no Expand row-multiply anywhere.  That is the plan you
    want for an exact profile; at lake scale swap the exact distincts
    for HLL/KMV sketches (events_mergeable_hll_rollup,
    operators/sketch.py) and keep the shape.
    """
    o = load_table(spark, sf_dir, "orders")

    def nn(c):
        return F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("bigint")

    s = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        nn("o_orderkey").alias("nn_k"),
        nn("o_custkey").alias("nn_c"),
        nn("o_totalprice").alias("nn_p"),
        nn("o_orderdate").alias("nn_d"),
        nn("o_orderpriority").alias("nn_y"),
        F.countDistinct("o_orderkey").cast("bigint").alias("d_k"),
        F.countDistinct("o_custkey").cast("bigint").alias("d_c"),
        F.countDistinct("o_totalprice").cast("bigint").alias("d_p"),
        F.countDistinct("o_orderdate").cast("bigint").alias("d_d"),
        F.countDistinct("o_orderpriority").cast("bigint").alias("d_y"),
        F.min("o_orderkey").cast("string").alias("mn_k"),
        F.max("o_orderkey").cast("string").alias("mx_k"),
        F.min("o_custkey").cast("string").alias("mn_c"),
        F.max("o_custkey").cast("string").alias("mx_c"),
        F.round(F.min("o_totalprice") * 100).cast("bigint").cast("string").alias("mn_p"),
        F.round(F.max("o_totalprice") * 100).cast("bigint").cast("string").alias("mx_p"),
        F.min("o_orderdate").cast("date").cast("string").alias("mn_d"),
        F.max("o_orderdate").cast("date").cast("string").alias("mx_d"),
        F.min("o_orderpriority").alias("mn_y"),
        F.max("o_orderpriority").alias("mx_y"),
    )
    rows = [
        ("o_orderkey", "nn_k", "d_k", "mn_k", "mx_k"),
        ("o_custkey", "nn_c", "d_c", "mn_c", "mx_c"),
        ("o_totalprice", "nn_p", "d_p", "mn_p", "mx_p"),
        ("o_orderdate", "nn_d", "d_d", "mn_d", "mx_d"),
        ("o_orderpriority", "nn_y", "d_y", "mn_y", "mx_y"),
    ]
    parts = [
        s.select(
            F.lit(name).alias("column_name"),
            F.col("n_rows"),
            F.col(nnc).alias("n_nulls"),
            F.col(dc).alias("n_distinct"),
            F.col(mnc).alias("min_repr"),
            F.col(mxc).alias("max_repr"),
        )
        for name, nnc, dc, mnc, mxc in rows
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("column_name")


@register(
    "order_value_weighted_median",
    sql="""
    WITH c AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
      FROM orders
    ),
    cum AS (
      SELECT cents,
             SUM(cents) OVER (ORDER BY cents, o_orderkey
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS prefix_sum
      FROM c
    ),
    t AS (
      SELECT CAST(SUM(cents) AS BIGINT) AS total_cents,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM c
    )
    SELECT CAST(MIN(CASE WHEN 2 * cum.prefix_sum >= t.total_cents
                         THEN cum.cents END) AS BIGINT) AS median_cents,
           t.n_orders, t.total_cents
    FROM cum CROSS JOIN t
    GROUP BY t.n_orders, t.total_cents
    """,
    operators=("W3", "A15"),
)
def order_value_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted median order value: the smallest value v where
    orders worth ≤ v carry at least HALF the total revenue (the
    "half-the-money line", weights = the values themselves).

    Weighted quantiles need a GLOBAL running sum, which naive SQL does
    with Window.orderBy over the whole fact — one partition, the exact
    hazard operators/ranks.py exists for.  The engine side instead uses
    ``global_prefix_sum`` (two-phase range-partition prefix sum, new in
    round 6): no single-partition stage, exact BIGINT cents, and the
    median condition is the integer compare 2·prefix ≥ total — no
    division anywhere.  The DuckDB oracle runs the classic one-window
    SQL; green means the distributed prefix sum reproduces it exactly.
    """
    from unicargo_medallion_data_pipeline_spark.operators.ranks import (
        global_prefix_sum,
    )

    c = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        "o_orderkey",
    )
    pre = global_prefix_sum(c, ["cents", "o_orderkey"], "cents")
    t = c.agg(
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )
    return (
        pre.crossJoin(F.broadcast(t))
        .filter(2 * F.col("prefix_sum") >= F.col("total_cents"))
        .groupBy("n_orders", "total_cents")
        .agg(F.min("cents").cast("bigint").alias("median_cents"))
        .select("median_cents", "n_orders", "total_cents")
    )


@register(
    "orders_xml_roundtrip",
    sql="""
    WITH u AS (
      SELECT NULLIF(trim(o_orderpriority), '') AS priority,
             o_orderkey, o_orderdate, o_totalprice
      FROM orders
    )
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_total,
           CAST(MIN(o_orderdate) AS DATE) AS first_date,
           CAST(MAX(o_orderdate) AS DATE) AS last_date
    FROM u
    WHERE NOT (o_orderkey IS NULL AND o_orderdate IS NULL
               AND o_totalprice IS NULL AND priority IS NULL)
    GROUP BY priority ORDER BY priority
    """,
    operators=("S3", "P5", "A4"),
)
def orders_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-family widening (round 10): the Spark 4 NATIVE ``xml`` source
    under the hash gate.  `orders` is written out as XML (one ``<row>``
    element per order) and re-ingested through ``read_xml`` with an
    explicit schema; the oracle aggregates the original parquet
    directly, so a green row proves the typed XML round-trip (long /
    decimal-formatted double / ISO date / string) is value-exact.

    Round-trip hazard handled like the CSV twin: o_totalprice is
    written via DECIMAL(18,2) formatting so the XML text parses back to
    the identical double.  No quarantine variant by design — the XML
    source's corrupt-record column is document-granular (see
    ``sources/readers.read_xml``)."""
    import os

    from pyspark.sql.types import (
        DateType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from unicargo_medallion_data_pipeline_spark.sources.readers import read_xml

    # XML text cannot represent the empty/whitespace-only vs absent
    # distinction (ignoreSurroundingSpaces trims, an empty element reads
    # back NULL), and a row whose every field is NULL round-trips as a
    # contentless element.  The round-trip UNIVERSE therefore normalizes
    # blank strings to NULL and excludes all-NULL rows on BOTH sides —
    # a pipeline needing those distinctions should not choose XML
    # interchange (round-11 adversarial sweep).
    prio = F.when(F.trim("o_orderpriority") != "", F.col("o_orderpriority"))
    o = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            # cast to DATE before writing: the XML writer renders a
            # timestamp column as '…T00:00:00.000' text, which a DateType
            # read rejects — and an XML permissive cell failure nulls the
            # REST of the row's fields too (probed live), so the date must
            # round-trip as plain ISO date text
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
            prio.alias("o_orderpriority"),
        )
        .filter(
            F.col("o_orderkey").isNotNull()
            | F.col("o_orderdate").isNotNull()
            | F.col("o_totalprice").isNotNull()
            | F.col("o_orderpriority").isNotNull()
        )
    )
    d = scratch_dir("xmlq_")
    xml_dir = os.path.join(d, "xml")
    (
        o.write.format("xml")
        .option("rootTag", "orders")
        .option("rowTag", "row")
        .mode("overwrite")
        .save(xml_dir)
    )
    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_orderdate", DateType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderpriority", StringType()),
        ]
    )
    back = read_xml(spark, xml_dir, schema, row_tag="row")
    return (
        back.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_total"),
            F.min("o_orderdate").alias("first_date"),
            F.max("o_orderdate").alias("last_date"),
        )
        .orderBy("priority")
    )


@register(
    "orders_jsonl_quarantine_roundtrip",
    sql="""
    SELECT COUNT(*) AS n_good,
           CAST(3 AS BIGINT) AS n_quarantined,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_total
    FROM orders
    """,
    operators=("S1", "P5", "A15"),
)
def orders_jsonl_quarantine_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JSONL quarantine ingest under the hash gate (pytest-only
    until round 10 — the CSV twin has been oracled since r7): write
    `orders` as JSON-lines, inject exactly 3 malformed lines (raw
    non-JSON, a type mismatch, truncated JSON), re-ingest through
    `read_jsonl_with_quarantine`, and return (good count, quarantined
    count, decimal-exact total).  Green ⇔ every original row survives
    the JSONL round-trip typed and exactly the 3 injected lines
    quarantine."""
    import glob
    import os

    from pyspark.sql.types import (
        DateType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from unicargo_medallion_data_pipeline_spark.sources.readers import (
        read_jsonl_with_quarantine,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        # decimal-formatted text round-trips exactly to the same double
        F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
        "o_orderpriority",
    )
    d = scratch_dir("jsonlq_")
    j_dir = os.path.join(d, "jsonl")
    o.coalesce(1).write.mode("overwrite").json(j_dir)
    part = glob.glob(os.path.join(j_dir, "part-*.json"))[0]
    crc = os.path.join(os.path.dirname(part), f".{os.path.basename(part)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    with open(part, "a") as fh:
        fh.write("this is not json at all\n")
        fh.write('{"o_orderkey": "not_a_long", "o_totalprice": 1.0}\n')
        fh.write('{"o_orderkey": 7, "o_orderdate": "2024-0\n')  # truncated
    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_orderdate", DateType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderpriority", StringType()),
        ]
    )
    good, quarantine = read_jsonl_with_quarantine(spark, j_dir, schema)
    n_q = quarantine.count()
    return good.agg(
        F.count(F.lit(1)).alias("n_good"),
        F.lit(n_q).cast("bigint").alias("n_quarantined"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_total"),
    )


@register(
    "orders_orc_roundtrip",
    sql="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_total,
           CAST(MIN(o_orderdate) AS DATE) AS first_date,
           CAST(MAX(o_orderdate) AS DATE) AS last_date
    FROM orders GROUP BY o_orderpriority ORDER BY priority
    """,
    operators=("S3", "P5", "A4"),
)
def orders_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC columnar round-trip under the hash gate (pytest-only until
    round 10): `orders` written as ORC and re-read through `read_orc`
    with an explicit schema, aggregated per priority; the oracle
    aggregates the original parquet.  Green ⇔ the vectorized ORC
    writer/reader preserves long/double/date/string bit-for-bit —
    no text formatting involved, so no decimal staging is needed on
    the write side (kept anyway for column-shape parity with the
    XML/JSONL twins)."""
    import os

    from pyspark.sql.types import (
        DateType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from unicargo_medallion_data_pipeline_spark.sources.readers import read_orc

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        "o_orderpriority",
    )
    d = scratch_dir("orcq_")
    orc_dir = os.path.join(d, "orc")
    o.write.mode("overwrite").orc(orc_dir)
    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_orderdate", DateType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderpriority", StringType()),
        ]
    )
    back = read_orc(spark, orc_dir, schema)
    return (
        back.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_total"),
            F.min("o_orderdate").alias("first_date"),
            F.max("o_orderdate").alias("last_date"),
        )
        .orderBy("priority")
    )
