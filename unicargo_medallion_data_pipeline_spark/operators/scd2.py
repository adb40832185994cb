"""Slowly-changing dimension, type 2: versioned history with
``effective_from`` / ``effective_to`` / ``is_current``.

The reference rebuilds its dimensions wholesale every run
(``NB_SILVER/02_silver_unicargo_create_dim_airlines.ipynb:99-105`` —
dedup + fresh surrogate keys, no change tracking), which loses history:
an airline renamed in March silently rewrites February's facts'
context.  SCD2 is the standard dimensional-modeling answer and the one
classic dimension operator the medallion layer otherwise lacks: every
change CLOSES the old version (stamping ``effective_to``) and INSERTS a
new current one, so point-in-time joins (`fact.ts BETWEEN
effective_from AND effective_to`) reconstruct what the dimension said
when the fact happened.

Storage layout = partitioned by ``scd_state`` (``'current'`` /
``'history'`` — a string twin of ``is_current``, because parquet
partition values read back as strings, so partitioning by the boolean
itself would mangle its type): the current partition is compact (one
row per key — the only part read by ordinary joins and by the next
merge), history is append-only.  Per batch the engine
rewrites ONLY the current partition and appends closed rows to history;
at 100 TB the per-batch cost is O(|current| + |batch|), never
O(history).

Parquet-fallback honesty (same posture as ``sources/merge.py``): the
close-append and the current-partition overwrite are two writes, not
one transaction.  A crash between them can leave duplicate closed rows
in history after a retry (never a wrong current partition — that is
written last, and rerunning the same batch is a no-op once current
matches).  Delta's single atomic ``MERGE`` (the classic union-staging
SCD2 merge) removes the window; wire it through ``delta_available()``
when the dependency lands.
"""

from __future__ import annotations

import logging
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

log = logging.getLogger(__name__)

#: Spark applications that already logged the gate-fallback warning.
_GATE_FALLBACK_WARNED: set[str] = set()

#: SCD2 bookkeeping columns added to the caller's schema.
SCD2_COLS = ("effective_from", "effective_to", "is_current", "scd_state")


def _with_state(df):
    """Derive the string partition twin of ``is_current``."""
    return df.withColumn(
        "scd_state", F.when(F.col("is_current"), "current").otherwise("history")
    )


def _latest_per_key(updates: DataFrame, key_cols: list[str], ts: str,
                    tracked_cols: list[str]) -> DataFrame:
    """One version per key per batch: latest by ``ts``; ties broken by a
    payload hash so the pick is deterministic (documented contract — a
    batch carrying two DIFFERENT payloads at the identical timestamp has
    no meaningful order; the engine picks reproducibly rather than
    randomly).  Unhashable (map/variant) tracked columns hash via their
    JSON rendering instead of failing analysis (r9 hunt — same class as
    the CDC tiebreak fix).  The xxhash64 covers only the hashable
    tracked columns, so two same-timestamp snapshots differing ONLY in
    a map column would tie on it (and a 64-bit collision between
    distinct payloads would too) — a 128-bit md5 of the full payload
    JSON breaks those ties second, mirroring ``apply_cdc_batch``
    (round-10 ADVICE item 1)."""
    from unicargo_medallion_data_pipeline_spark.functions.hashing import (
        md5_row_json,
        xxhashable,
    )

    hashable = [
        c for c in tracked_cols
        if xxhashable(updates.schema[c].dataType)
    ]
    payload_hash = (
        F.xxhash64(*hashable)
        if hashable
        else F.xxhash64(F.to_json(F.struct(*tracked_cols)))
    )
    # NULL-ts evidence rides the SAME window pass (r15 optimization —
    # guide §1.2: don't spend a whole extra batch scan on a check a
    # pass we already pay can carry): ordering NULL timestamps FIRST
    # makes the survivor of any key whose batch rows include a NULL ts
    # BE a null-ts row — including when the null row is SHADOWED by a
    # later non-null snapshot (the reject-all-nulls contract).  Callers
    # raise off ``_ts IS NULL`` on the deduped frame at their first
    # action (classification gate / bootstrap probe) instead of running
    # a dedicated pre-scan of the raw batch; for NULL-free batches the
    # ordering — and therefore the surviving row — is exactly the
    # pre-r15 one.  Deliberately NOT a second window function (e.g. a
    # max(isnull) flag): a lone row_number under a rn=1 filter plans as
    # WindowGroupLimit (top-1 per key short-circuit, no full-partition
    # buffering); any additional window expression disables that
    # rewrite and re-sorts the whole batch — measured +0.6s on the
    # sf0.1 scd2 bench query, the opposite of the intent.
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(ts).desc_nulls_first(),
        payload_hash.desc(),
        md5_row_json(tracked_cols).desc(),
    )
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _prepare_updates(
    updates: DataFrame,
    key_cols: list[str],
    tracked_cols: list[str],
    effective_ts_col: str,
) -> DataFrame:
    """Validate the batch and reduce it to one snapshot per key."""
    cols = [*key_cols, *tracked_cols]
    # Reserved-name guard (same posture as read_csv_with_quarantine): a
    # snapshot re-ingested from an SCD2 export would otherwise produce
    # duplicate/ambiguous columns deep inside the merge instead of a
    # clear error at the API boundary.
    # "_in_u" is the classification join's presence marker (r15 ADVICE:
    # a payload column literally named _in_u would be silently replaced
    # by the marker inside _scd2_delta, corrupting the comparison,
    # instead of raising here at the API boundary).
    reserved = {*SCD2_COLS, "_ts", "_rn", "_in_u"}
    clashes = [c for c in cols if c in reserved or c.startswith("_cur_")]
    if clashes:
        raise ValueError(f"update columns collide with SCD2 bookkeeping: {clashes}")
    u_raw = updates.select(*cols, F.col(effective_ts_col).alias("_ts"))
    # NULL timestamps on the RAW batch are rejected — including rows
    # shadowed by a later non-null snapshot of the same key (the
    # documented reject-all-nulls contract).  The evidence travels on
    # the survivor itself: the dedup window orders NULL ts first (see
    # _latest_per_key), so "any raw row had a NULL ts" ⇔ "some deduped
    # row has a NULL _ts".  The pre-r15 implementation instead ran a
    # dedicated ``filter(isNull).limit(1).count()`` action here — a full
    # extra pass over every batch, per apply (guide §1.2: remove passes
    # before tuning anything else).  The incremental path raises off the
    # classification gate it already runs; bootstrap paths raise in-plan
    # from the first write's own action (:func:`_guarded_from`, r16 —
    # the dedicated probe job is gone there too).
    return _latest_per_key(u_raw, key_cols, "_ts", tracked_cols)


#: Sentinel prefix for the in-plan NULL-ts rejection: the bootstrap
#: write itself raises through ``raise_error`` and the caller
#: translates the executor exception back into the canonical
#: ValueError (``_reraise_null_ts``).
_NULL_TS_MARKER = "SCD2_NULL_EFFECTIVE_TS"


def _null_ts_message(effective_ts_col: str) -> str:
    return f"updates contain NULL {effective_ts_col!r} values"


def _guarded_from(effective_ts_col: str):
    """``effective_from`` expression that REJECTS null timestamps as a
    side effect of the bootstrap write's own action (r16, guide §1.2 —
    the pre-r16 bootstrap ran a dedicated filter+limit(1) probe job
    over the raw batch first).  Coverage is identical: the dedup window
    orders NULL ts FIRST (see _latest_per_key), so a null-ts survivor
    is the evidence for surviving AND shadowed null rows, and any task
    hitting one fails the write job BEFORE its commit — no files become
    visible, exactly the probe-then-write crash posture."""
    return F.when(
        F.col("_ts").isNull(),
        F.raise_error(
            F.lit(f"{_NULL_TS_MARKER}: {_null_ts_message(effective_ts_col)}")
        ),
    ).otherwise(F.col("_ts"))


def _reraise_null_ts(exc: BaseException, effective_ts_col: str) -> None:
    """Translate the in-plan rejection back into the documented
    ValueError; re-raise anything else untouched."""
    if _NULL_TS_MARKER in str(exc):
        raise ValueError(_null_ts_message(effective_ts_col)) from None
    raise


def _read_gate(obs, joined: DataFrame, gate_aggs: list, timeout_sec: float = 60.0) -> dict:
    """CollectMetrics side-channel read with a BOUNDED wait (r15 ADVICE:
    ``Observation.get`` blocks with no timeout, so a Spark regression
    that stopped firing the QueryExecutionListener for the checkpoint
    action would hang every incremental apply instead of failing loud).
    Polls the non-blocking JVM accessor — on a healthy version the
    first poll already sees the metrics, because the eager checkpoint
    action has completed — and past the deadline, or when the accessor
    is missing or fails, degrades to ONE direct aggregate job over the
    checkpointed join (the pre-r15 extra-job shape), never a hang.  The
    degrade logs one warning per Spark application, so the extra job
    per apply is visible."""
    import time as _time

    jo = getattr(obs, "_jo", None)
    deadline = _time.monotonic() + timeout_sec
    reason = "Observation has no JVM accessor"
    while jo is not None:
        try:
            delivered = not jo.getRowOrEmpty().isEmpty()
        except Exception as e:
            reason = f"Observation accessor failed: {e!r}"
            break
        if delivered:
            return obs.get
        if _time.monotonic() >= deadline:  # pragma: no cover — listener regression
            reason = f"observed metrics not delivered within {timeout_sec}s"
            break
        _time.sleep(0.05)
    app = joined.sparkSession.sparkContext.applicationId
    if app not in _GATE_FALLBACK_WARNED:
        _GATE_FALLBACK_WARNED.add(app)
        log.warning(
            "SCD2 gate falls back to an extra aggregate job per apply (%s)", reason
        )
    return joined.agg(*gate_aggs).collect()[0].asDict()


def scd2_frame_like(
    updates: DataFrame,
    key_cols: list[str],
    tracked_cols: list[str],
    effective_ts_col: str = "effective_ts",
) -> DataFrame:
    """Empty frame with the dimension's schema — what a read-back should
    yield when every applied batch was empty (partitioned writes of zero
    rows materialize no files, hence no schema to infer).  Pair with
    ``sources.readers.read_parquet_or_empty``."""
    u = updates.limit(0).select(
        *key_cols, *tracked_cols, F.col(effective_ts_col).cast("timestamp").alias("_ts")
    )
    return _bootstrap_state(u, [*key_cols, *tracked_cols])


def _bootstrap_state(
    u: DataFrame, cols: list[str], guard_ts_col: str | None = None
) -> DataFrame:
    """First-batch state: every surviving snapshot becomes current.
    With ``guard_ts_col``, the frame's own materialization rejects NULL
    timestamps in-plan (see :func:`_guarded_from`) — pair the action
    with :func:`_reraise_null_ts`."""
    eff = _guarded_from(guard_ts_col) if guard_ts_col else F.col("_ts")
    return _with_state(
        u.select(
            *cols,
            eff.alias("effective_from"),
            F.lit(None).cast("timestamp").alias("effective_to"),
            F.lit(True).alias("is_current"),
        )
    )


def apply_scd2(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    tracked_cols: list[str],
    effective_ts_col: str = "effective_ts",
) -> None:
    """Fold one batch of dimension snapshots into the SCD2 table.

    ``updates`` columns: ``key_cols + tracked_cols + [effective_ts_col]``
    — a *snapshot* of each key's attributes as of that timestamp (the
    shape a source extract naturally produces).  Change detection is
    null-safe equality over ``tracked_cols`` (``<=>`` conjunction — no
    hash-collision risk); an identical snapshot is a no-op, which makes
    re-running a batch idempotent.

    Out-of-order protection: a batch whose ``effective_ts`` is ≤ the
    current version's ``effective_from`` for a CHANGED key raises —
    silently applying it would fabricate a negative-length interval.
    Replays of history must be applied in order (or rebuild the table).

    Atomicity: see the module docstring's crash-window note; for a
    single-commit variant use :func:`apply_scd2_manifest`.
    """
    cols = [*key_cols, *tracked_cols]
    u = _prepare_updates(updates, key_cols, tracked_cols, effective_ts_col)

    from pyspark.errors import AnalysisException

    try:
        existing = spark.read.parquet(target_path)
    except AnalysisException:
        # The NULL-ts gate rides the bootstrap write itself (r16 — one
        # job instead of probe + write; a violation fails the job
        # before any file commits, so the table stays absent).
        try:
            (
                _bootstrap_state(u, cols, guard_ts_col=effective_ts_col)
                .write.mode("overwrite")
                .format("parquet")
                .partitionBy("scd_state")
                .save(target_path)
            )
        except Exception as e:  # noqa: BLE001 — translated or re-raised
            _reraise_null_ts(e, effective_ts_col)
        return

    delta = _scd2_delta(u, existing, cols, key_cols, tracked_cols, effective_ts_col)
    if delta is None:
        return  # pure re-delivery: every snapshot matches current
    new_current, closed, n_changed = delta
    _write_scd2_delta(target_path, new_current, closed, n_changed)


def _scd2_delta(
    u: DataFrame,
    existing: DataFrame,
    cols: list[str],
    key_cols: list[str],
    tracked_cols: list[str],
    effective_ts_col: str,
):
    """Classify one prepared batch against the existing SCD2 state.

    Returns ``(new_current, closed, n_changed)`` — the replacement
    current partition, the rows to close into history, and the changed
    count — or ``None`` for a pure re-delivery (zero writes).  Raises on
    NULL timestamps and out-of-order batches.  Shared by the
    partitioned-path writer (:func:`apply_scd2`) and the atomic manifest
    writer (:func:`apply_scd2_manifest`).
    """
    # Prune on the partition twin: only the current partition's files
    # are listed/read, however large history has grown.
    current = existing.filter(F.col("scd_state") == "current").drop("scd_state")
    cur = current.select(
        *[F.col(c).alias(f"_cur_{c}") for c in cols],
        F.col("effective_from").alias("_cur_from"),
    )
    # Null-safe key equality: with plain ==, a null-keyed snapshot would
    # never match its existing current row and every re-delivery would
    # append another duplicate "new" current row for it.  (Null-safe
    # equality still hash-joins — Spark plans EqualNullSafe join keys.)
    #
    # FULL OUTER, not left (r15 optimization, guide §2.4 — remove
    # shuffles outright): the untouched current rows (keys absent from
    # the batch) used to be derived by a SECOND read of the current
    # partition anti-joined against the changed keys — one extra scan
    # plus one extra join of O(|current|) per batch.  A full-outer
    # classification join carries those rows through the SAME pass as
    # unmatched right-side rows (``_in_u`` NULL), so the current
    # partition is scanned exactly once per batch and the anti-join
    # disappears.  ``_in_u`` is the u-side presence marker (a literal
    # TRUE cannot be NULL on a genuine u row, and key columns cannot
    # serve — a NULL key matches null-safely); every batch-side
    # classification below guards on it.
    key_eq = [F.col(k).eqNullSafe(F.col(f"_cur_{k}")) for k in key_cols]
    raw_joined = u.withColumn("_in_u", F.lit(True)).join(
        cur, reduce(lambda a, b: a & b, key_eq), "full_outer"
    )
    in_u = F.col("_in_u").isNotNull()

    # eqNullSafe rejects unorderable (map/variant) types at analysis
    # time (r9 hunt); those columns compare via their JSON rendering —
    # deterministic per stored value, and NULL-safe because to_json of a
    # NULL struct field is a stable 'null' token on both sides.  The
    # rendering is CANONICAL for top-level maps (entries sorted by key,
    # round-10 ADVICE item 4): plain to_json is entry-order-sensitive,
    # so an upstream that rebuilds a map in a different key order would
    # otherwise mint a spurious new version for an unchanged payload.
    # Residual sensitivity: variants and maps nested deeper than the top
    # level still compare by stored order (canonical_json docstring).
    from unicargo_medallion_data_pipeline_spark.functions.hashing import (
        canonical_json,
        xxhashable,
    )

    def _payload_eq(t: str):
        dt = raw_joined.schema[t].dataType
        if xxhashable(dt):
            return F.col(t).eqNullSafe(F.col(f"_cur_{t}"))
        return canonical_json(F.col(t), dt).eqNullSafe(
            canonical_json(F.col(f"_cur_{t}"), dt)
        )

    same_payload = reduce(
        lambda a, b: a & b, [_payload_eq(t) for t in tracked_cols]
    )
    # Match marker must not be a key column (a null key matches null-
    # safely but would look unmatched); _cur_from is non-null on every
    # matched row by construction.
    has_match = F.col("_cur_from").isNotNull()

    # One classification pass gates everything: out-of-order rejection,
    # the idempotence fast-path (identical snapshot → zero writes), and
    # skipping the history append when nothing closed (an empty staged
    # frame could not be read back anyway).
    #
    # Pin the dedup + classification join: it feeds the gate AND both
    # staged writes; unpinned, the window shuffle and current-partition
    # join would run three times per batch (and a non-deterministic
    # `updates` could diverge between gate and write).  The gate rides
    # the SAME materialization job as an ``observe`` side channel (r15
    # optimization, guide §1.2/§1.5): the pre-r15 shape ran a separate
    # aggregate action over the checkpointed blocks — one whole extra
    # job per batch that computed nothing the checkpoint pass couldn't
    # carry.  CollectMetrics aggregates while the checkpoint
    # materializes; ``obs.get`` then reads the finished metrics without
    # touching the cluster again.
    from pyspark.sql import Observation

    obs = Observation()
    # Every aggregate (and every batch-side filter below) is guarded by
    # ``in_u``: an untouched current row carries NULLs in the u-side
    # columns, so unguarded it would read as has_match & ~same_payload
    # (a phantom "changed") and its NULL ``_ts`` would trip the null-ts
    # gate.
    gate_aggs = [
        F.sum((in_u & has_match & ~same_payload).cast("int")).alias("n_changed"),
        F.sum((in_u & ~has_match).cast("int")).alias("n_new"),
        F.sum(
            (in_u & has_match & ~same_payload & (F.col("_ts") <= F.col("_cur_from"))).cast(
                "int"
            )
        ).alias("n_stale"),
        # NULLS-FIRST dedup ordering (see _latest_per_key) makes a
        # null-ts survivor the evidence for BOTH surviving and SHADOWED
        # null-ts rows of the raw batch, so this existing aggregate
        # replaces the former dedicated raw-batch pre-scan (r15, guide
        # §1.2 — one fewer full pass per incremental apply).
        F.sum((in_u & F.col("_ts").isNull()).cast("int")).alias("n_null_ts"),
    ]
    joined = raw_joined.observe(obs, *gate_aggs).localCheckpoint(eager=True)
    changed = joined.filter(in_u & has_match & ~same_payload)
    new_keys = joined.filter(in_u & ~has_match)
    gate = _read_gate(obs, joined, gate_aggs)
    if gate["n_null_ts"]:
        # A null ts evades the stale check (NULL comparison), would
        # bootstrap a null effective_from (misclassifying every later
        # snapshot of that key as new), and would close versions with a
        # null effective_to that as_of reads as still-open.
        raise ValueError(
            f"{gate['n_null_ts']} update key(s) carry NULL "
            f"{effective_ts_col!r} values"
        )
    if gate["n_stale"]:
        raise ValueError(
            f"{gate['n_stale']} changed key(s) arrive with effective_ts <= "
            "the current version's effective_from — batches must be applied "
            "in time order"
        )
    if not gate["n_changed"] and not gate["n_new"]:
        return None  # pure re-delivery: every snapshot matches current

    # Rows of the NEW current partition: new versions of changed keys,
    # brand-new keys, and untouched current rows.
    fresh = changed.unionByName(new_keys).select(
        *cols,
        F.col("_ts").alias("effective_from"),
        F.lit(None).cast("timestamp").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    # Closed versions come straight off the classification join (the
    # _cur_* columns ARE the old current row), avoiding a second join
    # that would need its own null-safe key handling.
    closed = changed.select(
        *[F.col(f"_cur_{c}").alias(c) for c in cols],
        F.col("_cur_from").alias("effective_from"),
        F.col("_ts").alias("effective_to"),
        F.lit(False).alias("is_current"),
    )
    # Untouched current rows ride the full-outer join (``_in_u`` NULL ⇔
    # the key is absent from the batch); matched-but-unchanged current
    # rows are has_match & same_payload on the u side.  Both keep their
    # current-partition invariants (open interval, is_current) by
    # construction, so effective_to/is_current are reconstructed as
    # literals rather than carried through the join.  Pre-r15 this was
    # a second scan of the current partition plus a null-safe anti-join
    # against the changed keys — both gone.
    untouched = joined.filter(~in_u).select(
        *[F.col(f"_cur_{c}").alias(c) for c in cols],
        F.col("_cur_from").alias("effective_from"),
        F.lit(None).cast("timestamp").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    unchanged_cur = joined.filter(in_u & has_match & same_payload).select(
        *[F.col(f"_cur_{c}").alias(c) for c in cols],
        F.col("_cur_from").alias("effective_from"),
        F.lit(None).cast("timestamp").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    new_current = _with_state(untouched.unionByName(unchanged_cur).unionByName(fresh))
    closed = _with_state(closed)
    return new_current, closed, int(gate["n_changed"])


def _write_scd2_delta(
    target_path: str,
    new_current: DataFrame,
    closed: DataFrame,
    n_changed: int,
) -> None:
    """Partitioned-path writer: history append + current overwrite (the
    documented two-write crash window; apply_scd2_manifest is the
    single-commit alternative).

    No disk staging (round-10 bench work — the staged write+read-back
    of both frames was the apply's single largest cost), and since r15
    no second pin either: BOTH frames derive SOLELY from the eagerly-
    checkpointed full-outer classification join (``closed`` from its
    ``_cur_*`` columns, ``new_current`` including the untouched current
    rows that used to re-read the partition being overwritten), so
    nothing here reads the files the dynamic overwrite replaces and the
    former self-overwrite pin of ``new_current`` was a whole redundant
    job per batch (guide §1.2).  Crash posture unchanged: history
    append FIRST, current overwrite LAST — a crash between the two
    leaves the old current partition intact (retry then re-closes —
    duplicate history rows, dedupable on the full row — but never a
    current partition that forgot its history); an executor loss during
    the overwrite fails the job before the swap completes, same as a
    failure during the old staged write."""
    from unicargo_medallion_data_pipeline_spark.sources.staging import write_dynamic_overwrite

    if n_changed:
        (
            closed.write.mode("append")
            .format("parquet")
            .partitionBy("scd_state")
            .save(target_path)
        )
    write_dynamic_overwrite(new_current, target_path, "scd_state")


def apply_scd2_manifest(
    spark: SparkSession,
    table,
    updates: DataFrame,
    key_cols: list[str],
    tracked_cols: list[str],
    effective_ts_col: str = "effective_ts",
) -> None:
    """:func:`apply_scd2` with ATOMIC batch visibility: the dimension
    lives in a :class:`~unicargo_medallion_data_pipeline_spark.sources.acid.ManifestTable`
    and each batch is ONE commit of the full new state (history +
    closed rows + replacement current), so the partitioned path's
    close-append/current-overwrite crash window does not exist — a
    reader sees the pre-batch version or the post-batch version, never
    an intermediate.  Bonus: every prior dimension state stays reachable
    by version (time travel), the auditable complement of `as_of`.

    Cost trade, stated plainly: the commit rewrites history too, so a
    batch costs O(current + batch + history) here versus the
    partitioned path's O(current + batch).  Right for dimensions (small
    next to facts, correctness-critical); wrong for event-scale tables
    — the docstrings cross-reference.
    """
    u = _prepare_updates(updates, key_cols, tracked_cols, effective_ts_col)
    cols = [*key_cols, *tracked_cols]
    versions = table.versions()
    if not versions:
        # Same in-plan NULL-ts gate as the partitioned bootstrap: the
        # commit's write action carries the check, a violation aborts
        # before the manifest commit, so no version is minted.
        try:
            table.commit(
                _bootstrap_state(u, cols, guard_ts_col=effective_ts_col),
                base_version=-1,
            )
        except Exception as e:  # noqa: BLE001 — translated or re-raised
            _reraise_null_ts(e, effective_ts_col)
        return
    base = versions[-1]
    existing = table.read(version=base)
    delta = _scd2_delta(u, existing, cols, key_cols, tracked_cols, effective_ts_col)
    if delta is None:
        return  # idempotent re-delivery: no new version
    new_current, closed, _ = delta
    history = existing.filter(F.col("scd_state") == "history")
    # base-pinned: a concurrent batch conflicts instead of being lost
    table.commit(
        history.unionByName(closed).unionByName(new_current),
        mode="overwrite",
        base_version=base,
    )


def as_of(dim: DataFrame, ts, dedup: bool = True) -> DataFrame:
    """Point-in-time view: the version of each key effective at ``ts``
    (the join side of every SCD2 fact build).

    ``dedup`` (default on) drops full-row duplicates first, defending
    against the parquet crash window documented in the module docstring:
    a retry after "history append committed, current overwrite not"
    re-appends byte-identical closed rows, which would otherwise return
    twice here and fan out every fact join.  The duplicates are exact
    full-row copies (same key, same interval, same payload), so a
    full-row ``dropDuplicates`` removes precisely them.  Pass
    ``dedup=False`` to skip the shuffle once the atomic Delta MERGE path
    is active (no crash window there).

    Unhashable (map/variant) attribute columns are excluded from the
    dedup key — Spark cannot group by them (r9 hunt).  Equivalent here:
    the crash-window duplicates are byte-identical rows, and the SCD2
    interval invariant (disjoint validity per key) makes the hashable
    subset (keys + interval columns) already unique per logical row.
    """
    if dedup:
        from unicargo_medallion_data_pipeline_spark.functions.hashing import hashable_cols

        src = dim.dropDuplicates(hashable_cols(dim))
    else:
        src = dim
    t = F.lit(ts).cast("timestamp")
    return src.filter(
        (F.col("effective_from") <= t)
        & (F.col("effective_to").isNull() | (F.col("effective_to") > t))
    )
