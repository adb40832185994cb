"""Cluster-safe staging directories for write-stage-swap patterns.

``tempfile.mkdtemp`` is DRIVER-LOCAL: on a real cluster the executors
cannot see a path under the driver's ``/tmp``, so a staged write +
read-back through one only works in local mode.  The engine's one
stage-then-swap (partitioned compaction) instead stages to a sibling
directory on the SAME filesystem as the target — visible to every
executor wherever the target lives (file://, hdfs://, s3a://) — and
removes it through the Hadoop FileSystem API.  Writes that overwrite
what they read (MERGE, rollup maintenance, deletes, flat compaction)
pin their input with an eager ``localCheckpoint`` instead.

The sibling starts with ``_`` so that even when the parent directory is
itself scanned as a table root, Spark's file index ignores the staging
remnants (same convention as ``_SUCCESS`` / ``_temporary``).
"""

from __future__ import annotations

import posixpath
import uuid

from pyspark.sql import SparkSession


def write_dynamic_overwrite(df, target_path: str, *partition_cols: str) -> None:
    """Partitioned parquet overwrite replacing ONLY the partitions
    present in ``df`` (dynamic mode), scoped to this single write via
    ``DataFrameWriter.option`` — never the session conf.

    One shared implementation: the save/set/try-finally session-conf
    bookkeeping was copy-pasted five times (merge, SCD2, rollup,
    deletes, compaction) and then centralized; but even the centralized
    context manager toggled the SESSION-wide mode, so a concurrent job
    in the same SparkSession doing a full INSERT OVERWRITE during the
    window silently became a partial overwrite.  The writer option has
    per-write scope (Spark ≥ 2.4) and closes that race entirely."""
    (
        df.write.mode("overwrite")
        .format("parquet")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .save(target_path)
    )


def staging_path(target_path: str, prefix: str) -> str:
    """A unique staging dir next to ``target_path`` (same filesystem)."""
    clean = target_path.rstrip("/")
    parent = posixpath.dirname(clean) or "."
    return posixpath.join(parent, f"_{prefix}_staging_{uuid.uuid4().hex}")


def remove_path(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path`` via the Hadoop FileSystem API."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(hpath, True)


_SCRATCH_ROOT: str | None = None


def scratch_dir(prefix: str) -> str:
    """A process-scoped scratch directory (LOCAL-mode working tables —
    the catalog's mutation/ACID queries stage demo tables here).

    All scratch dirs live under ONE per-process root that is removed at
    interpreter exit: bare ``tempfile.mkdtemp`` per query invocation
    leaked ~10 table copies per catalog sweep, and repeated bench
    best-of-N runs multiplied that until /tmp filled on long-running
    harness hosts.  Driver-local by design (unlike :func:`staging_path`,
    which stages next to cluster targets): these tables exist only for
    the duration of a local correctness/bench run."""
    global _SCRATCH_ROOT
    import atexit
    import shutil
    import tempfile

    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="umdp_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)
