"""Path-table write helpers: per-write dynamic partition overwrite,
Hadoop-FS directory removal, and process-scoped scratch directories.

Writes that overwrite what they read (MERGE, rollup maintenance,
deletes) pin their input with an eager ``localCheckpoint`` and then
call :func:`write_dynamic_overwrite`; directory removal goes through
the Hadoop FileSystem API so it works wherever the target lives
(file://, hdfs://, s3a://).
"""

from __future__ import annotations

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
    harness hosts.  Driver-local by design: these tables exist only for
    the duration of a local correctness/bench run."""
    global _SCRATCH_ROOT
    import atexit
    import shutil
    import tempfile

    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="umdp_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)
