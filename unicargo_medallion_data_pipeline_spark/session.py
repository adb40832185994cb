"""SparkSession factory.

Reference counterpart: the reference relies on the Databricks runtime to
provide a tuned session (``resources/clusters.yml:1-16``, DBR 16.4 → AQE on
by default).  Here the session is built explicitly for open-source Spark:
AQE + skew-join handling on, a shuffle-partition count sized for the local
harness but overridable for cluster deployment, UTC session time zone so
date/time semantics are stable across engines (and match the DuckDB oracle),
and Arrow enabled for the few pandas-interop paths.

Scale note (100 TB): every knob here is config, not code — on a real cluster
``spark.sql.shuffle.partitions`` should be ~2-3× total cores (or left to AQE
coalescing), and ``spark.sql.files.maxPartitionBytes`` kept at 128-256 MB so
scan tasks stay balanced.  Nothing in the engine assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults applied to every session the engine creates.  Deployments can
#: override any of these via ``extra_conf`` or ``SPARK_GRAFT_*`` env vars.
_DEFAULT_CONF: dict[str, str] = {
    # Runtime re-planning: coalesce post-shuffle partitions, split skewed
    # ones. Free insurance at any scale.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic date/time semantics regardless of host TZ.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for toPandas / pandas UDF exchange.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Don't let a tiny dim table fall back to sort-merge.
    "spark.sql.autoBroadcastJoinThreshold": "32m",
    # Trust within-bucket sort order at scan time.  SAFETY (r15, pinned
    # by tests/test_bucket_guard.py): Spark's planner re-verifies the
    # layout — with this conf on it lists the bucket files and claims
    # the ordering ONLY when every bucket is a single file, re-sorting
    # otherwise, so a foreign multi-file bucketed table cannot yield a
    # wrong sort-free SMJ.  save_bucketed_table guarantees the one-file
    # layout (repartition onto the bucket hash before write), verifies
    # it on disk, and stamps spark_graft.one_file_per_bucket;
    # sources.writers.read_bucketed_table additionally refuses
    # unverifiable tables as defense-in-depth.
    # Benefit: removes the per-query Sort under every sort-merge join
    # on bucketed facts — at 100 TB that is re-sorting the lake once
    # per query versus never.  Cost: a file listing at planning,
    # already paid by the scan.
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
    # Parquet scans: stable 128 MB split targets.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def session_state(spark: SparkSession) -> dict:
    """The engine's per-session memo dict (pinned universes, the flights
    silver star, write-once table state, bucket trust verdicts).

    Held on the ``SparkSession`` object itself, so it lives exactly as
    long as that object: a new session (``getOrCreate`` after ``stop``,
    or ``newSession()``) starts empty, and a stopped session's state is
    collected with it.  Nothing is keyed by ``id()``, so a recycled
    address can never hand one session another's state.  Callers own
    their keys and keep their own validity checks."""
    return vars(spark).setdefault("_engine_state", {})


def get_spark(
    app_name: str = "unicargo-medallion-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    when no cluster master is configured; on a real cluster pass
    ``master=None`` with ``--master`` supplied by spark-submit.
    """
    builder = SparkSession.builder.appName(app_name)
    local_mode = False
    if master is None:
        # honor $SPARK_MASTER by APPLYING it — merely skipping the local
        # default would leave the builder masterless (Spark itself never
        # reads this variable) and crash plain-python entrypoints
        env_master = os.environ.get("SPARK_MASTER")
        if env_master:
            master = env_master
        else:
            cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
            master = f"local[{cpus}]"
    if master and master.startswith("local"):
        local_mode = True
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULT_CONF)
    # Single-node harness: put shuffle/spill files on tmpfs — the local VM's
    # disk shows intermittent multi-second stalls that add pure noise to
    # benchmarks.  Cluster deployments keep Spark's default local dirs
    # (set explicitly via extra_conf / spark-submit).
    if local_mode and os.path.isdir("/dev/shm"):
        shm = "/dev/shm/spark-local"
        os.makedirs(shm, exist_ok=True)
        conf.setdefault("spark.local.dir", shm)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
