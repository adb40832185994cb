"""``stream_ingest``: ``availableNow`` drains of a landed ``events`` table
through three streaming paths:

* ``streaming.windows``  — ``tumbling_window_agg`` to a parquet sink,
* ``streaming.stateful`` — ``sessionize_with_state`` to a parquet sink,
* ``streaming.writers``  — ``write_stream_cdc_apply`` into a
  ``sources.acid.ManifestTable`` keyed by ``user_id``.

The events are fixed.  They are landed as :data:`FILES` files in
event-time order (so no event arrives behind the watermark); with more
than one file the seed decides where the cuts fall.  Each scenario
drains one data batch per file plus, for the two watermarked ones, the
batch that closes the last windows.  A batch costs about as much with
no rows as with a few thousand (planning, state-store and commit work),
so the inputs are small.  One operation is one micro-batch.  After
every drain the sinks are checked: the tumbling and session sinks must equal their
batch twins ``events_tumbling_5min`` and ``events_sessionization`` on
every window or session the final watermark has closed, and the CDC
table must hold exactly one row per user, carrying that user's latest
event.  The twins are computed by DuckDB from the catalog's oracle SQL
for those two queries (which ``pin.py`` checks against the Spark
twins), so the reference comes from another engine and costs no Spark
time.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from types import SimpleNamespace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import Clock

DATA_SEED = 42
EVENTS = 4_000
#: Landed files, one micro-batch each.  One file keeps a
#: ``catalog_stream`` run inside its share of the benchmark's time
#: budget; each further file adds about 6 s to a drain.
FILES = 1
FILES_PER_TRIGGER = 1
CUT_JITTER = 0.1  # a cut lies within this share of a file from the even split
WATERMARK_S = 600  # the operators' default 10-minute watermark delay
GAP_S = 1800  # sessionize gap and the batch twin's inactivity gap
SCENARIOS = ("streaming.windows", "streaming.stateful", "streaming.writers")
#: Scenarios with a state store; the CDC writer keeps no streaming state.
STATEFUL = ("streaming.windows", "streaming.stateful")


def events() -> pa.Table:
    """The event stream, whole-second timestamps in UTC.  Whole seconds
    keep the stream sessionizer (microsecond gaps) and its batch twin
    (``unix_timestamp`` second gaps) on the same session boundaries."""
    from datagen import events_table

    t = events_table(np.random.default_rng(DATA_SEED), EVENTS)
    ts = t.column("ts").cast(pa.int64()).to_numpy() // 1_000_000 * 1_000_000
    return t.set_column(
        t.schema.get_field_index("ts"), "ts", pa.array(ts, pa.timestamp("us", tz="UTC"))
    )


def land(table: pa.Table, out_dir: str, seed: int) -> None:
    """Cut the time-ordered events into :data:`FILES` files of about
    equal size, each cut at a seeded point within :data:`CUT_JITTER` of
    a file's share from the even split; file names and mtimes follow
    event time."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = table.num_rows
    share = n / FILES
    bounds = [0, *(round(share * (k + rng.uniform(-CUT_JITTER, CUT_JITTER))) for k in range(1, FILES)), n]
    base = time.time() - 3600
    for k in range(FILES):
        path = os.path.join(out_dir, f"events-{k:04d}.parquet")
        pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]), path)
        os.utime(path, (base + k, base + k))


def make_inputs(spark, work: str, seed: int) -> SimpleNamespace:
    """Make and land the events; ``setup_s`` is the time that takes.
    The batch-twin results are computed after it (untimed)."""
    landing = os.path.join(work, "landing")
    with Clock() as c:
        table = events()
        land(table, landing, seed)
    return SimpleNamespace(landing=landing, work=work, expected=Expected(table), setup_s=c.s)


def _progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def _drain(spark, name: str, landing: str, schema, out: str):
    from pyspark.sql import functions as F

    from unicargo_medallion_data_pipeline_spark.streaming.readers import read_streaming_path
    from unicargo_medallion_data_pipeline_spark.streaming.writers import (
        write_stream_cdc_apply,
        write_stream_to_path,
    )

    opts = {"maxFilesPerTrigger": str(FILES_PER_TRIGGER)}
    stream = read_streaming_path(spark, landing, schema, options=opts)
    ckpt = os.path.join(out, "ckpt")
    trigger = {"availableNow": True}
    if name == "streaming.windows":
        from unicargo_medallion_data_pipeline_spark.streaming.windows import tumbling_window_agg

        return write_stream_to_path(
            tumbling_window_agg(stream), os.path.join(out, "sink"), ckpt,
            output_mode="append", trigger=trigger, file_format="parquet",
        )
    if name == "streaming.stateful":
        from unicargo_medallion_data_pipeline_spark.streaming.stateful import sessionize_with_state

        return write_stream_to_path(
            sessionize_with_state(stream, gap_seconds=GAP_S), os.path.join(out, "sink"), ckpt,
            output_mode="append", trigger=trigger, file_format="parquet",
        )
    from unicargo_medallion_data_pipeline_spark.sources.acid import ManifestTable

    target = ManifestTable(spark, os.path.join(out, "table"))
    seed_rows = (
        spark.read.schema(schema).parquet(landing).limit(0)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )
    target.commit(seed_rows, base_version=-1)
    changes = stream.select(
        "user_id", "event_id", "ts", "event_type", "value",
        F.lit("u").alias("op"), F.col("event_id").alias("_seq"),
    )
    return write_stream_cdc_apply(changes, target, checkpoint=ckpt, key_cols=["user_id"], trigger=trigger)


class Expected:
    """Batch-twin results, computed once per run (untimed)."""

    def __init__(self, table: pa.Table):
        import duckdb

        from unicargo_medallion_data_pipeline_spark.plans.all import CATALOG

        ts = table.column("ts").cast(pa.int64()).to_numpy() // 1_000_000
        self.wm = int(ts.max()) - WATERMARK_S
        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        # naive UTC timestamps, as in the catalog's events table
        con.register("events", table.set_column(
            table.schema.get_field_index("ts"), "ts", table.column("ts").cast(pa.timestamp("us"))
        ))

        def rows(query: str, cols: str) -> list[tuple]:
            return con.execute(f"SELECT {cols} FROM ({CATALOG[query].sql}) t").fetchall()

        self.tumbling = {
            (r[0], r[1]): (r[2], round(float(r[3]), 6))
            for r in rows("events_tumbling_5min", "CAST(epoch(window_start) AS BIGINT), event_type, n_events, total_value")
        }
        self.sessions = {
            (r[0], r[1]): (r[2], r[3], round(float(r[4]), 6))
            for r in rows("events_sessionization", "user_id, session_start_epoch, session_end_epoch, n_events, session_value")
        }
        con.close()
        users, ids, vals = (table.column(c).to_numpy() for c in ("user_id", "event_id", "value"))
        latest: dict[int, tuple[int, float]] = {}
        for u, i, v in zip(users.tolist(), ids.tolist(), vals.tolist()):
            if u not in latest or i > latest[u][0]:
                latest[u] = (i, round(v, 6))
        self.cdc = latest

    def check(self, spark, name: str, out: str) -> list[str]:
        from pyspark.sql import functions as F

        if name == "streaming.windows":
            got = {
                (r[0], r[1]): (r[2], round(float(r[3]), 6))
                for r in spark.read.parquet(os.path.join(out, "sink"))
                .select(F.unix_timestamp("window_start"), "event_type", "n_events", "total_value").collect()
            }
            want = {k: v for k, v in self.tumbling.items() if k[0] + 300 < self.wm}
            boundary = {k for k in self.tumbling if k[0] + 300 == self.wm}
        elif name == "streaming.stateful":
            got = {
                (r[0], r[1]): (r[2], r[3], round(float(r[4]), 6))
                for r in spark.read.parquet(os.path.join(out, "sink"))
                .select("user_id", F.unix_timestamp("session_start"), F.unix_timestamp("session_end"),
                        "n_events", "total_value").collect()
            }
            want = {k: v for k, v in self.sessions.items() if v[0] + GAP_S < self.wm}
            boundary = {k for k, v in self.sessions.items() if v[0] + GAP_S == self.wm}
        else:
            from unicargo_medallion_data_pipeline_spark.sources.acid import ManifestTable

            rows = ManifestTable(spark, os.path.join(out, "table")).read().select("user_id", "event_id", "value").collect()
            got = {r[0]: (r[1], round(float(r[2]), 6)) for r in rows}
            if len(rows) != len(got):
                return [f"{name}: {len(rows) - len(got)} duplicate user rows"]
            want, boundary = self.cdc, set()
        got = {k: v for k, v in got.items() if k not in boundary}
        if got == want:
            return []
        missing = len(set(want) - set(got))
        extra = len(set(got) - set(want))
        differ = sum(1 for k in set(want) & set(got) if want[k] != got[k])
        return [f"{name}: {missing} missing, {extra} unexpected, {differ} differing rows"]


def run(spark, tracer, inputs, seed: int, seconds: float, pins: dict) -> dict:
    from unicargo_medallion_data_pipeline_spark.sources import acid

    landing, work, expected = inputs.landing, inputs.work, inputs.expected
    schema = spark.read.parquet(landing).schema
    drains, batch_ms, failures, layer_runs = [], [], [], []
    attempted = 0
    t_end = time.perf_counter() + seconds
    while not drains or time.perf_counter() < t_end:
        drain_s, per = 0.0, {}
        with tracer.patched(acid.ManifestTable, "commit", "sources.acid.commit"), tracer.span("drain") as d:
            for name in SCENARIOS:
                out = os.path.join(work, f"drain{len(drains)}", name)
                with tracer.span(name) as sp:
                    t0 = time.perf_counter()
                    try:
                        query, err = _drain(spark, name, landing, schema, out), None
                    except Exception as e:  # noqa: BLE001 - a failed drain is counted, not fatal
                        query, err = None, f"{name}: {type(e).__name__}: {e}"[:300]
                    drain_s += time.perf_counter() - t0
                prog = _progress(query) if query is not None else []
                lat = [p["durationMs"]["triggerExecution"] for p in prog if "triggerExecution" in p.get("durationMs", {})]
                n_ops = max(1, len(lat))
                attempted += n_ops
                bad = [err] if err else expected.check(spark, name, out)
                if bad:
                    failures.append({"op": f"drain{len(drains)}:{name}", "batches": n_ops, "mismatch": bad})
                batch_ms += lat
                per[name] = (sp, prog)
        drains.append(drain_s)
        if tracer.enabled:
            layer_runs.append(_layers(tracer, d, per, drain_s))
        shutil.rmtree(os.path.join(work, f"drain{len(drains) - 1}"), ignore_errors=True)
    return {
        "unit_walls_s": drains,
        "op_latencies_s": [ms / 1000.0 for ms in batch_ms],
        "attempted": attempted,
        "failed": sum(f["batches"] for f in failures),
        "failures": failures,
        "detail": {
            "events": EVENTS,
            "files": FILES,
            "drains": len(drains),
            "stream_rows_per_s": statistics.median(len(SCENARIOS) * EVENTS / s for s in drains),
        },
        "layers": {k: statistics.median(r[k] for r in layer_runs) for k in layer_runs[0]} if layer_runs else {},
    }


def _layers(tracer, drain_span, per: dict, drain_s: float) -> dict:
    out = {}
    for name, (sp, prog) in per.items():
        dur = [p.get("durationMs", {}) for p in prog]

        def med(key, dur=dur):
            vals = [d[key] for d in dur if key in d]
            return statistics.median(vals) if vals else 0

        last = (prog[-1].get("stateOperators") or []) if prog else []
        batches = len(prog)
        out[f"{name}.batches"] = batches
        out[f"{name}.add_batch_ms"] = med("addBatch")
        out[f"{name}.get_batch_ms"] = med("getBatch")
        out[f"{name}.query_planning_ms"] = med("queryPlanning")
        out[f"{name}.commit_ms"] = med("commitOffsets")
        if name in STATEFUL:
            out[f"{name}.state_rows"] = sum(s.get("numRowsTotal", 0) for s in last)
            out[f"{name}.state_memory_bytes"] = sum(s.get("memoryUsedBytes", 0) for s in last)
        out[f"{name}.tasks_per_batch"] = tracer.counters(sp)["tasks"] / max(1, batches)
    commits = [s for s in tracer.named("sources.acid.commit") if drain_span.start <= s.start and s.end <= drain_span.end]
    out["sources.acid.commit_s"] = sum(s.seconds for s in commits)
    c = tracer.counters(drain_span)
    out["spark.task_retry_ratio"] = c["task_attempts_failed"] / max(1, c["tasks"])
    out["spark.stage_skip_ratio"] = c["stages_skipped"] / max(1, c["stages"])
    out["trace.wall_s"] = drain_s
    return out
