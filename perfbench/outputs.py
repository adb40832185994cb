"""Output fingerprints: a row count plus an order-insensitive content
hash (the sum of per-row ``xxhash64`` values), computed by Spark in the
same job that materializes the result.

Map columns have no defined iteration order, so they are hashed as
their key-sorted entry arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import MapType


def _hashable(df: DataFrame) -> list:
    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, MapType):
            c = F.array_sort(F.map_entries(c))
        cols.append(c)
    return cols


def _aggs(df: DataFrame) -> list:
    row_hash = F.xxhash64(*_hashable(df)) if df.columns else F.lit(0)
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(row_hash.cast("decimal(38,0)")).alias("xxsum"),
    ]


def _pack(rows, xxsum) -> dict:
    return {"rows": int(rows), "xxsum": None if xxsum is None else str(xxsum)}


def observe(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a fingerprint observation attached; read it with
    :func:`observed` after an action on the returned frame."""
    obs = Observation()
    return df.observe(obs, *_aggs(df)), obs


def observed(obs: Observation) -> dict:
    m = obs.get
    return _pack(m["rows"], m["xxsum"])


def fingerprint_tables(spark, tables: dict[str, str]) -> dict[str, dict]:
    """``{label: table name}`` → ``{label: fingerprint}`` in one job."""
    parts = [
        spark.read.table(full).agg(*_aggs(spark.read.table(full))).select(
            F.lit(label).alias("label"), "rows", "xxsum"
        )
        for label, full in tables.items()
    ]
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    return {r["label"]: _pack(r["rows"], r["xxsum"]) for r in union.collect()}
