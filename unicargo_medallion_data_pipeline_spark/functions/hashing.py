"""Hash/order type guards shared by every full-row-hash site.

Spark's hash family (``xxhash64``/``hash``) and its sort order both
reject MapType — and VariantType — at analysis time, so any operator
that hashes or orders by "all columns" of a CALLER-supplied frame
breaks on the first map-carrying schema.  Round 8 fixed one such site
(the CDC no-`_seq` tiebreak); round 9's hunt found the same latent
class in the streaming merge tiebreak and the skew salt.  This module
is the single definition they all share.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def xxhashable(dt) -> bool:
    """True iff ``xxhash64`` accepts the type (equivalently: the type is
    orderable) — MapType, VariantType, and anything nesting one fail
    analysis in both the hash family and sort orders."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType) or dt.typeName() == "variant":
        return False
    if isinstance(dt, T.ArrayType):
        return xxhashable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(xxhashable(f.dataType) for f in dt.fields)
    return True


def hashable_cols(df: DataFrame, exclude: tuple[str, ...] = ()) -> list[str]:
    """Names of ``df``'s hashable/orderable columns, minus ``exclude``."""
    return [
        f.name
        for f in df.schema.fields
        if f.name not in exclude and xxhashable(f.dataType)
    ]


def md5_row_json(cols: list[str]) -> Column:
    """128-bit tiebreak over the FULL row image — including map/variant
    columns the hash family rejects — via its JSON rendering.

    Why it exists: every no-sequence "pick one winner per key" site
    orders by ``xxhash64`` of the hashable columns first, but two rows
    differing ONLY in an unhashable column share that hash, and a 64-bit
    collision between distinct rows would likewise tie — in both cases
    ``row_number`` would pick nondeterministically, violating the
    documented picks-reproducibly contract.  An md5 of the JSON row
    image breaks those ties second (r8 ADVICE for the CDC sink; round 10
    extends the same secondary ordering to the SCD2 latest-per-key and
    the streaming-merge no-seq tiebreak).
    """
    return F.md5(F.to_json(F.struct(*[F.col(c) for c in cols])))


def _needs_canon(dt) -> bool:
    """True iff ``dt`` contains, at any depth reachable through
    array/struct/map-value containers, a map with an orderable key type
    — i.e. something :func:`canonical_json` can and must reorder."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        # A map with an unorderable key type can't be canonically
        # sorted, so its stored order leaks into the text regardless of
        # what we do to its values — leave the whole subtree alone.
        return xxhashable(dt.keyType)
    if isinstance(dt, T.ArrayType):
        return _needs_canon(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_needs_canon(f.dataType) for f in dt.fields)
    return False


def _canon_orderable(dt) -> bool:
    """Would the CANONICALIZED form of ``dt`` be orderable?  Maps become
    arrays of (key, value) structs, so orderability reduces to the key
    and the canonicalized value; variant stays unorderable."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return xxhashable(dt.keyType) and _canon_orderable(dt.valueType)
    if isinstance(dt, T.ArrayType):
        return _canon_orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_canon_orderable(f.dataType) for f in dt.fields)
    return dt.typeName() != "variant"


def _canon(col: Column, dt) -> Column:
    """Recursively rewrite ``col`` so every reachable orderable-key map
    is replaced by its entry array sorted by key.  Only called when
    ``_needs_canon(dt)``; passes untouchable subtrees through as-is."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType) and xxhashable(dt.keyType):
        entries = F.map_entries(col)
        if _needs_canon(dt.valueType):
            entries = F.transform(
                entries,
                lambda e: F.struct(
                    e["key"].alias("key"),
                    _canon(e["value"], dt.valueType).alias("value"),
                ),
            )
        if _canon_orderable(dt.valueType):
            # keys are unique, so whole-entry order is total
            return F.sort_array(entries)
        # map keys are never NULL, so the comparator is total
        return F.array_sort(
            entries,
            lambda a, b: F.when(a["key"] < b["key"], F.lit(-1))
            .when(a["key"] > b["key"], F.lit(1))
            .otherwise(F.lit(0)),
        )
    if isinstance(dt, T.ArrayType) and _needs_canon(dt.elementType):
        return F.transform(col, lambda x: _canon(x, dt.elementType))
    if isinstance(dt, T.StructType) and _needs_canon(dt):
        rebuilt = F.struct(
            *[_canon(col[f.name], f.dataType).alias(f.name) for f in dt.fields]
        )
        # Rebuilding would turn a NULL struct into a struct of NULLs,
        # which renders differently (and would spuriously equal a
        # genuinely all-NULL-fields struct) — keep NULL as NULL.
        return F.when(col.isNotNull(), rebuilt)
    return col


def canonical_json(col: Column, dt) -> Column:
    """Order-canonical JSON rendering of an UNHASHABLE column for
    equality comparison (``snapshot_diff`` / SCD2 change detection).

    A map's JSON text is entry-order-sensitive: two semantically equal
    maps stored with different entry order render differently, so plain
    ``to_json`` equality reports spurious "changed" rows / spurious new
    SCD2 versions whenever an upstream rebuilds a map in a different key
    order (round-10 ADVICE).  Every map with an orderable key type — at
    ANY nesting depth below struct/array/map-value containers (round-11
    verdict task 7; previously top-level only) — renders as its entry
    array sorted by key: entries sort wholly (keys are unique, so key
    order is total) when the canonicalized value type is also orderable,
    else by key alone via an ``array_sort`` comparator.  The residual
    fallbacks (variant values, maps with unorderable KEY types) still
    compare order-sensitively; documented at the call sites.

    Renders under a FIXED inner field name ``v`` because the struct
    field name is part of the JSON text — comparing differently-named
    columns (``x_old`` vs ``x_new``) through their own names would never
    be equal.  NULL-safety: a NULL value renders as ``{}`` on both sides
    (null struct fields are omitted), distinct from an empty map's
    ``{"v":[]}``; NULL structs/arrays/maps below the top level stay NULL
    through the rewrite.
    """
    out = _canon(col, dt) if _needs_canon(dt) else col
    return F.to_json(F.struct(out.alias("v")))


def row_hash(df: DataFrame, exclude: tuple[str, ...] = ()) -> Column:
    """Deterministic full-row xxhash64 that tolerates unhashable columns:
    hashes the hashable columns directly (fast path, identical to the
    historical ``xxhash64(*all)`` whenever no map/variant is present);
    an all-unhashable row falls back to hashing its JSON rendering.

    Limitation inherited by every caller: rows differing ONLY in
    unhashable columns share a hash value on the fast path — acceptable
    for salts/buckets/tiebreaks, where a shared value costs balance or
    an arbitrary-but-deterministic pick, never correctness.
    """
    cols = hashable_cols(df, exclude)
    if cols:
        return F.xxhash64(*[F.col(c) for c in cols])
    keep = [c for c in df.columns if c not in exclude]
    return F.xxhash64(F.to_json(F.struct(*[F.col(c) for c in keep])))
