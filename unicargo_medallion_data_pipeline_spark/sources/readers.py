"""Batch sources (SURVEY §2.1 S1-S4).

Reference counterparts:
  - S1 explicit-schema CSV scan: ``unicargo_etl/scripts/01_bronze/etl_operations.py:4-10``
  - S2 catalog table scan: gold notebooks cell 2-3
  - S3 path scan: ``bronze_orchestrator.py:231``
  - S4 local-collection source: ``src/logging_utils/task_logger_utils.py:169``
    (``spark.createDataFrame`` itself — no wrapper here)

The engine is declarative-first: every reader returns a lazy DataFrame so
Catalyst can push filters/column pruning into the scan.  Schemas are always
explicit (never inferred) — on a 100 TB lake an inference pass is a full
extra read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: The driver-provided synthetic tables (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_parquet(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    """S3 — columnar path scan; schema optional (parquet is self-describing)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_json(
    spark: SparkSession, path: str, schema: StructType, multiline: bool = False
) -> DataFrame:
    """JSON-lines scan with a fixed, explicit schema (beyond-reference:
    the raw-dump format most training-data feeds arrive in).

    The explicit schema matters doubly here: JSON inference is a full
    extra pass AND schema-on-read drift (a field going missing upstream)
    surfaces as typed nulls instead of silent shape changes.  Keep
    ``multiline=False`` for lake-scale inputs — one-object-per-line is
    splittable; a multiline JSON file is a single task.
    """
    return (
        spark.read.schema(schema)
        .option("multiLine", str(multiline).lower())
        .json(path)
    )


#: Column name used to capture unparseable source lines.
CORRUPT_COL = "_corrupt_record"


def read_csv_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: StructType,
    quote_audit: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """S1 hardened for production ingest: ``(good, quarantine)`` split.

    A plain PERMISSIVE CSV read silently nulls malformed cells —
    at lake scale that quietly corrupts downstream aggregates, while
    FAILFAST turns one bad upstream line into a dead pipeline and
    DROPMALFORMED loses the evidence.  The quarantine pattern keeps all
    three properties: good rows flow typed, every rejected ORIGINAL line
    is preserved verbatim for replay/debugging, and nothing aborts.
    Every file starts with a header line (S1's shape; ``csv_line_census``
    subtracts one per file for the conservation gate).

    One physical pass over the input: the parsed frame (with the
    corrupt-record column populated by the CSV parser itself) is pinned
    with an eager ``localCheckpoint`` and both splits read the
    materialized blocks.  The pin is also a correctness requirement —
    Spark's analyzer rejects lazy queries that reference ONLY the
    internal corrupt-record column ([UNSUPPORTED_FEATURE.
    QUERY_ONLY_CORRUPT_RECORD_COLUMN]: under CSV column pruning the
    parser would never populate it); checkpointing materializes the full
    parse first, exactly as the Spark docs prescribe (their variant uses
    ``cache()`` — localCheckpoint blocks are instead freed by the
    ContextCleaner when the frames are dropped, the same no-leak
    rationale as textops/dedup.py).  A row quarantines when ANY cell
    fails its declared type or the column count is wrong.  Note the scan
    therefore executes at call time, not lazily.

    QUOTED-NEWLINE HANDLING (r11 hazard, r12 fix): the split is
    LINE-granular by contract (the splittable, conservation-countable
    form).  A quoted cell containing a RAW NEWLINE is two physical
    lines; the line parser accepts the first fragment as a good row
    with the cell silently TRUNCATED at the line break and quarantines
    only the tail fragment (verified against every univocity
    unescapedQuoteHandling mode; none rejects an unterminated quote at
    EOL).  With ``quote_audit=True`` (default) the reader closes that
    loop: physical lines whose double-quote count is ODD — exactly the
    head/tail fragments of a quoted-newline record — are rerouted to
    the quarantine side verbatim, and their silently-truncated parsed
    twins are subtracted from the good frame, so a producer emitting
    Excel-style quoted newlines loses no data silently.  Conservation
    still balances: every physical data line lands in exactly one of
    (good, quarantine).

    Cost model: the audit is one extra text scan plus a pinned
    ``exceptAll`` of the odd-parity lines against the quarantine side;
    the subtraction from the good frame (``exceptAll``, which shuffles
    the good side) runs ONLY when fragments actually exist.  A caller
    that already knows the input has no odd-parity line skips all of it
    with ``quote_audit=False``: ``run_bronze`` counts odd-parity lines
    in its conservation census (``csv_line_census``, the same text scan
    that counts raw lines) and passes ``quote_audit=n_odd > 0``, so a
    violation-free ingest pays that one census scan and nothing else.
    ``quote_audit=False`` is also the pure one-pass r11 behavior for
    trusted producers.

    Residual (documented) hazards: a cell containing MULTIPLE raw
    newlines has balanced interior lines that parse as plausible rows
    (only the head/tail fragments are detectable at line granularity);
    and a VALID row containing a lone unquoted literal ``"`` (accepted
    by univocity under STOP_AT_DELIMITER) has odd parity and is
    indistinguishable at line granularity from a true head fragment, so
    it is conservatively rerouted to quarantine — conservation still
    holds (the line lands in quarantine exactly once and its parsed twin
    leaves good exactly once), but a replayable valid row sits on the
    quarantine side.  Producers who legitimately emit bare quotes should
    escape them (``\\"``, which the parity count honors) or set
    ``quote_audit=False``.  The reroute is PAIRED with the subtraction:
    a flagged line is only moved when its standalone re-parse succeeds
    (see inline comment), so no physical line is ever double-counted.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    if CORRUPT_COL in schema.fieldNames():
        raise ValueError(f"schema already contains {CORRUPT_COL!r}")
    aug = StructType([*schema.fields]).add(CORRUPT_COL, StringType())
    df = (
        spark.read.schema(aug)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
    ).localCheckpoint(eager=True)
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    quarantine = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_line")
    )
    if not quote_audit:
        return good, quarantine

    # Fragments the parser already quarantined (tail pieces) stay where
    # they are; the rest — the parser-ACCEPTED head pieces — move to
    # quarantine, and their truncated parsed rows leave the good frame.
    odd = audit_csv_quote_balance(spark, path).select("raw_line")
    accepted_fragments = odd.exceptAll(quarantine).localCheckpoint(eager=True)
    if accepted_fragments.isEmpty():
        return good, quarantine

    # Parse each fragment line standalone with the SAME parser options;
    # univocity truncates an unterminated quote at EOL identically in
    # from_csv and the path scan, so the parsed twin matches the row the
    # full parse accepted and exceptAll removes exactly one instance.
    # The reroute and the subtraction stay PAIRED (r12 advice): a
    # flagged line moves to quarantine ONLY when its standalone parse
    # succeeds — i.e. only when a parsed twin actually leaves the good
    # frame.  A flagged line whose standalone parse comes back corrupt
    # (e.g. an odd-parity HEADER line, which the path scan consumed and
    # the typed re-parse rejects) is rerouted nowhere: it was never a
    # data row, so conservation (every physical data line in exactly one
    # of good/quarantine) holds instead of the line being double-counted.
    ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in aug.fields)
    parsed = accepted_fragments.select(
        "raw_line",
        F.from_csv(
            "raw_line",
            ddl,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
        ).alias("r"),
    ).filter(F.col(f"r.{CORRUPT_COL}").isNull())
    fragment_rows = parsed.select("r.*").drop(CORRUPT_COL)
    good = good.exceptAll(fragment_rows)
    quarantine = quarantine.unionAll(parsed.select("raw_line"))
    return good, quarantine


def audit_csv_quote_balance(spark: SparkSession, path: str) -> DataFrame:
    """Detect the quoted-newline hazard the line-granular quarantine
    reader cannot (see read_csv_with_quarantine): physical lines whose
    double-quote count is ODD are record fragments — a cell opened a
    quote the line never closed (the head fragment the parser silently
    truncates) or closed one it never opened (the quarantined tail).

    Returns (raw_line, n_quotes) for every suspect line.  One text scan,
    pure column expressions, splittable.  As of r12 this audit is wired
    INTO ``read_csv_with_quarantine`` (``quote_audit=True``), which
    reroutes the flagged fragments to quarantine; it remains public as a
    standalone quality metric — a non-empty result means some upstream
    producer is emitting raw newlines inside cells.

    The parity count mirrors the PARSER'S escape convention: Spark's
    CSV reader (and writer) default to backslash escaping, so an
    escape-prefixed character (``\\"`` — or an escaped escape) is
    consumed before counting.  Without this, any legitimate quote
    inside a cell — which the default writer emits as ``\\"`` — reads
    as odd parity and a perfectly valid single-line record would be
    flagged (found by the r12 full-catalog sweep on the CSV roundtrip
    query).  RFC-4180 doubled quotes (``""``) count as two and stay
    parity-neutral on their own."""
    from pyspark.sql import functions as F

    lines = spark.read.text(path).select(F.col("value").alias("raw_line"))
    return lines.select("raw_line", _quote_count("raw_line").alias("n_quotes")).filter(
        F.col("n_quotes") % 2 == 1
    )


def _quote_count(col: str):
    """Unescaped double quotes in a text line (the parity count of
    ``audit_csv_quote_balance``): escape-prefixed characters are
    dropped before counting."""
    from pyspark.sql import functions as F

    unescaped = F.regexp_replace(col, r"\\.", "")
    return F.length(unescaped) - F.length(F.regexp_replace(unescaped, '"', ""))


def csv_line_census(spark: SparkSession, path: str) -> tuple[int, int]:
    """``(n_raw, n_odd)`` for a CSV file or directory, from one text scan.

    ``n_raw`` is the number of data lines: NON-EMPTY lines minus one
    header per file that has any.  The CSV parser skips blank lines (so
    a trailing newline is not a record) and a zero-byte file has no
    header.  ``n_odd`` is the number of lines with odd quote parity,
    i.e. ``audit_csv_quote_balance(spark, path).count()``: zero means
    no quoted-newline fragment can exist, so the quarantine reader's
    quote audit has nothing to find."""
    from pyspark.sql import functions as F

    per_file = (
        spark.read.text(path)
        .groupBy(F.input_file_name())
        .agg(
            F.count_if(F.length("value") > 0).alias("n"),
            F.count_if(_quote_count("value") % 2 == 1).alias("odd"),
        )
        .collect()
    )
    n_raw = sum(max(int(r["n"]) - 1, 0) for r in per_file)
    return n_raw, sum(int(r["odd"]) for r in per_file)


def read_jsonl_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: StructType,
) -> tuple[DataFrame, DataFrame]:
    """JSON-lines ingest hardened like the CSV path: ``(good,
    quarantine)`` split with every malformed ORIGINAL line preserved.

    The raw-dump corpora most training pipelines ingest are JSONL, and
    upstream producers break in the same ways CSV does (truncated
    lines, type drift, stray non-JSON records).  Same machinery as
    ``read_csv_with_quarantine``: PERMISSIVE parse with
    ``columnNameOfCorruptRecord``, one physical pass pinned by an eager
    localCheckpoint (the analyzer rejects lazy corrupt-column-only
    queries for JSON exactly as for CSV), then two filters over the
    materialized parse.  A row quarantines on unparseable JSON or a
    type mismatch against the declared schema; fields merely MISSING
    from a valid object stay typed nulls (schema-drift tolerance, not
    corruption).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    if CORRUPT_COL in schema.fieldNames():
        raise ValueError(f"schema already contains {CORRUPT_COL!r}")
    aug = StructType([*schema.fields]).add(CORRUPT_COL, StringType())
    df = (
        spark.read.schema(aug)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    ).localCheckpoint(eager=True)
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    quarantine = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_line")
    )
    return good, quarantine


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = True,
) -> DataFrame:
    """Binary-file source for the multimodal pipeline: one row per file
    with ``(path, modificationTime, length, content binary)`` — the
    ingest end of ``textops/multimodal.py`` (bytes → decode → features
    via Arrow-batched mapInPandas).

    Uses Spark's native ``binaryFile`` format: the driver lists files
    (no data read), executors read contents lazily, and pushed filters
    on path/length/modificationTime prune BEFORE bytes move — e.g.
    ``.filter("length < 10*1024*1024")`` never downloads oversized
    blobs.  ``glob`` maps to pathGlobFilter (file-name pattern only).
    Scale note: each file is one row — pack small objects upstream
    (tar/parquet-of-binary) rather than listing 10^9 tiny files; the
    listing, not the bytes, becomes the bottleneck.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    reader = reader.option("recursiveFileLookup", str(recursive).lower())
    return reader.load(path)


def read_xml(
    spark: SparkSession,
    path: str,
    schema: StructType,
    row_tag: str = "row",
    options: dict | None = None,
) -> DataFrame:
    """XML scan with a fixed, explicit schema (Spark 4 native ``xml``
    source — no external package).  ``row_tag`` names the repeating
    element that becomes one row.

    Why no quarantine variant (probed live, round 10): the XML source's
    ``columnNameOfCorruptRecord`` is DOCUMENT-granular, not
    row-granular — a single untypeable cell yields the good rows AND an
    extra corrupt row carrying the whole file's text, so the
    good+quarantined == raw conservation gate the CSV/JSONL quarantine
    paths enforce cannot hold.  Validate XML upstream, or route rows
    through ``quality/expectations`` after the scan.

    Scale note: one XML document is ONE parse unit — prefer many
    moderate files over one giant document (same splittability logic as
    multiline JSON)."""
    reader = spark.read.schema(schema).format("xml").option("rowTag", row_tag)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.load(path)


def read_orc(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    """ORC path scan (beyond-reference) — same pushdown/pruning behavior
    as parquet via the vectorized ORC reader."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def read_table(spark: SparkSession, name: str) -> DataFrame:
    """S2 — managed catalog table scan."""
    return spark.read.table(name)


#: The only AnalysisException conditions that legitimately mean "the
#: maintained table has no readable state yet": nothing at the path, or
#: a directory with no data files to infer a schema from.
_EMPTY_READ_CONDITIONS = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def _is_empty_read_error(exc) -> bool:
    """True iff ``exc`` is the absent/zero-file read condition.  Checks
    the structured error class (getCondition on Spark 4, getErrorClass
    on 3.x) and falls back to the message prefix for builds that attach
    neither."""
    for attr in ("getCondition", "getErrorClass"):
        get = getattr(exc, attr, None)
        if get is None:
            continue
        try:
            cond = get()
        except Exception:  # pragma: no cover - defensive on exotic builds
            continue
        if cond is not None:
            return cond.split(".")[0] in _EMPTY_READ_CONDITIONS
    return any(c in str(exc) for c in _EMPTY_READ_CONDITIONS)


def _read_or_empty(like: DataFrame, thunk) -> DataFrame:
    """Shared absent-state fallback for every maintained-table format:
    run ``thunk`` (the actual read); coerce ONLY the absent/zero-file
    analysis conditions to an empty frame shaped like ``like``.  Any
    OTHER analysis failure — corrupt contents, schema conflicts —
    re-raises instead of masquerading as an empty table (r11 ADVICE
    item 5, extended to all formats in r13: no format path may coerce
    genuine analysis errors to empty)."""
    from pyspark.errors import AnalysisException

    try:
        return thunk()
    except AnalysisException as e:
        if _is_empty_read_error(e):
            return like.limit(0)
        raise


def read_parquet_or_empty(spark: SparkSession, path: str, like: DataFrame) -> DataFrame:
    """Read a maintained parquet table; absent/schema-less → empty.

    A partitioned write of ZERO rows materializes no files (dynamic
    partitioning has no partition values to create), so a maintained
    table whose every applied batch was empty cannot be read back —
    Spark raises UNABLE_TO_INFER_SCHEMA.  At scale that is a real state
    (a filter that matched nothing yet), not an error: return the empty
    frame shaped like ``like`` instead.  Found by the round-11
    degenerate-input robustness sweep.

    Only the absent/zero-file conditions are coerced to empty (r11
    ADVICE item 5): any OTHER analysis failure — corrupt contents,
    schema conflicts — re-raises, instead of masquerading as an empty
    table."""
    return _read_or_empty(like, lambda: spark.read.parquet(path))


def read_orc_or_empty(spark: SparkSession, path: str, like: DataFrame) -> DataFrame:
    """ORC twin of ``read_parquet_or_empty`` — same narrowed
    discrimination: absent path / zero data files → empty frame shaped
    like ``like``; every other analysis failure re-raises."""
    return _read_or_empty(like, lambda: spark.read.orc(path))


def read_xml_or_empty(
    spark: SparkSession,
    path: str,
    like: DataFrame,
    row_tag: str = "row",
) -> DataFrame:
    """XML twin of ``read_parquet_or_empty``.  The explicit schema comes
    from ``like`` (XML is not self-describing, and inferring over a
    maintained table would be the extra pass explicit-schema readers
    exist to avoid); absent path / zero files → empty, anything else
    re-raises."""
    return _read_or_empty(
        like,
        lambda: spark.read.schema(like.schema)
        .format("xml")
        .option("rowTag", row_tag)
        .load(path),
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (parquet) by name.

    ``events.ts`` has shipped in two physical forms across driver testdata
    generations: parquet TIMESTAMP(NANOS) (which Spark 4 rejects unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is on) and µs TIMESTAMP_NTZ
    (isAdjustedToUTC=false). Both are normalized to a session-zone
    TimestampType column: nanos truncate to µs; NTZ casts wall-clock-
    preserving under the engine's pinned UTC session zone
    (``session.py:32``). The LTZ form is required downstream — event-time
    watermarks (``withWatermark``) reject TIMESTAMP_NTZ outright.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:  # pragma: no cover - conf locked in exotic deployments
            pass
        df = spark.read.parquet(path)
        from pyspark.sql import functions as F  # local import keeps module light

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # EXACT ns→µs floor: `/` is double division, whose bigint
            # cast rounds modern epoch-nanos (~1.7e18, ULP 256 ns) onto
            # the wrong microsecond near 1000 ns boundaries.  Subtract
            # pmod first so the integer `div` is exact for any sign
            # (pre-1970 included) — matching DuckDB's native ns→µs
            # truncation on the same parquet bit-for-bit.
            df = df.withColumn(
                "ts",
                F.timestamp_micros(
                    F.expr("(ts - pmod(ts, 1000)) div 1000").cast("long")
                ),
            )
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)
