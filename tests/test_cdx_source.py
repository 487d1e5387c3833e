"""CDX line scan/sink round-trip (S4/S5) + CDXJ parse (SURVEY.md §5.2)."""

from __future__ import annotations

import glob
import gzip
import os
import tempfile

from pyspark.sql import functions as F

from webarchive_indexing_spark.queries.cdx_surface import derived_cdx
from webarchive_indexing_spark.sources.cdx import (
    CDX_SCHEMA,
    parse_cdx_lines,
    parse_cdxj_lines,
    read_cdx_gz,
    to_cdx_lines,
    write_cdx_gz,
)


def _sample_cdx(spark, sf_dir):
    c = derived_cdx(spark, sf_dir)
    # give the full 11-field shape (derived view lacks url/redirect/robotflags)
    return c.select(
        "urlkey",
        F.col("ts14").alias("timestamp"),
        F.concat(F.lit("https://example.org/"), F.col("urlkey")).alias("url"),
        "mime",
        "status",
        "digest",
        F.lit(None).cast("string").alias("redirect"),
        F.lit(None).cast("string").alias("robotflags"),
        "length",
        "offset",
        "filename",
    )


def test_cdx_line_roundtrip(spark, sf_dir):
    cdx = _sample_cdx(spark, sf_dir)
    lines = to_cdx_lines(cdx)
    back = parse_cdx_lines(lines)
    assert back.schema == CDX_SCHEMA
    a = sorted(map(tuple, cdx.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_cdx_gz_sink_is_standard_gzip(spark, sf_dir):
    cdx = _sample_cdx(spark, sf_dir).limit(200)
    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "cdx")
        write_cdx_gz(cdx.repartition(2), out)
        files = glob.glob(os.path.join(out, "*.txt.gz"))
        assert files, "expected gzip part files"
        # independently decompress with stock gzip → prove standard members
        n = 0
        for f in files:
            with gzip.open(f, "rt") as fh:
                for line in fh:
                    assert len(line.split(" ")) == 11
                    n += 1
        assert n == 200
        # partition-local sort: lines within each file are ordered
        for f in files:
            with gzip.open(f, "rt") as fh:
                keys = [tuple(ln.split(" ")[:2]) for ln in fh]
            assert keys == sorted(keys)
        back = read_cdx_gz(spark, out)
        assert back.count() == 200


def test_cdx_gz_header_emission_roundtrip(spark, sf_dir):
    """header=True: every part file leads with the EXACT pywb header
    line, rows stay sorted below it, and read_cdx_auto loads the
    archive back losslessly (headers dropped, positions mapped)."""
    from webarchive_indexing_spark.sources.cdx import (
        CDX11_HEADER,
        read_cdx_auto,
    )

    assert CDX11_HEADER == " CDX N b a m s k r M S V g"
    cdx = _sample_cdx(spark, sf_dir).limit(120)
    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "cdx")
        write_cdx_gz(cdx.repartition(3), out, header=True)
        files = glob.glob(os.path.join(out, "*.txt.gz"))
        assert len(files) == 3
        for f in files:
            with gzip.open(f, "rt") as fh:
                lines = fh.read().splitlines()
            assert lines[0] == CDX11_HEADER
            keys = [tuple(ln.split(" ")[:2]) for ln in lines[1:]]
            assert keys == sorted(keys)
        back = read_cdx_auto(spark, out)
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, cdx.collect())
        )
        # custom dialect string passes through verbatim
        write_cdx_gz(cdx.coalesce(1), out, header=" CDX N b a g")
        f = glob.glob(os.path.join(out, "*.txt.gz"))[0]
        with gzip.open(f, "rt") as fh:
            assert fh.readline().rstrip("\n") == " CDX N b a g"


def test_cdxj_parse(spark):
    rows = [
        ('com,example)/a 20150101000000 {"url": "http://example.com/a", "status": "200"}',),
        ('com,example)/b 20160202000000 {"url": "http://example.com/b", "digest": "XYZ"}',),
    ]
    df = spark.createDataFrame(rows, ["value"])
    out = parse_cdxj_lines(df).collect()
    assert out[0].urlkey == "com,example)/a"
    assert out[0].timestamp == "20150101000000"
    assert out[0].props["status"] == "200"
    assert out[1].props["digest"] == "XYZ"


def test_cdxj_roundtrip_through_typed_cdx(spark, sf_dir):
    """typed CDX → CDXJ lines → parse → typed projection == original
    (the conversion a reference user needs to serve a cc-index-style
    CDXJ cluster from the same pipeline)."""
    from webarchive_indexing_spark.queries.cdx_surface import derived_cdx
    from webarchive_indexing_spark.sources.cdx import cdxj_to_cdx, to_cdxj_lines

    cdx = derived_cdx(spark, sf_dir).select(
        "urlkey",
        F.col("ts14").alias("timestamp"),
        F.concat(F.lit("https://x/"), F.col("digest")).alias("url"),
        "mime",
        "status",
        "digest",
        F.lit(None).cast("string").alias("redirect"),
        F.lit(None).cast("string").alias("robotflags"),
        "length",
        "offset",
        "filename",
    ).orderBy("urlkey", "timestamp").limit(300)  # deterministic subset
    lines = to_cdxj_lines(cdx)
    sample = lines.take(1)[0].value
    # shape: urlkey SP ts SP {json}; nulls omitted, not '-'
    assert sample.split(" ", 2)[2].startswith("{")
    assert '"redirect"' not in sample
    back = cdxj_to_cdx(parse_cdxj_lines(lines))
    a = sorted(map(tuple, cdx.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_parse_tolerates_malformed_lines(spark):
    """Real CDX files carry damage: short lines, non-numeric status,
    empty lines.  The parse must yield NULLs, never throw — a single
    bad line must not kill a 100 TB scan (ANSI mode would make the
    int cast throw; try_cast-through-when semantics keep it NULL)."""
    from webarchive_indexing_spark.sources.cdx import parse_cdx_lines

    lines = spark.createDataFrame(
        [
            ("com,ok)/ 20200101000000 http://ok/ text/html 200 D - - 10 0 f.gz",),
            ("com,short)/ 20200101000000",),  # truncated
            ("",),  # empty
            ("com,bad)/ ts http://x/ mime NOTANUMBER D - - abc xyz f.gz",),
        ],
        "value string",
    )
    rows = parse_cdx_lines(lines).collect()
    assert len(rows) == 4
    ok = {r.urlkey: r for r in rows if r.urlkey}
    assert ok["com,ok)/"].status == 200 and ok["com,ok)/"].length == 10
    assert ok["com,short)/"].url is None and ok["com,short)/"].status is None
    assert ok["com,bad)/"].status is None  # non-numeric -> NULL, no throw
    assert ok["com,bad)/"].length is None


def test_orc_mirror_roundtrip(spark, sf_dir):
    """S8: the index mirrors to ORC (Spark-native, no extra jars) with
    full fidelity — same rows back, and predicate pushdown reaches the
    ORC reader just like parquet."""
    import tempfile

    from webarchive_indexing_spark.queries.cdx_surface import derived_cdx

    d = tempfile.mkdtemp(prefix="cdx_orc_")
    src = derived_cdx(spark, sf_dir)
    src.write.mode("overwrite").orc(d)
    back = spark.read.orc(d)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))
    plan = (
        back.filter(back.status == 200)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "status" in plan.split(
        "PushedFilters: [", 1
    )[1].split("]", 1)[0]


def test_cdx_header_grammar():
    """`` CDX ...`` header parsing: delimiter detection, letter→column
    mapping, checksum precedence, duplicate handling, rejects."""
    import pytest

    from webarchive_indexing_spark.sources.cdx import parse_cdx_header

    # classic 11-field
    assert parse_cdx_header(" CDX N b a m s k r M S V g") == [
        "urlkey", "timestamp", "url", "mime", "status", "digest",
        "redirect", "robotflags", "length", "offset", "filename",
    ]
    # 9-field with unknown letters positionally dropped
    assert parse_cdx_header(" CDX A b e a m s c k r V g") == [
        "urlkey", "timestamp", None, "url", "mime", "status",
        None,  # old-style checksum 'c' dropped when 'k' present
        "digest", "redirect", "offset", "filename",
    ]
    # no 'k': old-style 'c' becomes the digest
    assert parse_cdx_header(" CDX N b c g") == [
        "urlkey", "timestamp", "digest", "filename",
    ]
    # first occurrence wins when two letters map to one column
    assert parse_cdx_header(" CDX N A b") == ["urlkey", None, "timestamp"]
    # tab-delimited form: first char is the delimiter
    assert parse_cdx_header("\tCDX\tN\tb\tg") == ["urlkey", "timestamp", "filename"]
    # bare (no leading delimiter) accepted
    assert parse_cdx_header("CDX N b") == ["urlkey", "timestamp"]
    with pytest.raises(ValueError):
        parse_cdx_header("org,example)/ 20200101000000 - text/html 200")
    with pytest.raises(ValueError):
        parse_cdx_header(" CDX Nb multi")


def test_read_cdx_auto_dialects(spark):
    """read_cdx_auto: header-declared 9-field and tab-delimited files
    load into the canonical schema (missing columns NULL, header lines
    dropped); headerless files fall back to the classic 11-field parse."""
    import gzip
    import os
    import tempfile

    from webarchive_indexing_spark.sources.cdx import read_cdx_auto

    d9 = tempfile.mkdtemp(prefix="cdx9_")
    with gzip.open(os.path.join(d9, "a.cdx.gz"), "wt") as fh:
        fh.write(" CDX N b a m s k r V g\n")
        fh.write("com,ex)/1 20200101000000 http://ex.com/1 text/html 200 DIG1 - 512 f.warc.gz\n")
        fh.write("com,ex)/2 20200102000000 - text/html 301 DIG2 http://ex.com/3 1024 f.warc.gz\n")
    rows = {r.urlkey: r for r in read_cdx_auto(spark, d9).collect()}
    assert len(rows) == 2  # header line dropped
    r1 = rows["com,ex)/1"]
    assert (r1.timestamp, r1.url, r1.status, r1.digest) == (
        "20200101000000", "http://ex.com/1", 200, "DIG1")
    assert r1.offset == 512 and r1.filename == "f.warc.gz"
    assert r1.length is None and r1.robotflags is None  # not in dialect
    assert rows["com,ex)/2"].redirect == "http://ex.com/3"

    dt = tempfile.mkdtemp(prefix="cdxt_")
    with open(os.path.join(dt, "t.cdx"), "w") as fh:
        fh.write("\tCDX\tN\tb\ts\tg\n")
        fh.write("com,ex)/t\t20200103000000\t404\tg.warc.gz\n")
    rt = read_cdx_auto(spark, dt).collect()
    assert len(rt) == 1 and rt[0].status == 404 and rt[0].filename == "g.warc.gz"

    dh = tempfile.mkdtemp(prefix="cdxh_")
    with open(os.path.join(dh, "h.cdx"), "w") as fh:
        fh.write("com,ex)/h 20200104000000 http://ex.com/h text/html 200 D - - 9 99 h.warc.gz\n")
    rh = read_cdx_auto(spark, dh).collect()
    assert len(rh) == 1 and rh[0].length == 9 and rh[0].offset == 99


def test_positional_parser_never_raises(spark):
    """Damage-tolerance property (hypothesis): arbitrary junk lines —
    truncated, overlong, non-numeric, control chars — parse to rows
    with NULLs under ANY header-declared field order; one corrupt line
    must never kill a scan.  Mirrors the WARC byte-fuzz pin."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from webarchive_indexing_spark.sources.cdx import (
        parse_cdx_header,
        parse_cdx_lines_positional,
    )

    positions = parse_cdx_header(" CDX A b e a m s c k r V g")
    printable = st.text(
        alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FF),
        max_size=120,
    )

    @settings(max_examples=30, deadline=None)
    @given(st.lists(printable, min_size=1, max_size=8))
    def prop(lines):
        df = spark.createDataFrame([(ln,) for ln in lines], "value string")
        rows = parse_cdx_lines_positional(df, positions).collect()
        assert len(rows) == len(lines)  # no line lost, no exception

    prop()


def test_parse_cdx_any_lines_mixed(spark):
    """Mixed classic/CDXJ input in ONE frame: per-line conditional
    dispatch types both; NULL-omitted JSON fields == '-' fields."""
    from webarchive_indexing_spark.sources.cdx import parse_cdx_any_lines

    rows = [
        # classic 11-field
        ("com,a)/ 20200101000000 http://a.com/ text/html 200 DIGA - - 10 100 a.warc.gz",),
        # CDXJ with spaces inside the JSON tail and omitted fields
        ('com,b)/ 20200102000000 {"url": "http://b.com/x y", "status": "301", "digest": "DIGB"}',),
    ]
    df = spark.createDataFrame(rows, ["value"])
    got = {r.urlkey: r for r in parse_cdx_any_lines(df).collect()}
    a, b = got["com,a)/"], got["com,b)/"]
    assert (a.status, a.length, a.offset, a.redirect) == (200, 10, 100, None)
    assert (b.url, b.status, b.digest) == ("http://b.com/x y", 301, "DIGB")
    assert b.mime is None and b.length is None  # omitted JSON keys -> NULL


def test_any_lines_parser_never_raises(spark):
    """Damage-tolerance property for the DEFAULT cluster read parser
    (mixed classic/CDXJ): junk lines — braces mid-line, truncated
    JSON, control chars — parse to NULL-padded rows, never raise."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from webarchive_indexing_spark.sources.cdx import parse_cdx_any_lines

    printable = st.text(
        alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FF),
        max_size=120,
    )

    @settings(max_examples=30, deadline=None)
    @given(st.lists(printable, min_size=1, max_size=8))
    def prop(lines):
        df = spark.createDataFrame([(ln,) for ln in lines], "value string")
        rows = parse_cdx_any_lines(df).collect()
        assert len(rows) == len(lines)

    prop()


def _column_form_any_lines(lines, keep=()):
    """The Column-builder form of ``parse_cdx_any_lines`` (one
    ``F.*`` call per sub-expression) — the reference the one-call SQL
    projection must reproduce row for row."""
    from webarchive_indexing_spark.sources.cdx import CDX_FIELDS, CDXJ_KEYS

    v = F.col("value")
    parts = F.split(v, " ")
    is_j = F.try_element_at(parts, F.lit(3)).startswith("{")
    props = F.from_json(
        F.substring(v, F.instr(v, " {") + 1, F.length(v)), "map<string,string>"
    )
    jkeys = dict(CDXJ_KEYS)

    def dash_null(c):
        return F.when(c == "-", F.lit(None)).otherwise(c)

    cols = [
        dash_null(F.try_element_at(parts, F.lit(1))).alias("urlkey"),
        dash_null(F.try_element_at(parts, F.lit(2))).alias("timestamp"),
    ]
    for i, (name, dtype) in enumerate(CDX_FIELDS[2:], start=3):
        classic = dash_null(F.try_element_at(parts, F.lit(i)))
        c = F.when(is_j, props.getItem(jkeys[name])).otherwise(classic)
        cols.append(c.try_cast(dtype).alias(name))
    return lines.select(*[F.col(k) for k in keep], *cols)


def test_any_lines_sql_projection_matches_column_form(spark):
    """The one-``selectExpr`` parse gives the Column-form rows and
    schema on damaged lines: truncated, '-' keys, a malformed JSON
    tail, non-numeric status (classic and CDXJ), an empty line."""
    from webarchive_indexing_spark.sources.cdx import parse_cdx_any_lines

    lines = [
        "com,a)/ 20200101000000 http://a.com/ text/html 200 DIGA - - 10 100 a.warc.gz",
        "com,a)/ 20200101000000 http://a.com/",  # truncated
        "com,t)/",  # truncated to the key
        "- - http://dash.com/ - - - - - - - -",  # '-' keys and fields
        "com,b)/ 20200102000000 {\"url\": \"http://b.com/x y\", \"status\": \"301\"}",
        "com,c)/ 20200103000000 {\"url\": \"http://c.com/\", \"status\"",  # bad JSON
        "com,d)/ 20200104000000 http://d.com/ text/html abc DIGD - - x1 y2 d.warc.gz",
        "com,e)/ 20200105000000 {\"status\": \"2xx\", \"length\": \"-5\"}",
        "",
    ]
    df = spark.createDataFrame(
        [(i, ln) for i, ln in enumerate(lines)], "page int, value string"
    )
    got = parse_cdx_any_lines(df, keep=["page"])
    want = _column_form_any_lines(df, keep=["page"])
    assert got.schema == want.schema
    by_page = {r.page: tuple(r) for r in got.collect()}
    assert by_page == {r.page: tuple(r) for r in want.collect()}
    assert len(by_page) == len(lines)
