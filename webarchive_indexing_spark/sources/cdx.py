"""CDX line scan + sink (SURVEY.md §2.1 S4/S5, §1.1).

The classic 11-field CDX line (``CDX N b a m s k r M S V g``):
``urlkey timestamp url mime status digest redirect robotflags length
offset filename`` — space-delimited, ``-`` for missing, sorted by
(urlkey, timestamp).  The reference writes one sorted ``.cdx.gz`` per
WARC [U indexwarcsjob.py::_load_and_index] and re-reads them as lines
in the sample/cluster jobs [U samplecdxjob.py / zipnumclusterjob.py
mappers].

Spark mapping: lines → ``split`` projection with typed casts (all
JVM-side); sink = ``sortWithinPartitions`` + gzip-codec text write.
CDXJ (urlkey ts {json}) parses the JSON tail with ``from_json``.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sqltext import sql_ident

CDX_FIELDS = [
    ("urlkey", T.StringType()),
    ("timestamp", T.StringType()),  # 14-digit, string-sortable
    ("url", T.StringType()),
    ("mime", T.StringType()),
    ("status", T.IntegerType()),
    ("digest", T.StringType()),
    ("redirect", T.StringType()),
    ("robotflags", T.StringType()),
    ("length", T.LongType()),
    ("offset", T.LongType()),
    ("filename", T.StringType()),
]

CDX_SCHEMA = T.StructType([T.StructField(n, t, True) for n, t in CDX_FIELDS])


def parse_cdx_lines(lines: DataFrame, column: str = "value") -> DataFrame:
    """Text lines → typed CDX DataFrame ('-' → NULL, numeric casts).

    Damage-tolerant by construction: ``try_element_at`` NULLs missing
    fields on truncated lines (``getItem`` throws under ANSI) and
    ``try_cast`` NULLs non-numeric status/length/offset instead of
    failing the task — one corrupt line must never kill a 100 TB scan."""
    parts = F.split(F.col(column), " ")
    cols = []
    for i, (name, dtype) in enumerate(CDX_FIELDS):
        c = F.try_element_at(parts, F.lit(i + 1))
        c = F.when(c == "-", F.lit(None)).otherwise(c)
        cols.append(c.try_cast(dtype).alias(name))
    return lines.select(*cols)


def to_cdx_lines(cdx: DataFrame) -> DataFrame:
    """Typed CDX DataFrame → one-column DataFrame of CDX lines
    (NULL → '-'); inverse of parse_cdx_lines."""
    parts = [
        F.coalesce(F.col(name).cast("string"), F.lit("-")) for name, _ in CDX_FIELDS
    ]
    return cdx.select(F.concat_ws(" ", *parts).alias("value"))


#: the canonical 11-field header line pywb's writer emits at file head
#: [U CDX file format spec: delimiter char, literal CDX, field letters]
#: — matches CDX_FIELDS positionally, so header-declared and classic
#: parses agree on files we write.
CDX11_HEADER = " CDX N b a m s k r M S V g"


def write_cdx_gz(
    cdx: DataFrame,
    path: str,
    *,
    sorted_within: bool = True,
    header: bool | str = False,
) -> None:
    """S4 gzipped-CDX sink: partition-local sort (the reference sorts
    each per-WARC CDX with pywb ``sort=True``) then gzip text.

    ``header=True`` writes the `` CDX N b a m s k r M S V g`` header
    line at the head of every output file (pywb's ``write_cdx_index``
    emits it per file [U CDX spec]), making the archive
    self-describing for ``read_cdx_auto`` and third-party CDX
    toolchains; pass a string to emit a custom dialect line.  The
    prepend is an Arrow-batched per-partition map (one file per
    partition, header before the first batch) — no RDD, no driver
    round-trip, partition-local sort preserved."""
    out = cdx
    if sorted_within:
        out = out.sortWithinPartitions("urlkey", "timestamp")
    hdr = CDX11_HEADER if header is True else (header or None)
    write_lines_gz(to_cdx_lines(out), path, header=hdr)


def write_lines_gz(
    lines: DataFrame, path: str, *, header: str | None = None
) -> None:
    """Gzip text sink for a one-column ``value`` line frame, with an
    optional per-file header line — the distributed write primitive
    behind ``write_cdx_gz`` and the legacy-dialect fixtures (one file
    per partition; the header prepend is an Arrow-batched
    per-partition map, no RDD, partition order preserved)."""
    if header is not None:
        hdr = header
        schema = lines.schema

        def prepend(batches):
            import pandas as pd

            yield pd.DataFrame({"value": [hdr]})
            yield from batches

        lines = lines.mapInPandas(prepend, schema=schema)
    lines.write.mode("overwrite").option("compression", "gzip").text(path)


def read_cdx_gz(spark: SparkSession, path: str) -> DataFrame:
    """S5 CDX scan: gzipped (or plain) CDX text → typed DataFrame."""
    return parse_cdx_lines(spark.read.text(path))


#: CDX header letter → typed column (the IA CDX legend subset this
#: schema types; pywb reads the same letters [U pywb cdx formats]).
#: Letters outside the map (e=IP, v=uncompressed offset, n=doc length,
#: h/p/o url parts, ...) parse positionally and are dropped.
CDX_LETTER_COLUMNS = {
    "N": "urlkey",  # massaged url
    "A": "urlkey",  # canonized url (older writers)
    "b": "timestamp",
    "a": "url",
    "m": "mime",
    "s": "status",
    "k": "digest",  # new-style checksum
    "c": "digest",  # old-style checksum (only when no 'k' column)
    "r": "redirect",
    "M": "robotflags",  # meta tags (AIF)
    "S": "length",  # compressed record size
    "V": "offset",  # compressed arc file offset
    "g": "filename",
}


def parse_cdx_header(header: str) -> list[str | None]:
    """`` CDX A b e a m s c k r V g``-style header line → per-position
    column names (``None`` = positionally parsed but dropped).

    Grammar [U CDX file format spec; pywb cdxobject]: the line's FIRST
    character is the field delimiter, followed by the literal ``CDX``
    and the delimiter-separated field letters; bare ``CDX ...`` (no
    leading delimiter) is accepted too.  When both old- and new-style
    checksum columns are present (``c`` and ``k``), ``k`` wins and the
    ``c`` position is dropped."""
    if header.startswith("CDX"):
        delim, body = " ", header[3:]
    elif len(header) > 4 and header[1:4] == "CDX" and header[0] == header[4]:
        delim, body = header[0], header[4:]
    else:
        raise ValueError(f"not a CDX header line: {header!r}")
    letters = [x for x in body.split(delim) if x]
    if not letters or any(len(x) != 1 for x in letters):
        raise ValueError(f"malformed CDX header fields: {header!r}")
    cols: list[str | None] = []
    seen: set[str] = set()
    for ch in letters:
        name = CDX_LETTER_COLUMNS.get(ch)
        if ch == "c" and "k" in letters:
            name = None  # new-style checksum outranks old-style
        if name in seen:
            name = None  # first occurrence wins (e.g. N before A)
        cols.append(name)
        if name is not None:
            seen.add(name)
    return cols


def parse_cdx_lines_positional(
    lines: DataFrame, positions: list[str | None], column: str = "value",
    delim: str = " ",
) -> DataFrame:
    """Text lines → typed CDX DataFrame under an EXPLICIT field order
    (from ``parse_cdx_header``).  Columns absent from the dialect come
    back NULL, so every 9/10/11-field archive loads into the one
    canonical schema.  Same damage tolerance as ``parse_cdx_lines``
    (``try_element_at`` + ``try_cast``), same all-JVM projection."""
    # \Q...\E-quote the delimiter — split() takes a Java regex
    parts = F.split(F.col(column), "\\Q" + delim + "\\E")
    by_name = {name: i for i, name in enumerate(positions) if name is not None}
    cols = []
    for name, dtype in CDX_FIELDS:
        if name in by_name:
            c = F.try_element_at(parts, F.lit(by_name[name] + 1))
            c = F.when(c == "-", F.lit(None)).otherwise(c).try_cast(dtype)
        else:
            c = F.lit(None).cast(dtype)
        cols.append(c.alias(name))
    return lines.select(*cols)


def read_cdx_auto(spark: SparkSession, path: str) -> DataFrame:
    """S5 dialect-sniffing CDX scan: peeks the first line — a
    `` CDX ...`` header maps field positions dynamically (9/10/11-field
    legacy archives all load); no header falls back to the classic
    11-field order.  The sniff is ONE driver-side ``head`` over the
    pruned first partition (metadata-sized at any corpus size); the
    scan itself stays a declarative split-projection, and header lines
    (each file of a legacy archive repeats the header) are dropped by
    an exact-match filter."""
    lines = spark.read.text(path)
    first = lines.head(1)
    header = first[0].value if first else ""
    try:
        positions = parse_cdx_header(header)
    except ValueError:
        return parse_cdx_lines(lines)
    delim = " " if header.startswith("CDX") else header[0]
    # drop every header-SHAPED line, not just byte-identical ones — a
    # multi-file archive repeats the header per file and the letter
    # list can drift; built from the DETECTED delimiter so any
    # delimiter character works.  A data line cannot collide: CDX
    # urlkeys are lowercase SURT, never the literal uppercase 'CDX'
    # first field.
    q = "\\Q" + delim + "\\E"
    is_header = F.col("value").rlike(f"^(?:{q})?CDX{q}")
    return parse_cdx_lines_positional(
        lines.filter(~is_header), positions, delim=delim
    )


def parse_cdx_any_lines(
    lines: DataFrame, column: str = "value", keep: list[str] | None = None
) -> DataFrame:
    """Typed parse of MIXED classic-CDX / CDXJ lines in one projection.

    The real Common Crawl ZipNum cluster stores CDXJ (``urlkey ts
    {json}``) while classic archives store the positional 11-field
    form; a reader that serves both (pywb sniffs per line [U pywb cdx
    formats]) dispatches on the third field's leading ``{`` — a pure
    conditional column, no second scan, no driver-side format probe.
    The JSON tail may contain spaces, so it is cut at the first
    `` {`` rather than split positionally.  Same damage tolerance as
    both dedicated parsers (``try_element_at`` + ``try_cast`` +
    ``from_json`` → NULL on malformed JSON).

    The projection is ONE ``selectExpr`` over SQL strings built once
    per column name (``_any_line_exprs``): every ``F.*``/``Column``
    call also records its Python call site in the JVM, so the
    Column-built form of these 11 expressions cost ~1000 py4j calls
    per parse — the dominant driver cost of a cdx-server lookup."""
    return lines.selectExpr(
        *[sql_ident(k) for k in (keep or [])], *_any_line_exprs(column)
    )


@functools.lru_cache(maxsize=None)
def _any_line_exprs(column: str) -> tuple[str, ...]:
    """The SQL expressions of ``parse_cdx_any_lines`` over ``column``."""
    v = sql_ident(column)
    parts = f"split({v}, ' ')"
    is_j = f"startswith(try_element_at({parts}, 3), '{{')"
    props = (
        f"from_json(substring({v}, instr({v}, ' {{') + 1, length({v})), "
        "'map<string,string>')"
    )
    jkeys = dict(CDXJ_KEYS)

    def dash_null(c: str) -> str:
        return f"CASE WHEN {c} = '-' THEN NULL ELSE {c} END"

    # urlkey/timestamp get the same '-' -> NULL mapping as every other
    # field — the classic writer serializes NULL keys as '-', and the
    # roundtrip must give NULL back, not a literal dash
    exprs = [
        f"{dash_null(f'try_element_at({parts}, {i})')} AS {sql_ident(name)}"
        for i, name in ((1, "urlkey"), (2, "timestamp"))
    ]
    for i, (name, dtype) in enumerate(CDX_FIELDS[2:], start=3):
        classic = dash_null(f"try_element_at({parts}, {i})")
        c = f"CASE WHEN {is_j} THEN {props}['{jkeys[name]}'] ELSE {classic} END"
        exprs.append(f"try_cast({c} AS {dtype.simpleString()}) AS {sql_ident(name)}")
    return tuple(exprs)


def parse_cdxj_lines(lines: DataFrame, column: str = "value") -> DataFrame:
    """CDXJ scan: ``urlkey SP timestamp SP {json}`` → urlkey, timestamp,
    and the JSON tail as a map column (dynamic keys)."""
    v = F.col(column)
    first = F.instr(v, " ")
    rest = F.substring(v, first + 1, F.length(v))
    second = F.instr(rest, " ")
    return lines.select(
        F.substring(v, F.lit(1), first - 1).alias("urlkey"),
        F.substring(rest, F.lit(1), second - 1).alias("timestamp"),
        F.from_json(
            F.substring(rest, second + 1, F.length(rest)), "map<string,string>"
        ).alias("props"),
    )


#: classic-CDX column → CDXJ JSON key (the key names pywb/cc-index use)
CDXJ_KEYS = [
    ("url", "url"),
    ("mime", "mime"),
    ("status", "status"),
    ("digest", "digest"),
    ("redirect", "redirect"),
    ("robotflags", "robotflags"),
    ("length", "length"),
    ("offset", "offset"),
    ("filename", "filename"),
]


def cdxj_line_expr() -> "F.Column":
    """The CDXJ line (``urlkey ts {json}``) as a COLUMN expression
    over a typed CDX frame — shared by the file sink
    (``to_cdxj_lines``) and serializing queries (TimeMap CDXJ) so
    there is exactly one implementation of the line grammar.  NULL
    fields are omitted from the JSON (CDXJ convention) rather than
    written as '-'; ``to_json`` over a map built from the non-null
    entries keeps the whole conversion JVM-side."""
    entries = []
    for col, key in CDXJ_KEYS:
        entries.append(
            F.when(
                F.col(col).isNotNull(),
                F.struct(F.lit(key).alias("k"), F.col(col).cast("string").alias("v")),
            )
        )
    kvs = F.filter(F.array(*entries), lambda e: e.isNotNull())
    js = F.to_json(
        F.map_from_arrays(
            F.transform(kvs, lambda e: e.getField("k")),
            F.transform(kvs, lambda e: e.getField("v")),
        )
    )
    # concat_ws silently DROPS null args, which would shift the line to
    # two fields and corrupt the parse — key columns fall back to '-'
    # (same placeholder as the classic-CDX twin).
    return F.concat_ws(
        " ",
        F.coalesce(F.col("urlkey"), F.lit("-")),
        F.coalesce(F.col("timestamp"), F.lit("-")),
        js,
    )


def to_cdxj_lines(cdx: DataFrame) -> DataFrame:
    """Typed CDX DataFrame → CDXJ lines, the format the Common Crawl
    index serves (grammar: ``cdxj_line_expr``)."""
    return cdx.select(cdxj_line_expr().alias("value"))


def cdxj_to_cdx(cdxj: DataFrame) -> DataFrame:
    """Typed projection of a parsed CDXJ DataFrame back to the classic
    CDX schema (missing JSON keys → NULL, numeric casts)."""
    cols = [F.col("urlkey"), F.col("timestamp")]
    types = dict(CDX_FIELDS)
    for col, key in CDXJ_KEYS:
        cols.append(F.col("props").getItem(key).cast(types[col]).alias(col))
    return cdxj.select(*cols)
