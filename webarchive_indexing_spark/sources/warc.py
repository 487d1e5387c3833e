"""WARC ingestion (SURVEY.md §2.1 S1-S3, §3.1).

The reference's IndexWARCJob [U indexwarcsjob.py]: a manifest of WARC
paths fans out to tasks (~2 files each via NLineInputFormat); each
task streams a WARC, parses the gzip members into records, extracts
capture fields, SHA-1s the payload, and emits sorted CDX.

Spark shape: manifest DataFrame → ``repartition`` (task granularity)
→ ``mapPartitions`` parser → typed CDX DataFrame.  The parser is
per-partition imperative code by necessity (WARC is a byte-stream
format, records are produced imperatively — SURVEY.md §1.2); it
yields plain tuples, so everything downstream is DataFrame-land.
The skip-existing probe (S7) is a distributed left-anti join instead
of the reference's per-file S3 HEAD loop.

Formats handled (``parse_archive_file`` dispatches by magic bytes, so
one manifest can mix them — matching the reference's "WARC/ARC" claim
[U indexwarcsjob.py::_load_and_index ~L80-130], which delegated to
pywb's DefaultRecordParser):

* ``.warc.gz`` member-per-record (the Common Crawl / IIPC layout):
  each CDX row carries the member's COMPRESSED (offset, length) — the
  replay-correct seekable extent.
* ``.warc.gz`` with several records per gzip member (wget and ARC-era
  tools emit these): records are split on WARC Content-Length inside
  the decompressed member; every record in a member reports the
  MEMBER's compressed extent — gzip cannot start mid-member, so the
  member is the smallest seekable unit and a replayer scans it.
* plain ``.warc`` (uncompressed): true byte (offset, length) of each
  record — directly seekable.
* ``.arc(.gz)`` legacy: v1/v2 ``filedesc://`` version block, one
  space-separated header line per record (URL, IP, 14-digit date,
  mime, length); same offset semantics as the WARC variants.

Record types indexed: ``response`` ``revisit`` by default (pywb's
cdx-indexer defaults); ``record_types=`` opts into ``request`` /
``metadata`` / ``resource`` rows (pywb include-all semantics — request
rows carry the request block's Content-Type and no status, metadata/
resource rows the WARC record's own Content-Type); every non-filedesc
ARC record; HTTP status + Content-Type extraction; SHA-1
payload digest — hex by default, ``digest_b32=True`` emits pywb's
uppercase unpadded base32 so digests JOIN cleanly against existing
CDX/CDXJ indexes built by the upstream toolchain.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import re
import zlib
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.surt import surt_urlkey_py
from ..sources.cdx import CDX_SCHEMA

CRLF = b"\r\n"


# ---------------------------------------------------------------------------
# fixture writer (FIXTURES.md B2) — also the documentation of the
# exact subset the parser understands.
# ---------------------------------------------------------------------------


def build_warc_record_plain(
    url: str,
    date_iso: str,
    payload: bytes,
    *,
    rec_type: str = "response",
    mime: str = "text/html",
    status: int = 200,
    content_type: str | None = None,
    payload_digest: str | None = None,
    refers_to_url: str | None = None,
    refers_to_date: str | None = None,
    profile: str | None = None,
) -> bytes:
    """One WARC record, uncompressed (header block + HTTP block +
    record separator) — the unit every layout below composes.

    ``content_type`` is the RECORD-level Content-Type header; for
    non-HTTP types it defaults to the type's conventional value
    (``conversion`` → ``text/plain``, the Common Crawl WET shape,
    where the parser reads the record header as the row's mime)."""
    if rec_type == "response":
        http = (
            f"HTTP/1.1 {status} OK\r\nContent-Type: {mime}\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode() + payload
    else:
        http = payload
    if content_type is None:
        content_type = (
            "text/plain" if rec_type == "conversion"
            else "application/http; msgtype=response"
        )
    digest_line = (
        f"WARC-Payload-Digest: {payload_digest}\r\n"
        if payload_digest
        else ""
    )
    if refers_to_url:
        digest_line += f"WARC-Refers-To-Target-URI: {refers_to_url}\r\n"
    if refers_to_date:
        digest_line += f"WARC-Refers-To-Date: {refers_to_date}\r\n"
    if profile:
        digest_line += f"WARC-Profile: {profile}\r\n"
    headers = (
        f"WARC/1.0\r\n"
        f"WARC-Type: {rec_type}\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {date_iso}\r\n"
        f"Content-Length: {len(http)}\r\n"
        f"Content-Type: {content_type}\r\n"
        f"{digest_line}"
    ).encode()
    return headers + CRLF + http + CRLF + CRLF


def build_warc_record(url: str, date_iso: str, payload: bytes, **kw) -> bytes:
    """One WARC record as an independent gzip member."""
    return gzip.compress(build_warc_record_plain(url, date_iso, payload, **kw), mtime=0)


def write_mini_warc(path: str, records: list[dict], *, layout: str = "member") -> None:
    """Fixture writer for every container layout the parser handles:
    ``member`` = one gzip member per record (standard .warc.gz);
    ``single-member`` = ALL records in one gzip member (wget-style);
    ``plain`` = uncompressed .warc."""
    with open(path, "wb") as fh:
        if layout == "member":
            for r in records:
                fh.write(build_warc_record(**r))
        elif layout == "single-member":
            blob = b"".join(build_warc_record_plain(**r) for r in records)
            fh.write(gzip.compress(blob, mtime=0))
        elif layout == "plain":
            for r in records:
                fh.write(build_warc_record_plain(**r))
        else:
            raise ValueError(f"unknown layout {layout!r}")


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------


def iter_warc_members(data: bytes):
    """Yield (offset, compressed_length, record_bytes) per gzip member.

    Damage-tolerant: a corrupt or truncated member (interrupted
    uploads leave these at the tail of real crawl files) ends THIS
    file's iteration instead of raising through the task — at 100 TB
    one bad WARC must cost its own tail, not the stage."""
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            record = d.decompress(data[pos:])
        except zlib.error:
            return
        if not d.eof:
            # cleanly truncated tail member: zlib raises only on
            # CORRUPT bytes — a mid-stream cut never reaches the
            # trailer/CRC, so decompress returns the partial payload
            # with eof False.  Yielding it would index a partial
            # record with a wrong SHA-1/length, poisoning digest
            # dedup and revisit resolution downstream.
            return
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:  # no forward progress: garbage between members
            return
        yield pos, consumed, record
        pos += consumed


def iter_warc_members_stream(fh, chunk_size: int = 1 << 20):
    """Streaming twin of ``iter_warc_members`` over a FILE HANDLE:
    yields the same (offset, compressed_length, member_bytes) triples
    while holding only O(current member + chunk) in memory — the
    bounded-memory read path for multi-GB crawl WARCs (the in-memory
    variant is O(file); this was the documented seam in
    ``index_warcs``).  Same damage tolerance: a corrupt or truncated
    member ends the file's iteration, never raises."""
    offset = 0
    carry = b""
    while True:
        # prime the first byte(s) of the next member (or detect EOF)
        if not carry:
            carry = fh.read(chunk_size)
            if not carry:
                return
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        out = []
        fed = 0
        while True:
            data, carry = carry, b""
            if not data:
                data = fh.read(chunk_size)
            if not data:
                return  # mid-member EOF: cleanly truncated tail
            try:
                out.append(d.decompress(data))
            except zlib.error:
                return  # corrupt bytes: drop this file's tail
            fed += len(data)
            if d.eof:
                carry = d.unused_data
                break
        consumed = fed - len(carry)
        if consumed <= 0:  # garbage between members: no forward progress
            return
        yield offset, consumed, b"".join(out)
        offset += consumed


#: ARC member head: ``url ip-address 14-digit-date content-type ...``
#: (v1's 5th field is the length, v2's the result code — both digits).
_ARC_MEMBER_HEAD = re.compile(rb"^\S+ \d{1,3}(?:\.\d{1,3}){3} \d{14} \S+ \d+")


def _next_member_offset(
    fh, start: int, size: int, window: int = 1 << 20,
    *, max_windows: int = 64,
) -> int | None:
    """First VERIFIED gzip-member boundary at or after byte ``start``:
    scan forward for the gzip magic and accept a candidate only when
    decompressing from it yields a ``WARC/`` / ``filedesc`` / ARC
    URL-line record head — the magic bytes legitimately occur INSIDE
    deflate streams, so an unverified seek would split mid-member and
    emit garbage records.  The verification decompresses ≤4 KB per
    candidate.  The forward scan is BOUNDED at ``max_windows``
    windows past ``start``: a file whose heads never verify (a
    container this scanner doesn't know) must cost O(bound) per
    target, not an O(file) trial-decompress sweep per split point —
    giving up merges the range into its neighbor, which is always
    safe (fewer, larger tasks)."""
    pos = start
    scanned = 0
    while pos < size and scanned < max_windows:
        fh.seek(pos)
        buf = fh.read(min(window + 3, size - pos))
        j = 0
        while True:
            k = buf.find(b"\x1f\x8b\x08", j)
            if k < 0 or pos + k >= size:
                break
            fh.seek(pos + k)
            d = zlib.decompressobj(16 + zlib.MAX_WBITS)
            try:
                # 512 decompressed bytes: enough for a WARC version
                # line OR a full ARC URL-line header
                head = d.decompress(fh.read(4096), 512)
            except zlib.error:
                head = b""
            if (
                head.startswith(b"WARC/")
                or head.startswith(b"filedesc")
                or _ARC_MEMBER_HEAD.match(head)
            ):
                return pos + k
            j = k + 1
        # overlap 2 bytes so a magic straddling the window edge is seen
        pos += max(1, len(buf) - 2)
        scanned += 1
    return None


def find_member_split_offsets(
    fh, size: int, n_splits: int, *, window: int = 1 << 20
) -> list[int]:
    """Member-boundary offsets near the ``i·size/n_splits`` targets —
    the cheap pre-scan that lets ONE pathological multi-GB .warc.gz
    split into ranged tasks instead of becoming the ingest straggler
    (one task = one file otherwise).  Always includes 0; drops targets
    whose forward scan reaches a boundary past the next target (giant
    members merge their ranges).  Cost: O(n_splits) seeks + ≤window
    byte scans + 4 KB verification decompresses — metadata-scale
    against the file itself."""
    offs = [0]
    for i in range(1, n_splits):
        target = size * i // n_splits
        if target <= offs[-1]:
            continue
        off = _next_member_offset(fh, target, size, window)
        if off is not None and off > offs[-1]:
            offs.append(off)
    return offs


def parse_warc_file_stream(
    filename: str,
    fh,
    *,
    digest_b32: bool = False,
    record_types: tuple[str, ...] | None = None,
    post_append: bool = False,
    chunk_size: int = 1 << 20,
    base_offset: int = 0,
    stop_before: int | None = None,
    keep_payload: tuple[str, ...] | None = None,
):
    """``parse_warc_file`` over a file handle via the streaming member
    iterator — identical CDX tuples, O(member) memory.

    ``base_offset``/``stop_before`` make the stream RANGE-able for
    intra-file parallelism (``index_warcs`` split_bytes): the caller
    seeks ``fh`` to a verified member boundary at absolute offset
    ``base_offset`` and this parses every member that STARTS in
    ``[base_offset, stop_before)`` — a member may extend past the
    cut; the next range begins at the next member start, so ranges
    partition the file's members exactly once each.  Emitted offsets
    are absolute (replay needs the true file position)."""
    if record_types is None:
        record_types = DEFAULT_RECORD_TYPES
    short = filename.rsplit("/", 1)[-1]
    for offset, clen, member in iter_warc_members_stream(fh, chunk_size):
        abs_off = base_offset + offset
        if stop_before is not None and abs_off >= stop_before:
            return
        records = list(split_warc_records(member)) or [(0, len(member), member)]
        for _, _, record in records:
            fields = _index_warc_record(
                record, digest_b32=digest_b32, record_types=record_types,
                post_append=post_append, keep_payload=keep_payload,
            )
            if fields is not None:
                yield _emit(fields, (clen, abs_off, short), keep_payload)


def _parse_headers(block: bytes) -> dict[str, str]:
    out: dict[str, str] = {}
    for line in block.split(CRLF)[1:]:  # [0] is the version/status line
        if b":" in line:
            k, v = line.split(b":", 1)
            out[k.decode("latin-1").strip().lower()] = v.decode("latin-1").strip()
    return out


def iso_to_ts14(iso: str) -> str:
    try:
        dt = datetime.fromisoformat(iso.replace("Z", "+00:00")).astimezone(timezone.utc)
    except ValueError:  # malformed WARC-Date: epoch sentinel, keep the record
        return "19700101000000"
    return dt.strftime("%Y%m%d%H%M%S")


def _declared_digest(wheaders: dict, b32: bool) -> str | None:
    """Normalize a record's declared ``WARC-Payload-Digest`` (the
    conventional ``sha1:<b32>`` form) to the engine's requested
    digest format — uppercase-b32 passthrough or hex re-encode.
    Returns None when absent or not the sha1:b32 grammar (then the
    caller computes from the payload as before)."""
    import base64

    raw = (wheaders.get("warc-payload-digest") or "").strip()
    if not raw.lower().startswith("sha1:"):
        return None
    val = raw[5:].strip().upper()
    if len(val) != 32:
        return None
    try:
        digest = base64.b32decode(val)
    except (ValueError, TypeError):
        return None
    return val if b32 else digest.hex()


def _sha1_digest(payload: bytes, b32: bool) -> str:
    """SHA-1 of the payload: lowercase hex (engine default) or pywb's
    uppercase unpadded base32 (20 bytes → exactly 32 chars, so no '='
    padding ever appears) for interop joins against upstream CDX."""
    h = hashlib.sha1(payload)
    if b32:
        import base64

        return base64.b32encode(h.digest()).decode("ascii")
    return h.hexdigest()


def split_warc_records(stream: bytes):
    """Split a decompressed byte stream into WARC records using each
    record's Content-Length header: (uncompressed_offset,
    uncompressed_length, record_bytes) per record.  A record whose
    header block is unparseable (or whose declared body overruns the
    stream — a truncated plain .warc) ends the iteration: partial
    records must not be indexed with wrong digests."""
    pos = 0
    n = len(stream)
    while pos < n:
        # tolerate blank separator lines between records
        while pos < n and stream[pos : pos + 2] == CRLF:
            pos += 2
        if pos >= n:
            return
        head_end = stream.find(CRLF + CRLF, pos)
        if head_end < 0 or not stream[pos:].startswith(b"WARC/"):
            return
        headers = _parse_headers(stream[pos:head_end])
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            return
        body_end = head_end + 4 + clen
        if body_end > n:
            return  # declared body overruns the stream: truncated tail
        # reported length runs to the next record start (separator
        # CRLFs included) — warcio's uncompressed-offset convention,
        # so extents tile the file exactly
        nxt = body_end
        while nxt < n and stream[nxt : nxt + 2] == CRLF:
            nxt += 2
        yield pos, nxt - pos, stream[pos:body_end]
        pos = nxt


#: default indexed record types — what pywb's cdx-indexer emits
#: without flags; request/metadata/resource are opt-in [U pywb
#: cdx-indexer include_all/record-type options].
DEFAULT_RECORD_TYPES: tuple[str, ...] = ("response", "revisit")


def _index_warc_record(
    record: bytes,
    *,
    digest_b32: bool,
    record_types: tuple[str, ...] = DEFAULT_RECORD_TYPES,
    post_append: bool = False,
    keep_payload: tuple[str, ...] | None = None,
):
    """CDX fields (urlkey..robotflags) for ONE complete WARC record,
    or None for types outside ``record_types`` (warcinfo never
    indexes).  Opt-in types follow pywb's shapes: ``request`` rows
    carry the request block's Content-Type and no status;
    ``metadata``/``resource`` rows carry the WARC record's own
    Content-Type (e.g. application/warc-fields).

    ``keep_payload`` (round 12 — the ingest→curation seam): a mime
    PREFIX allowlist; when set, the tuple gains a trailing element —
    the record's payload BYTES for matching mimes, None otherwise —
    so media curation (image/audio/video header extraction) runs in
    the SAME ingest pass instead of a re-fetch.  CDX-only ingest
    (keep_payload=None) returns the 8-tuple unchanged and never
    copies payload bytes anywhere."""
    head_end = record.find(CRLF + CRLF)
    if head_end < 0 or not record.startswith(b"WARC/"):
        return None
    wheaders = _parse_headers(record[:head_end])
    rec_type = wheaders.get("warc-type", "")
    if rec_type == "warcinfo" or rec_type not in record_types:
        return None
    url = wheaders.get("warc-target-uri", "")
    ts14 = iso_to_ts14(wheaders.get("warc-date", "1970-01-01T00:00:00Z"))
    body = record[head_end + 4 :].rstrip(b"\r\n")

    status, mime, payload = None, None, body
    http_end = body.find(CRLF + CRLF)
    first_line = body.split(CRLF, 1)[0]
    if body.startswith(b"HTTP/"):
        if http_end >= 0:
            status_line = first_line.decode("latin-1", "replace")
            parts = status_line.split(" ")
            status = (
                int(parts[1])
                # isascii guard: str.isdigit accepts Unicode digits
                # (e.g. '\u00b9') that int() rejects — damaged bytes
                # must cost the field, never the task (fuzz-found)
                if len(parts) > 1 and parts[1].isascii() and parts[1].isdigit()
                else None
            )
            hh = _parse_headers(body[:http_end])
            mime = (hh.get("content-type") or "").split(";")[0].strip() or None
            payload = body[http_end + 4 :]
    elif rec_type == "request" and first_line.endswith((b"HTTP/1.0", b"HTTP/1.1")):
        # an HTTP request block: "METHOD /path HTTP/1.x".  A bodyless
        # request's header/body separator is consumed by the record
        # rstrip above, so a missing CRLFCRLF means headers-only
        # (empty payload), not an unparseable block.
        hh = _parse_headers(body[:http_end] if http_end >= 0 else body)
        mime = (hh.get("content-type") or "").split(";")[0].strip() or None
        payload = body[http_end + 4 :] if http_end >= 0 else b""
        if post_append:
            # pywb cdx-indexer -p/--post-append [U pywb
            # MethodQueryCanonicalizer]: fold __wb_method + the
            # request body's params into the urlkey so POSTed
            # resources replay; the CDX url field stays the
            # target URI (only the KEY gains the grammar)
            from ..functions.surt import fold_method_query_py

            method = first_line.split(b" ", 1)[0].decode("latin-1", "replace")
            folded = fold_method_query_py(
                url, method, hh.get("content-type"), payload
            )
            out = (
                surt_urlkey_py(folded),
                ts14,
                url,
                mime,
                None,
                _sha1_digest(payload, digest_b32),
                None,
                None,
            )
            # request bodies are form params, never media payloads
            return out if keep_payload is None else (*out, None)
    elif rec_type in ("metadata", "resource", "conversion"):
        # conversion = Common Crawl WET plain-text extracts: the WARC
        # record's own Content-Type (text/plain), payload is the body
        mime = (wheaders.get("content-type") or "").split(";")[0].strip() or None
    if rec_type == "revisit":
        # pywb cdx-indexer parity: a real revisit record carries NO
        # body — its CDX digest is the ORIGINAL payload's, declared in
        # WARC-Payload-Digest (normalized to the engine's digest
        # format so revisit→original joins work in either).  Records
        # without the header (this repo's payload-carrying fixtures
        # included) keep the computed digest.
        digest = _declared_digest(wheaders, digest_b32) or _sha1_digest(
            payload, digest_b32
        )
    else:
        digest = _sha1_digest(payload, digest_b32)
    out = (
        surt_urlkey_py(url),
        ts14,
        url,
        mime if rec_type != "revisit" else "warc/revisit",
        status,
        digest,
        None,
        None,
    )
    if keep_payload is None:
        return out
    # revisit records carry the original response's HTTP headers but
    # no body (that is the point of a revisit) — retaining their
    # empty payloads would hand the curation pass one spurious
    # 'unsupported' row per deduplicated recrawl of every media URL;
    # same for any other record whose body is empty
    keep = (
        rec_type != "revisit"
        and len(payload) > 0
        and mime is not None
        and mime.startswith(tuple(keep_payload))
    )
    return (*out, bytes(payload) if keep else None)


def _emit(fields, tail: tuple, keep_payload) -> tuple:
    """Row assembly shared by the parsers: the payload element (when
    retained) must land AFTER the (length, offset, filename) tail so
    the row matches CDX_SCHEMA + trailing payload column."""
    if keep_payload is None:
        return (*fields, *tail)
    *f, payload = fields
    return (*f, *tail, payload)


def parse_warc_file(
    filename: str,
    data: bytes,
    *,
    digest_b32: bool = False,
    record_types: tuple[str, ...] = DEFAULT_RECORD_TYPES,
    post_append: bool = False,
    keep_payload: tuple[str, ...] | None = None,
):
    """Yield one CDX tuple per indexable record of a ``.warc.gz``.

    Offset semantics: the COMPRESSED member extent — for the usual
    member-per-record file that is the record itself; a member holding
    several records (split on Content-Length) stamps each with the
    member's extent, the smallest gzip-seekable unit."""
    short = filename.rsplit("/", 1)[-1]
    for offset, clen, member in iter_warc_members(data):
        records = list(split_warc_records(member))
        if not records:
            # header-block-unparseable member: keep legacy tolerance —
            # try the whole member as one record (e.g. LF-only headers
            # would land here and be skipped by the record indexer)
            records = [(0, len(member), member)]
        for _, _, record in records:
            fields = _index_warc_record(
                record, digest_b32=digest_b32, record_types=record_types,
                post_append=post_append, keep_payload=keep_payload,
            )
            if fields is not None:
                yield _emit(fields, (clen, offset, short), keep_payload)


def parse_plain_warc(
    filename: str,
    data: bytes,
    *,
    digest_b32: bool = False,
    record_types: tuple[str, ...] = DEFAULT_RECORD_TYPES,
    post_append: bool = False,
    keep_payload: tuple[str, ...] | None = None,
):
    """Uncompressed ``.warc``: records split on Content-Length, each
    CDX row carrying its true (uncompressed) byte offset + length."""
    short = filename.rsplit("/", 1)[-1]
    for offset, rlen, record in split_warc_records(data):
        fields = _index_warc_record(
            record, digest_b32=digest_b32, record_types=record_types,
            post_append=post_append, keep_payload=keep_payload,
        )
        if fields is not None:
            yield _emit(fields, (rlen, offset, short), keep_payload)


# ---------------------------------------------------------------------------
# ARC legacy format (v1/v2)
# ---------------------------------------------------------------------------


def build_arc_record(
    url: str,
    ts14: str,
    payload: bytes,
    *,
    mime: str = "text/html",
    status: int = 200,
    ip: str = "0.0.0.0",
) -> bytes:
    """One ARC v1 record (uncompressed): space-separated header line,
    HTTP response block, newline separator."""
    http = (
        f"HTTP/1.1 {status} OK\r\nContent-Type: {mime}\r\n"
        f"Content-Length: {len(payload)}\r\n\r\n"
    ).encode() + payload
    header = f"{url} {ip} {ts14} {mime} {len(http)}\n".encode()
    return header + http + b"\n"


def build_arc_filedesc(filename: str, ts14: str = "20200101000000") -> bytes:
    """The mandatory leading version block of an ARC file."""
    body = (
        b"1 0 InternetArchive\n"
        b"URL IP-address Archive-date Content-type Archive-length\n"
    )
    header = f"filedesc://{filename} 0.0.0.0 {ts14} text/plain {len(body)}\n".encode()
    return header + body + b"\n"


def split_arc_records(stream: bytes):
    """Split an uncompressed ARC stream into records on the header
    line's length field: (offset, length, header_fields, http_block).
    Stops at the first malformed or overrunning record (truncation)."""
    pos = 0
    n = len(stream)
    while pos < n:
        while pos < n and stream[pos : pos + 1] == b"\n":
            pos += 1
        if pos >= n:
            return
        eol = stream.find(b"\n", pos)
        if eol < 0:
            return
        fields = stream[pos:eol].decode("latin-1", "replace").split(" ")
        if len(fields) < 5:
            return
        try:
            blen = int(fields[-1])
        except ValueError:
            return
        body_end = eol + 1 + blen
        if body_end > n:
            return  # truncated tail
        yield pos, body_end - pos, fields, stream[eol + 1 : body_end]
        pos = body_end


def _index_arc_record(
    fields: list[str], http: bytes, *, digest_b32: bool,
    keep_payload: tuple[str, ...] | None = None,
):
    """CDX fields for one ARC record; None for the filedesc:// block.
    ``keep_payload`` appends the payload bytes for allowlisted mimes
    (None otherwise) — same contract as ``_index_warc_record``."""
    url = fields[0]
    if url.startswith("filedesc://"):
        return None
    ts14 = (
        fields[2]
        if len(fields[2]) == 14 and fields[2].isascii() and fields[2].isdigit()
        else "19700101000000"
    )
    mime = fields[3].split(";")[0].strip() or None
    status, payload = None, http
    if http.startswith(b"HTTP/"):
        http_end = http.find(CRLF + CRLF)
        if http_end >= 0:
            parts = http.split(CRLF, 1)[0].decode("latin-1", "replace").split(" ")
            status = (
                int(parts[1])
                # isascii guard: str.isdigit accepts Unicode digits
                # (e.g. '\u00b9') that int() rejects — damaged bytes
                # must cost the field, never the task (fuzz-found)
                if len(parts) > 1 and parts[1].isascii() and parts[1].isdigit()
                else None
            )
            hh = _parse_headers(http[:http_end])
            mime = (hh.get("content-type") or "").split(";")[0].strip() or mime
            payload = http[http_end + 4 :]
    out = (
        surt_urlkey_py(url),
        ts14,
        url,
        mime,
        status,
        _sha1_digest(payload, digest_b32),
        None,
        None,
    )
    if keep_payload is None:
        return out
    keep = (
        len(payload) > 0
        and mime is not None
        and mime.startswith(tuple(keep_payload))
    )
    return (*out, bytes(payload) if keep else None)


def parse_arc_file(
    filename: str, data: bytes, *, digest_b32: bool = False,
    keep_payload: tuple[str, ...] | None = None,
):
    """``.arc`` / ``.arc.gz``: same offset semantics as the WARC
    variants (compressed member extent for .gz, true byte extent for
    plain files)."""
    short = filename.rsplit("/", 1)[-1]
    if data[:2] == b"\x1f\x8b":
        for offset, clen, member in iter_warc_members(data):
            for _, _, fields, http in split_arc_records(member):
                row = _index_arc_record(
                    fields, http, digest_b32=digest_b32,
                    keep_payload=keep_payload,
                )
                if row is not None:
                    yield _emit(row, (clen, offset, short), keep_payload)
    else:
        for offset, rlen, fields, http in split_arc_records(data):
            row = _index_arc_record(
                fields, http, digest_b32=digest_b32,
                keep_payload=keep_payload,
            )
            if row is not None:
                yield _emit(row, (rlen, offset, short), keep_payload)


# ---------------------------------------------------------------------------
# format dispatch
# ---------------------------------------------------------------------------


def parse_archive_file(
    filename: str,
    data: bytes,
    *,
    digest_b32: bool = False,
    record_types: tuple[str, ...] = DEFAULT_RECORD_TYPES,
    post_append: bool = False,
    keep_payload: tuple[str, ...] | None = None,
):
    """Sniff the container + record format from the BYTES (extensions
    lie in the wild) and dispatch: gzip magic → member iteration, then
    WARC/ARC by the first record's signature."""
    if data[:2] == b"\x1f\x8b":
        probe = next(iter_warc_members(data), None)
        if probe is None:
            return iter(())
        head = probe[2][:16]
        if head.startswith(b"WARC/"):
            return parse_warc_file(
                filename, data, digest_b32=digest_b32,
                record_types=record_types, post_append=post_append,
                keep_payload=keep_payload,
            )
        return parse_arc_file(
            filename, data, digest_b32=digest_b32,
            keep_payload=keep_payload,
        )
    if data.startswith(b"WARC/"):
        return parse_plain_warc(
            filename, data, digest_b32=digest_b32,
            record_types=record_types, post_append=post_append,
            keep_payload=keep_payload,
        )
    if data.startswith(b"filedesc://"):
        return parse_arc_file(
            filename, data, digest_b32=digest_b32,
            keep_payload=keep_payload,
        )
    return iter(())


# ---------------------------------------------------------------------------
# pipeline operators
# ---------------------------------------------------------------------------


def index_warcs(
    spark: SparkSession,
    manifest: DataFrame,
    *,
    files_per_task: int = 2,
    digest_b32: bool = False,
    record_types: tuple[str, ...] = DEFAULT_RECORD_TYPES,
    streaming: bool = True,
    post_append: bool = False,
    split_bytes: int | None = None,
    keep_payload: tuple[str, ...] | None = None,
) -> DataFrame:
    """S1+S2: manifest (column ``path``) → typed CDX DataFrame; mixed
    WARC/ARC, gzipped or plain, all dispatch per file by magic bytes.

    ``keep_payload`` (round 12 — the ingest→curation seam): a mime
    PREFIX allowlist (e.g. ``("image/", "audio/", "video/")``).  When
    set, the output schema gains a trailing BINARY ``payload`` column
    carrying the record payload for matching mimes (NULL otherwise),
    so media header curation (``operators.multimodal.media_meta``)
    runs over the same ingest pass — no re-fetch of petabytes of
    WARCs to curate their images.  CDX-only ingest (the default) is
    UNTOUCHED: same schema, no payload copies, zero added cost.

    Task granularity mirrors the reference's linespermap=2 [U].
    ``streaming=True`` (default) reads gzipped WARCs — the dominant
    format, and the one real crawls ship multi-GB files in — through
    the BOUNDED-MEMORY member iterator (O(current member + chunk) per
    task instead of O(file); the round-4 'streaming reader seam' made
    real).  A decompress-peek of the first 16 bytes routes legacy
    .arc.gz and the plain formats down the whole-file path (their
    record splitters need the full buffer; legacy files are small).
    ``digest_b32=True`` emits pywb-compatible base32 digests for
    joining against existing CC indexes; ``record_types`` widens
    indexing to request/metadata/resource/conversion records;
    ``post_append=True`` (with ``request`` in record_types) folds
    ``__wb_method`` + request-body params into request-record urlkeys
    — pywb cdx-indexer's -p flag [U pywb MethodQueryCanonicalizer],
    the grammar that makes POSTed resources replayable.

    ``split_bytes`` (round 11) breaks INTRA-file parallelism out of
    the one-task-per-file floor: a gzipped WARC larger than the
    threshold gets a member-offset pre-scan (an executor-side job;
    ``find_member_split_offsets`` — seeks + ≤4 KB verification
    decompresses, never a full read) and each verified member range
    becomes its own task, so one pathological 100 GB crawl file can
    no longer straggle the whole ingest stage.  Ranges partition the
    file's members exactly once each (a member belongs to the range
    its START offset falls in); emitted offsets stay absolute.  One
    semantic nuance, deliberate: a corrupt member still ends its
    RANGE's iteration, but later ranges resume at their own verified
    boundaries — a split parse recovers at least every record the
    unsplit parse recovers (equal on clean files, pinned in
    tests/test_warc.py)."""
    n_files = manifest.count()

    def parse(rows):
        # pyarrow.fs dispatch: local paths, s3://, hdfs://, gs:// all
        # open the same way on executors (the reference's boto reads
        # [U indexwarcsjob.py] were S3-only) — the S1/S3 connector row
        from ..sinks.zipnum import _fs_for

        for row in rows:
            path, start, end = row[0], row[1], row[2]
            fs, local = _fs_for(path)
            with fs.open_input_file(local) as fh:
                if end >= 0:  # ranged task: verified member boundary
                    fh.seek(start)
                    yield from parse_warc_file_stream(
                        path, fh, digest_b32=digest_b32,
                        record_types=record_types, post_append=post_append,
                        base_offset=start, stop_before=end,
                        keep_payload=keep_payload,
                    )
                    continue
                probe = fh.read(512)
                fh.seek(0)
                if streaming and probe[:2] == b"\x1f\x8b":
                    d = zlib.decompressobj(16 + zlib.MAX_WBITS)
                    try:
                        head = d.decompress(probe, 16)
                    except zlib.error:
                        head = b""
                    if head.startswith(b"WARC/"):
                        yield from parse_warc_file_stream(
                            path,
                            fh,
                            digest_b32=digest_b32,
                            record_types=record_types,
                            post_append=post_append,
                            keep_payload=keep_payload,
                        )
                        continue
                data = fh.read()
            yield from parse_archive_file(
                path, data, digest_b32=digest_b32,
                record_types=record_types, post_append=post_append,
                keep_payload=keep_payload,
            )

    ranges_rdd, n_tasks = _plan_split_ranges(
        spark, manifest, n_files, split_bytes
    )
    n_parts = max(1, n_tasks // files_per_task)
    rdd = (
        spark.createDataFrame(ranges_rdd, "path string, start long, end long")
        .repartition(n_parts)
        .rdd.mapPartitions(parse)
    )
    schema = CDX_SCHEMA
    if keep_payload is not None:
        from pyspark.sql import types as T

        schema = T.StructType(
            [*CDX_SCHEMA.fields, T.StructField("payload", T.BinaryType(), True)]
        )
    return spark.createDataFrame(rdd, schema)


def _plan_split_ranges(
    spark: SparkSession, manifest: DataFrame, n_files: int,
    split_bytes: int | None,
):
    """(path, start, end) task ranges for a manifest: whole files
    (end = -1) when splitting is off or a file is small/plain; ranged
    tasks at verified member boundaries for oversized gzip archives.
    The pre-scan runs as ONE executor-side job; the resulting plan is
    metadata-sized (files × splits) and collects once so tasks
    repartition evenly.  Shared by ``index_warcs`` and the WAT/WET
    extractors — the one-task-per-file straggler is the same problem
    on every archive scan."""
    paths = manifest.select("path")
    if split_bytes is None:
        return paths.rdd.map(lambda r: (r[0], 0, -1)), n_files

    def plan(rows):
        # executor-side pre-scan: size check is one stat; only
        # oversized gzip archives pay the boundary walk
        from ..sinks.zipnum import _fs_for

        for row in rows:
            path = row[0]
            fs, local = _fs_for(path)
            size = fs.get_file_info(local).size or 0
            if size <= split_bytes:
                yield (path, 0, -1)
                continue
            with fs.open_input_file(local) as fh:
                probe = fh.read(512)
                if probe[:2] != b"\x1f\x8b":
                    yield (path, 0, -1)  # plain formats stay whole
                    continue
                d = zlib.decompressobj(16 + zlib.MAX_WBITS)
                try:
                    head = d.decompress(probe, 16)
                except zlib.error:
                    head = b""
                if not head.startswith(b"WARC/"):
                    # gzipped ARC (or unknown container): the ranged
                    # parser is WARC-only, and an ARC's member heads
                    # would send every split target's verification
                    # scan to EOF — O(n_splits × file) planning IO
                    # for a plan that ends up unsplit anyway.  Keep
                    # the file whole; legacy ARCs are small.
                    yield (path, 0, -1)
                    continue
                n_splits = -(-size // split_bytes)  # ceil
                fh.seek(0)
                offs = find_member_split_offsets(fh, size, n_splits)
            for s, e in zip(offs, offs[1:] + [size]):
                yield (path, s, e)

    ranges = paths.rdd.mapPartitions(plan).collect()
    rdd = spark.sparkContext.parallelize(ranges, max(1, len(ranges)))
    return rdd, len(ranges)


def skip_existing(manifest: DataFrame, existing: DataFrame) -> DataFrame:
    """S7 --skip-existing [U indexwarcsjob.py ~L75-85]: one left-anti
    join of the manifest against the listing of already-produced
    outputs (vs. the reference's per-file existence probe).

    Both sides key on the basename with either suffix stripped, so
    ``existing`` may list produced ``.cdx.gz`` outputs or the
    ``.warc.gz`` inputs of an earlier batch."""
    key = F.regexp_replace(
        F.element_at(F.split(F.col("path"), "/"), -1), r"\.(?:warc|cdx)\.gz$", ""
    )
    mk = manifest.withColumn("__k", key)
    ek = existing.select(key.alias("__k"))
    return mk.join(ek, "__k", "left_anti").drop("__k")


# ---------------------------------------------------------------------------
# WAT (Common Crawl web archive metadata) — outlink extraction
# ---------------------------------------------------------------------------


def build_wat_record(
    url: str,
    date_iso: str,
    links: list[str],
    *,
    title: str | None = None,
    server: str | None = None,
    content_type: str | None = None,
    metas: list[tuple[str, str]] | None = None,
    scripts: list[str] | None = None,
    head_links: list[tuple[str, str]] | None = None,
    extra_headers: dict[str, str] | None = None,
    link_paths: list[str] | None = None,
) -> bytes:
    """Fixture writer: one WAT ``metadata`` record whose JSON envelope
    carries ``links`` — and optionally the page-metadata fields WAT
    consumers read beyond outlinks (``Head.Title``, ``Head.Metas``,
    response ``Headers``) — in the Common Crawl WAT layout
    (Envelope → Payload-Metadata → HTTP-Response-Metadata →
    HTML-Metadata → Links[].url / Head.*; → Headers.*)."""
    import gzip
    import json

    paths = link_paths or ["A@/href"] * len(links)
    html_meta: dict = {
        "Links": [{"path": p, "url": u} for p, u in zip(paths, links)]
    }
    head: dict = {}
    if title is not None:
        head["Title"] = title
    if metas:
        head["Metas"] = [{"name": n, "content": c} for n, c in metas]
    if scripts:
        head["Scripts"] = [{"path": "SCRIPT@/src", "url": u} for u in scripts]
    if head_links:
        head["Link"] = [
            {"path": "LINK@/href", "url": u, "rel": r} for u, r in head_links
        ]
    if head:
        html_meta["Head"] = head
    resp_meta: dict = {"HTML-Metadata": html_meta}
    headers: dict = dict(extra_headers or {})
    if server is not None:
        headers["Server"] = server
    if content_type is not None:
        headers["Content-Type"] = content_type
    if headers:
        resp_meta["Headers"] = headers
    env = {
        "Envelope": {
            "WARC-Header-Metadata": {"WARC-Target-URI": url},
            "Payload-Metadata": {"HTTP-Response-Metadata": resp_meta},
        }
    }
    body = json.dumps(env, sort_keys=True).encode()
    headers = (
        "WARC/1.0\r\n"
        "WARC-Type: metadata\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {date_iso}\r\n"
        f"Content-Length: {len(body)}\r\n"
        "Content-Type: application/json\r\n"
    ).encode()
    return gzip.compress(headers + CRLF + body + CRLF + CRLF, mtime=0)


def _iter_wat_envelopes(members):
    """(offset, length, member) triples → ``(warc_headers, envelope)``
    per parseable WAT ``metadata`` record.  Damage tolerance shared by
    every WAT extractor: non-WARC members, non-metadata records,
    non-JSON bodies, and JSON bodies that are not objects each cost
    their own record only."""
    import json

    for _, _, member in members:
        records = list(split_warc_records(member)) or [(0, len(member), member)]
        for _, _, record in records:
            head_end = record.find(CRLF + CRLF)
            if head_end < 0 or not record.startswith(b"WARC/"):
                continue
            wheaders = _parse_headers(record[:head_end])
            if wheaders.get("warc-type", "") != "metadata":
                continue
            body = record[head_end + 4 :].rstrip(b"\r\n")
            try:
                env = json.loads(body)
            except ValueError:
                continue
            if not isinstance(env, dict):
                continue
            yield wheaders, env


def _dig(d, *keys) -> dict:
    """Nested dict lookup that returns {} the moment any level is
    missing or not a dict — a WAT envelope with Payload-Metadata: 3
    must degrade to NULL fields, not an AttributeError in a task."""
    for k in keys:
        d = d.get(k) if isinstance(d, dict) else None
    return d if isinstance(d, dict) else {}


def _wat_links_rows(members):
    """Member triples → ``(src_url, ts14, target_url)`` outlink rows."""
    for wheaders, env in _iter_wat_envelopes(members):
        src = wheaders.get("warc-target-uri", "")
        ts14 = iso_to_ts14(wheaders.get("warc-date", "1970-01-01T00:00:00Z"))
        links = _dig(
            env, "Envelope", "Payload-Metadata", "HTTP-Response-Metadata",
            "HTML-Metadata",
        ).get("Links", [])
        if not isinstance(links, list):
            continue
        for link in links:
            url = link.get("url") if isinstance(link, dict) else None
            if isinstance(url, str) and url:
                yield (src, ts14, url)


def _wat_meta_rows(members):
    """Member triples → ``(url, ts14, title, description, server,
    content_type, n_links)`` page-metadata rows.  Every field is
    type-guarded to its schema (non-string values → NULL) so one
    odd envelope can never fail row conversion or the task."""
    for wheaders, env in _iter_wat_envelopes(members):
        url = wheaders.get("warc-target-uri", "")
        ts14 = iso_to_ts14(wheaders.get("warc-date", "1970-01-01T00:00:00Z"))
        resp = _dig(env, "Envelope", "Payload-Metadata", "HTTP-Response-Metadata")
        html = _dig(resp, "HTML-Metadata")
        head = _dig(html, "Head")
        title = head.get("Title")
        desc = None
        metas = head.get("Metas")
        for m in metas if isinstance(metas, list) else []:
            name = m.get("name") if isinstance(m, dict) else None
            if isinstance(name, str) and name.lower() == "description":
                c = m.get("content")
                desc = c if isinstance(c, str) else None
                break
        headers = _dig(resp, "Headers")
        server = headers.get("Server")
        ctype = headers.get("Content-Type")
        links = html.get("Links")
        yield (
            url,
            ts14,
            title if isinstance(title, str) else None,
            desc,
            server if isinstance(server, str) else None,
            ctype if isinstance(ctype, str) else None,
            len(links) if isinstance(links, list) else 0,
        )


def _wat_asset_rows(members):
    """Member triples → ``(src_url, ts14, target_url, link_class,
    rel)`` rows covering EVERY link class a full WAT consumer reads
    [U Common Crawl WAT spec]: body links with their ``path`` class
    (``A@/href``, ``IMG@/src``, ...), ``Head.Scripts``
    (``SCRIPT@/src``), and ``Head.Link`` stylesheet/alternate entries
    (``LINK@/href``, with ``rel``).  Same type-guarded damage
    tolerance as the other extractors."""
    for wheaders, env in _iter_wat_envelopes(members):
        src = wheaders.get("warc-target-uri", "")
        ts14 = iso_to_ts14(wheaders.get("warc-date", "1970-01-01T00:00:00Z"))
        html = _dig(
            env, "Envelope", "Payload-Metadata", "HTTP-Response-Metadata",
            "HTML-Metadata",
        )
        head = _dig(html, "Head")

        def rows(entries, default_class, rel_key=None):
            if not isinstance(entries, list):
                return
            for e in entries:
                if not isinstance(e, dict):
                    continue
                url = e.get("url")
                if not (isinstance(url, str) and url):
                    continue
                cls = e.get("path")
                rel = e.get(rel_key) if rel_key else None
                yield (
                    src,
                    ts14,
                    url,
                    cls if isinstance(cls, str) else default_class,
                    rel if isinstance(rel, str) else None,
                )

        yield from rows(html.get("Links"), "A@/href")
        yield from rows(head.get("Scripts"), "SCRIPT@/src")
        yield from rows(head.get("Link"), "LINK@/href", rel_key="rel")


def _wat_header_rows(members):
    """Member triples → ``(url, ts14, headers)`` rows, ``headers``
    being the FULL HTTP-response-header map (string-valued entries
    only — a type-confused value drops its own entry, never the
    record)."""
    for wheaders, env in _iter_wat_envelopes(members):
        url = wheaders.get("warc-target-uri", "")
        ts14 = iso_to_ts14(wheaders.get("warc-date", "1970-01-01T00:00:00Z"))
        headers = _dig(
            env, "Envelope", "Payload-Metadata", "HTTP-Response-Metadata",
            "Headers",
        )
        yield (
            url,
            ts14,
            {k: v for k, v in headers.items()
             if isinstance(k, str) and isinstance(v, str)},
        )


def parse_wat_assets(filename: str, data: bytes):
    """Yield ``(src_url, ts14, target_url, link_class, rel)`` per
    asset reference — the script/css/img link classes beyond the
    ``A@/href`` outlinks ``parse_wat_links`` serves."""
    yield from _wat_asset_rows(iter_warc_members(data))


def parse_wat_headers(filename: str, data: bytes):
    """Yield ``(url, ts14, headers_map)`` per WAT record — the full
    HTTP response header map for host-technology / caching-policy /
    security-header reports."""
    yield from _wat_header_rows(iter_warc_members(data))


def wat_page_assets(
    spark: SparkSession,
    manifest: DataFrame,
    *,
    files_per_task: int = 2,
    split_bytes: int | None = None,
) -> DataFrame:
    """Manifest of WAT paths → typed asset-reference DataFrame
    ``(src_url, ts14, target_url, link_class, rel, src_key,
    target_key)`` with SURT keys derived scan-side — the input for
    asset-dependency graphs (which hosts serve a page's scripts/css)
    and replay-completeness audits."""
    from ..functions.surt import surt_urlkey_cached

    assets = _wat_scan(
        spark,
        manifest,
        _wat_asset_rows,
        "src_url string, ts14 string, target_url string, "
        "link_class string, rel string",
        files_per_task,
        split_bytes,
    )
    return (
        assets.withColumn("__url", F.col("src_url"))
        .withColumn("src_key", surt_urlkey_cached("__url"))
        .withColumn("__url", F.col("target_url"))
        .withColumn("target_key", surt_urlkey_cached("__url"))
        .drop("__url")
    )


def wat_response_headers(
    spark: SparkSession,
    manifest: DataFrame,
    *,
    files_per_task: int = 2,
    split_bytes: int | None = None,
) -> DataFrame:
    """Manifest of WAT paths → ``(url, ts14, headers map<string,
    string>, urlkey)``.  The map column explodes/projects JVM-side
    (``map_keys``/``element_at``) for header-population queries."""
    from ..functions.surt import surt_urlkey_cached

    hdrs = _wat_scan(
        spark,
        manifest,
        _wat_header_rows,
        "url string, ts14 string, headers map<string,string>",
        files_per_task,
        split_bytes,
    )
    return hdrs.withColumn("__url", F.col("url")).withColumn(
        "urlkey", surt_urlkey_cached("__url")
    ).drop("__url")


def parse_wat_links(filename: str, data: bytes):
    """Yield ``(src_url, ts14, target_url)`` per outlink of a WAT
    file's metadata records — the edge list the link-graph operators
    (PageRank, host-degree reports) consume.  Damage tolerance
    matches the CDX indexer: an unparseable JSON envelope costs its
    own record, never the task; envelopes without HTML link metadata
    (robots.txt entries, non-HTML responses) yield nothing."""
    yield from _wat_links_rows(iter_warc_members(data))


def parse_wat_meta(filename: str, data: bytes):
    """Yield ``(url, ts14, title, description, server, content_type,
    n_links)`` per WAT metadata record — the page-metadata surface WAT
    consumers read beyond outlinks (titles for text-metadata queries,
    ``Server``/``Content-Type`` response headers for host technology
    reports, meta descriptions for snippet corpora).  Same damage
    tolerance as ``parse_wat_links``: a record missing any field
    yields NULLs for it (non-string values included), an unparseable
    envelope costs its own record only."""
    yield from _wat_meta_rows(iter_warc_members(data))


def _wat_scan(
    spark: SparkSession,
    manifest: DataFrame,
    row_fn,
    schema: str,
    files_per_task: int,
    split_bytes: int | None = None,
) -> DataFrame:
    """Shared manifest→rows scaffold for the WAT extractors: the same
    task granularity as ``index_warcs``, pyarrow.fs opens (s3/hdfs/gs
    URIs work on executors), and BOUNDED-MEMORY streaming member reads
    (``iter_warc_members_stream`` — O(member + chunk) per task, the
    repo's default ingest path; a full-file read would be O(file) on
    multi-GB crawl WATs).  ``split_bytes`` fans an oversized .wat.gz
    into verified member-offset ranges exactly like ``index_warcs``
    (same planner, same straggler argument — crawl WATs ship in the
    same multi-GB files their WARCs do)."""
    n_files = manifest.count()

    def parse(rows):
        from ..sinks.zipnum import _fs_for

        for row in rows:
            path, start, end = row[0], row[1], row[2]
            fs, local = _fs_for(path)
            if end >= 0:  # ranged task at a verified member boundary
                with fs.open_input_file(local) as fh:
                    fh.seek(start)

                    def bounded(members, start=start, end=end):
                        for off, clen, rec in members:
                            if start + off >= end:
                                return
                            yield off, clen, rec

                    yield from row_fn(
                        bounded(iter_warc_members_stream(fh))
                    )
                continue
            # compression=None: pyarrow's 'detect' default would
            # transparently gunzip .gz paths and hide the member
            # boundaries the streaming iterator parses
            with fs.open_input_stream(local, compression=None) as fh:
                yield from row_fn(iter_warc_members_stream(fh))

    ranges_rdd, n_tasks = _plan_split_ranges(
        spark, manifest, n_files, split_bytes
    )
    n_parts = max(1, n_tasks // files_per_task)
    rdd = (
        spark.createDataFrame(ranges_rdd, "path string, start long, end long")
        .repartition(n_parts)
        .rdd.mapPartitions(parse)
    )
    return spark.createDataFrame(rdd, schema)


def wat_page_meta(
    spark: SparkSession,
    manifest: DataFrame,
    *,
    files_per_task: int = 2,
    split_bytes: int | None = None,
) -> DataFrame:
    """Manifest of WAT paths → typed page-metadata DataFrame ``(url,
    ts14, title, description, server, content_type, n_links, urlkey)``
    with the SURT key derived scan-side — joinable against the CDX
    index on its native key."""
    from ..functions.surt import surt_urlkey_cached

    meta = _wat_scan(
        spark,
        manifest,
        _wat_meta_rows,
        "url string, ts14 string, title string, description string, "
        "server string, content_type string, n_links int",
        files_per_task,
        split_bytes,
    )
    return meta.withColumn("__url", F.col("url")).withColumn(
        "urlkey", surt_urlkey_cached("__url")
    ).drop("__url")


def wat_link_edges(
    spark: SparkSession,
    manifest: DataFrame,
    *,
    files_per_task: int = 2,
    split_bytes: int | None = None,
) -> DataFrame:
    """Manifest of WAT paths → typed edge DataFrame ``(src_url, ts14,
    target_url, src_key, target_key)`` with SURT keys derived
    scan-side (the join/partition keys the graph operators use)."""
    from ..functions.surt import surt_urlkey_cached

    edges = _wat_scan(
        spark,
        manifest,
        _wat_links_rows,
        "src_url string, ts14 string, target_url string",
        files_per_task,
        split_bytes,
    )
    return (
        edges.withColumn("__url", F.col("src_url"))
        .withColumn("src_key", surt_urlkey_cached("__url"))
        .withColumn("__url", F.col("target_url"))
        .withColumn("target_key", surt_urlkey_cached("__url"))
        .drop("__url")
    )


# ---------------------------------------------------------------------------
# WET production (round 13): the engine as a WET *producer*
# ---------------------------------------------------------------------------


def write_wet(
    df,
    out_dir: str,
    *,
    n_files: int = 4,
    url_col: str = "url",
    date_col: str = "date_iso",
    text_col: str = "main_text",
) -> list[tuple[str, int]]:
    """Serialize extracted text as Common Crawl WET files — one
    ``conversion`` record per row (record-level ``Content-Type:
    text/plain``, UTF-8 payload), one gzip member per record, sharded
    ``wet-NNNNN.warc.wet.gz`` under ``out_dir``.

    This is the PRODUCER half of the ingest→text seam: upstream
    tooling runs boilerplate removal over response WARCs and ships
    the text as WET; with ``operators/html_extract.py`` feeding this
    sink the engine now closes that loop itself — and its own WET
    READER (``record_types=('conversion',)``) re-ingests the output
    byte-for-byte (pinned by the ``warc_wet_roundtrip`` oracle
    query).

    Spark-first: one range shuffle on ``url_col`` (each shard holds a
    contiguous key range, the CC layout), partition-local sort, then
    an imperative per-partition gzip writer through the pyarrow-fs
    seam (works on s3://hdfs:// roots).  Rows with NULL text (pages
    whose every block scored as boilerplate) are dropped — a WET file
    carries extracts, not verdicts.  Returns the shard manifest
    ``[(path, n_records)]`` (driver-sized: one row per shard)."""
    from pyspark.sql import functions as F

    from ..sinks.zipnum import _fs_for, _join

    fs0, local0 = _fs_for(out_dir)
    fs0.create_dir(local0, recursive=True)
    # Overwrite semantics matching the parquet sinks (round-13
    # ADVICE): a re-run with fewer shards or different input must not
    # leave stale wet-NNNNN files behind for a directory-level reader
    # to double-ingest.
    import re as _re

    from pyarrow import fs as _pafs

    for info in fs0.get_file_info(_pafs.FileSelector(local0)):
        if info.type == _pafs.FileType.File and _re.fullmatch(
            r"wet-\d{5}\.warc\.wet\.gz", info.base_name
        ):
            fs0.delete_file(info.path)
    rows = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(url_col).alias("u"),
            F.col(date_col).alias("d"),
            F.col(text_col).alias("t"),
        )
        .repartitionByRange(n_files, "u")
        .sortWithinPartitions("u", "d")
    )

    def fn(pid: int, it):
        shard = f"wet-{pid:05d}.warc.wet.gz"
        fs, path = _fs_for(_join(out_dir, shard))
        out = None
        n = 0
        try:
            for r in it:
                if out is None:
                    out = fs.open_output_stream(path, compression=None)
                out.write(
                    build_warc_record(
                        r["u"], r["d"], r["t"].encode("utf-8"),
                        rec_type="conversion",
                    )
                )
                n += 1
        finally:
            if out is not None:
                out.close()
        if n:
            yield (_join(out_dir, shard), n)

    manifest = rows.rdd.mapPartitionsWithIndex(fn).collect()
    return sorted(manifest)


def write_warc(
    df,
    out_dir: str,
    *,
    n_files: int = 4,
    url_col: str = "url",
    date_col: str = "date_iso",
    payload_col: str = "payload",
    mime_col: str = "mime",
    status_col: str | None = None,
    rec_type_col: str | None = None,
) -> list[tuple[str, int]]:
    """RE-ARCHIVING sink (round 14): serialize curated rows back into
    the archival wire format — ``response`` WARC records (HTTP status
    line + Content-Type + Content-Length + payload), one gzip member
    per record (the Common Crawl / IIPC seekable layout), sharded
    ``warc-NNNNN.warc.gz`` under ``out_dir``.  Each record carries a
    ``WARC-Payload-Digest: sha1:<b32>`` header computed from the
    payload (pywb's uppercase unpadded base32), so downstream CDX
    tooling can digest-join without re-reading payloads.

    This is the step a curation pipeline needs to hand a CLEANED
    corpus downstream in the format the ecosystem's readers (this
    engine's own ``index_warcs`` included — pinned by the
    ``warc_rearchive_roundtrip`` oracle) already speak: filter /
    redact / dedup verdicts applied, then re-emitted as WARC rather
    than a bespoke parquet only this stack can read.

    Spark-first, same shape as ``write_wet``: one range shuffle on
    ``url_col`` (each shard holds a contiguous key range), partition-
    local sort, then an imperative per-partition gzip writer through
    the pyarrow-fs seam (s3://hdfs:// roots work).  Pre-existing
    ``warc-NNNNN`` shards in ``out_dir`` are cleared first (the
    parquet-sink overwrite semantics).  Rows with NULL payload are
    dropped.  Returns the shard manifest ``[(path, n_records)]``
    (driver-sized: one row per shard)."""
    from pyspark.sql import functions as F

    from ..sinks.zipnum import _fs_for, _join

    fs0, local0 = _fs_for(out_dir)
    fs0.create_dir(local0, recursive=True)
    import re as _re

    from pyarrow import fs as _pafs

    for info in fs0.get_file_info(_pafs.FileSelector(local0)):
        if info.type == _pafs.FileType.File and _re.fullmatch(
            r"warc-\d{5}\.warc\.gz", info.base_name
        ):
            fs0.delete_file(info.path)
    cols = [
        F.col(url_col).alias("u"),
        F.col(date_col).alias("d"),
        F.col(payload_col).alias("p"),
        F.col(mime_col).alias("m"),
    ]
    cols.append(
        F.col(status_col).alias("st")
        if status_col is not None
        else F.lit(200).alias("st")
    )
    if rec_type_col is not None:
        # the dedup_to_revisits contract: rec_type +
        # refers_to_url/refers_to_date columns present
        cols += [
            F.col(rec_type_col).alias("rt"),
            F.col("refers_to_url").alias("ru"),
            F.col("refers_to_date").alias("rd"),
        ]
    else:
        cols += [
            F.lit("response").alias("rt"),
            F.lit(None).cast("string").alias("ru"),
            F.lit(None).cast("string").alias("rd"),
        ]
    rows = (
        df.filter(F.col(payload_col).isNotNull())
        .select(*cols)
        .repartitionByRange(n_files, "u")
        .sortWithinPartitions("u", "d")
    )

    def fn(pid: int, it):
        shard = f"warc-{pid:05d}.warc.gz"
        fs, path = _fs_for(_join(out_dir, shard))
        out = None
        n = 0
        try:
            for r in it:
                if out is None:
                    out = fs.open_output_stream(path, compression=None)
                payload = bytes(r["p"])
                digest = "sha1:" + _sha1_digest(payload, b32=True)
                if r["rt"] == "revisit":
                    # bodiless revisit: the payload column only feeds
                    # the declared digest — the bytes are stored once,
                    # in the referenced response record
                    out.write(
                        build_warc_record(
                            r["u"], r["d"], b"",
                            rec_type="revisit",
                            payload_digest=digest,
                            refers_to_url=r["ru"],
                            refers_to_date=r["rd"],
                            profile=REVISIT_PROFILE,
                        )
                    )
                else:
                    out.write(
                        build_warc_record(
                            r["u"], r["d"], payload,
                            rec_type="response",
                            mime=r["m"],
                            status=int(r["st"]),
                            payload_digest=digest,
                        )
                    )
                n += 1
        finally:
            if out is not None:
                out.close()
        if n:
            yield (_join(out_dir, shard), n)

    manifest = rows.rdd.mapPartitionsWithIndex(fn).collect()
    return sorted(manifest)


#: the WARC 1.0 revisit profile for digest-identical recrawls
REVISIT_PROFILE = (
    "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"
)


#: revisit-assignment rows above this count fall back from a broadcast
#: to a shuffle join — the ``TOMBSTONE_ISIN_MAX`` posture: correctness
#: never depends on the dup set actually being small, only the fast
#: plan does.  Rows are (url, date, url, date) strings — ~hundreds of
#: bytes each, so the default caps the broadcast around tens of MB.
REVISIT_BROADCAST_MAX = 200_000


def _revisit_assignments(
    df,
    *,
    url_col: str,
    date_col: str,
    payload_col: str,
) -> "DataFrame":
    """The lite half of ``dedup_to_revisits``: project to
    ``(url, date, sha1(payload))`` — bytes hashed map-side, projected
    away BEFORE the digest window's exchange — and return one
    ``(__ju, __jd, refers_to_url, refers_to_date)`` row per revisit
    (every capture after the digest-first by (date, url)).  Split out
    un-materialized so tests/test_plans.py can pin that no payload
    attribute crosses this subplan's shuffle."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("__dig").orderBy(
        F.col(date_col).asc(), F.col(url_col).asc()
    )
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lite = df.select(
        F.col(url_col), F.col(date_col),
        F.sha1(F.col(payload_col)).alias("__dig"),
    )
    return (
        lite.withColumn("__rn", F.row_number().over(w))
        .withColumn("__u0", F.first(url_col).over(run))
        .withColumn("__d0", F.first(date_col).over(run))
        .filter(F.col("__rn") > 1)
        .select(
            F.col(url_col).alias("__ju"),
            F.col(date_col).alias("__jd"),
            F.col("__u0").alias("refers_to_url"),
            F.col("__d0").alias("refers_to_date"),
        )
    )


def dedup_to_revisits(
    df,
    *,
    url_col: str = "url",
    date_col: str = "date_iso",
    payload_col: str = "payload",
    broadcast_max: int = REVISIT_BROADCAST_MAX,
) -> "DataFrame":
    """Digest-based response→revisit DEDUP pre-pass (round 14): the
    storage-dedup step archival crawlers (Heritrix/warcprox) apply at
    WARC-write time — the FIRST capture of each payload digest stays
    a ``response``; every later identical capture becomes a
    ``revisit`` row referencing it (``refers_to_url`` /
    ``refers_to_date``), so ``write_warc`` stores the bytes ONCE and
    emits bodiless revisit records for the rest.

    Relational shape (round 15 — the round-14 verdict's one ``weak``):
    at 100 TB the payload column IS the dataset, so the digest window
    runs over a PROJECTED lite frame — ``(sha1(payload), url, date)``,
    bytes hashed map-side, never shuffled — and only the revisit
    ASSIGNMENTS (rows after the first per digest, typically a small
    fraction) join back to the base rows on ``(url, date)``.  The
    assignment frame is materialized (it is metadata-sized), counted,
    and broadcast below ``broadcast_max`` rows; above it the join
    falls back to a shuffle — correctness never depends on the dup
    set being small.  End to end the payload bytes cross exactly ONE
    exchange: ``write_warc``'s range shuffle (plan-pinned in
    tests/test_plans.py).

    Precondition: ``(url_col, date_col)`` identifies a capture row —
    the WARC capture-identity convention the revisit grammar itself
    assumes (``WARC-Refers-To-Target-URI`` + ``Refers-To-Date`` is
    how a revisit names its original)."""
    assign = _revisit_assignments(
        df, url_col=url_col, date_col=date_col, payload_col=payload_col
    ).localCheckpoint()
    right = (
        F.broadcast(assign) if assign.count() <= broadcast_max else assign
    )
    cond = (F.col(url_col) == F.col("__ju")) & (
        F.col(date_col) == F.col("__jd")
    )
    return (
        df.join(right, cond, "left")
        .withColumn(
            "rec_type",
            F.when(
                F.col("refers_to_url").isNotNull(), F.lit("revisit")
            ).otherwise(F.lit("response")),
        )
        .drop("__ju", "__jd")
    )
