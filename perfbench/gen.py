"""Seeded input generator for the benchmark.

Everything here is plain Python, numpy and pyarrow: no import of the
package under test, so no change to the package can alter the inputs.
The same seed gives byte-identical WARC files, request streams and
vectors.

The crawl model: ``n_pages`` URLs spread over ``n_hosts`` hosts with
Zipf-shaped page counts (the rank → count table is fixed; the seed only
decides which host gets which rank, so input sizes do not depend on the
seed).  Every crawl visits every URL once and writes, per URL, a
``response`` record (status 200/404/301, mixed mimes) or, when the 200
payload did not change since the last crawl, a ``revisit`` record that
declares the earlier payload digest.  Some URLs also get a ``request``
record, which the default record types skip.  Each record is its own
gzip member; each file starts with a ``warcinfo`` record.

The generator keeps the list of captures the indexer must emit, so the
benchmark can check every answer against it.
"""

from __future__ import annotations

import base64
import bisect
import gzip
import hashlib
import os
import random
import time
from dataclasses import dataclass, field

import numpy as np

_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe", "shu",
              "an", "el", "or", "ix", "bu", "de"]
WORDS = [a + b for a in _SYLLABLES for b in _SYLLABLES] + [
    a + b + c for a in _SYLLABLES[:8] for b in _SYLLABLES for c in _SYLLABLES[8:]
]
TLDS = ("com", "org", "net")
CRAWL_EPOCH_S = 1546300800  # 2019-01-01T00:00:00Z
CRAWL_SPACING_S = 90 * 86400
PAGE_STEP_S = 17
P_UNCHANGED = 0.5  # a 200 payload unchanged since the last crawl → revisit
P_REQUEST = 0.1  # a request record precedes the response
_STATUS_TEXT = {200: "OK", 301: "Moved Permanently", 404: "Not Found"}


def ts14(epoch_s: int) -> str:
    return time.strftime("%Y%m%d%H%M%S", time.gmtime(epoch_s))


def _iso(epoch_s: int) -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(epoch_s))


def _sha1_b32(data: bytes) -> str:
    return "sha1:" + base64.b32encode(hashlib.sha1(data).digest()).decode()


@dataclass(frozen=True)
class Page:
    url: str
    urlkey: str  # the SURT key, derived here for this URL grammar only
    mime: str
    host: int  # host rank: 0 is the most popular host


def _zipf_counts(total: int, n: int, s: float) -> list[int]:
    """``total`` split over ``n`` ranks in proportion to 1/(r+1)^s, each
    rank at least 1 (largest-remainder rounding, seed-independent)."""
    w = [1.0 / (r + 1) ** s for r in range(n)]
    scale = (total - n) / sum(w)
    raw = [x * scale for x in w]
    counts = [1 + int(x) for x in raw]
    rest = sorted(range(n), key=lambda r: (int(raw[r]) - raw[r], r))
    for r in rest[: total - sum(counts)]:
        counts[r] += 1
    return counts


def make_site(seed: int, n_hosts: int, n_pages: int) -> list[Page]:
    """The URL set.  Host ``rank`` r gets the r-th largest page count;
    the seed decides the host names behind each rank."""
    rng = random.Random(f"site:{seed}")
    ids = list(range(n_hosts))
    rng.shuffle(ids)
    pages = []
    for rank, count in enumerate(_zipf_counts(n_pages, n_hosts, 1.0)):
        hid = ids[rank]
        name = f"site{hid:04d}"
        tld = TLDS[hid % 3]
        www = "www." if hid % 2 == 0 else ""
        for j in range(count):
            kind = j % 10
            if kind < 6:
                path, mime = f"/p/{j}.html", "text/html"
            elif kind < 8:
                path, mime = f"/img/{j}.png", "image/png"
            elif kind == 8:
                path, mime = f"/api/{j}.json", "application/json"
            else:
                path, mime = f"/s/{j}.css", "text/css"
            pages.append(Page(
                url=f"http://{www}{name}.{tld}{path}",
                urlkey=f"{tld},{name}){path}",
                mime=mime,
                host=rank,
            ))
    return pages


def host_key(page: Page) -> str:
    return page.urlkey.split(")", 1)[0] + ")"


@dataclass
class Batch:
    """One crawl written as WARC files, plus what indexing must emit."""

    paths: list[str]
    captures: list[tuple[str, str, int, bool]]  # (urlkey, ts14, status, revisit)
    records: int
    warc_bytes: int


def _payload(rng: random.Random, page: Page, status: int) -> bytes:
    if status == 404:
        return b"<html><body>not found</body></html>"
    if status == 301:
        return b""
    if page.mime == "image/png":
        return b"\x89PNG\r\n\x1a\n" + rng.randbytes(rng.randint(64, 256))
    words = " ".join(rng.choice(WORDS) for _ in range(rng.randint(30, 90)))
    if page.mime == "text/html":
        return f"<html><head><title>{page.url}</title></head><body><p>{words}</p></body></html>".encode()
    if page.mime == "application/json":
        return ('{"text": "' + words + '"}').encode()
    return ("body { content: '" + words + "'; }").encode()


def _record(headers: list[tuple[str, str]], block: bytes) -> bytes:
    head = "WARC/1.0\r\n" + "".join(f"{k}: {v}\r\n" for k, v in headers)
    head += f"Content-Length: {len(block)}\r\n\r\n"
    return gzip.compress(head.encode() + block + b"\r\n\r\n", compresslevel=6, mtime=0)


class CrawlGen:
    """Writes crawls of one site in order.  Crawl ``c`` depends on the
    earlier crawls only through which payloads are unchanged, so crawls
    must be written in increasing order."""

    def __init__(self, seed: int, pages: list[Page], *, files_per_crawl: int):
        self.seed = seed
        self.pages = pages
        self.files_per_crawl = files_per_crawl
        self._last_digest: dict[int, str] = {}
        self.next_crawl = 0

    def write_crawl(self, out_dir: str) -> Batch:
        c = self.next_crawl
        self.next_crawl += 1
        rng = random.Random(f"crawl:{self.seed}:{c}")
        os.makedirs(out_dir, exist_ok=True)
        order = list(range(len(self.pages)))
        rng.shuffle(order)
        base = CRAWL_EPOCH_S + c * CRAWL_SPACING_S
        per_file = -(-len(order) // self.files_per_crawl)
        captures, paths, n_rec, n_bytes = [], [], 0, 0
        for f in range(self.files_per_crawl):
            name = f"crawl-{c:03d}-{f:03d}.warc.gz"
            path = os.path.join(out_dir, name)
            chunks = [_record(
                [("WARC-Type", "warcinfo"), ("WARC-Date", _iso(base)),
                 ("WARC-Filename", name), ("Content-Type", "application/warc-fields")],
                b"software: perfbench-gen\r\n",
            )]
            for i in order[f * per_file:(f + 1) * per_file]:
                page = self.pages[i]
                t = base + i * PAGE_STEP_S
                date = _iso(t)
                r = rng.random()
                status = 200 if r < 0.88 else (404 if r < 0.94 else 301)
                if rng.random() < P_REQUEST:
                    path_part = page.url.split("/", 3)[3]
                    host = page.url.split("/")[2]
                    chunks.append(_record(
                        [("WARC-Type", "request"), ("WARC-Target-URI", page.url),
                         ("WARC-Date", date),
                         ("Content-Type", "application/http; msgtype=request")],
                        f"GET /{path_part} HTTP/1.1\r\nHost: {host}\r\n\r\n".encode(),
                    ))
                prior = self._last_digest.get(i)
                revisit = bool(status == 200 and prior and rng.random() < P_UNCHANGED)
                if revisit:
                    http = (f"HTTP/1.1 200 OK\r\nContent-Type: {page.mime}\r\n\r\n").encode()
                    chunks.append(_record(
                        [("WARC-Type", "revisit"), ("WARC-Target-URI", page.url),
                         ("WARC-Date", date),
                         ("WARC-Profile", "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"),
                         ("WARC-Payload-Digest", prior),
                         ("Content-Type", "application/http; msgtype=response")],
                        http,
                    ))
                else:
                    body = _payload(rng, page, status)
                    mime = page.mime if status == 200 else "text/html"
                    extra = f"Location: {page.url}?moved=1\r\n" if status == 301 else ""
                    http = (
                        f"HTTP/1.1 {status} {_STATUS_TEXT[status]}\r\nContent-Type: {mime}\r\n"
                        f"{extra}Content-Length: {len(body)}\r\n\r\n"
                    ).encode() + body
                    digest = _sha1_b32(body)
                    if status == 200:
                        self._last_digest[i] = digest
                    chunks.append(_record(
                        [("WARC-Type", "response"), ("WARC-Target-URI", page.url),
                         ("WARC-Date", date), ("WARC-Payload-Digest", digest),
                         ("Content-Type", "application/http; msgtype=response")],
                        http,
                    ))
                captures.append((page.urlkey, ts14(t), status, revisit))
            data = b"".join(chunks)
            with open(path, "wb") as fh:
                fh.write(data)
            paths.append(path)
            n_rec += len(chunks)
            n_bytes += len(data)
        return Batch(paths, captures, n_rec, n_bytes)


def write_manifest(paths: list[str], out_path: str) -> str:
    with open(out_path, "w") as fh:
        fh.write("".join(p + "\n" for p in paths))
    return out_path


# ---------------------------------------------------------------------------
# ground truth over a capture list
# ---------------------------------------------------------------------------


@dataclass
class Truth:
    """Captures by urlkey, each list of (ts14, status, revisit) sorted by
    timestamp."""

    by_key: dict[str, list[tuple[str, int, bool]]] = field(default_factory=dict)
    keys: list[str] = field(default_factory=list)  # sorted

    @classmethod
    def of(cls, captures) -> "Truth":
        t = cls()
        for k, ts, st, rev in captures:
            t.by_key.setdefault(k, []).append((ts, st, rev))
        for v in t.by_key.values():
            v.sort()
        t.keys = sorted(t.by_key)
        return t

    def rows(self, key: str) -> list[tuple[str, str]]:
        return [(key, cap[0]) for cap in self.by_key.get(key, [])]

    def prefix_rows(self, prefix: str) -> list[tuple[str, str]]:
        i = bisect.bisect_left(self.keys, prefix)
        out = []
        while i < len(self.keys) and self.keys[i].startswith(prefix):
            out.extend(self.rows(self.keys[i]))
            i += 1
        return out

    def total(self) -> int:
        return sum(len(v) for v in self.by_key.values())


# ---------------------------------------------------------------------------
# request streams
# ---------------------------------------------------------------------------

#: request kinds per 20 requests, and the fixed order they repeat in —
#: the same for every seed, so runs differ only in which URLs they ask.
#: Every kind comes once in the first eight, so a short run sees them all.
LOOKUP_MIX = (
    ("exact", 6), ("closest", 5), ("from_to", 2), ("fuzzy", 2),
    ("prefix", 2), ("domain", 1), ("num_pages", 1), ("page", 1),
)
LOOKUP_CYCLE = (
    "exact", "closest", "from_to", "fuzzy", "prefix", "domain", "num_pages",
    "page", "exact", "closest", "exact", "closest", "from_to", "exact",
    "fuzzy", "closest", "prefix", "exact", "closest", "exact",
)


def _zipf_host_picker(rng: random.Random, pages: list[Page], s: float = 1.2):
    by_host: dict[int, list[Page]] = {}
    for p in pages:
        by_host.setdefault(p.host, []).append(p)
    ranks = sorted(by_host)
    cum, acc = [], 0.0
    for r in ranks:
        acc += 1.0 / (r + 1) ** s
        cum.append(acc)

    def pick() -> list[Page]:
        return by_host[ranks[bisect.bisect_left(cum, rng.random() * acc)]]

    return pick


def lookup_requests(seed: int, pages: list[Page], n_crawls: int, n: int,
                    stream: str = "timed") -> list[dict]:
    """``n`` cdx-server requests: dicts of kind, url, the urlkey the
    answer is keyed on, and ``cdx_query`` params.  Host popularity is
    Zipf-skewed; the page within a host is uniform."""
    rng = random.Random(f"lookup:{seed}:{stream}")
    pick_host = _zipf_host_picker(rng, pages)
    last = CRAWL_EPOCH_S + (n_crawls - 1) * CRAWL_SPACING_S
    out = []
    for r in range(n):
        kind = LOOKUP_CYCLE[r % len(LOOKUP_CYCLE)]
        host_pages = pick_host()
        page = rng.choice(host_pages)
        i = len(host_pages)
        req = {"kind": kind, "url": page.url, "key": page.urlkey, "params": {}}
        if kind == "closest":
            c = rng.randrange(n_crawls)
            t = CRAWL_EPOCH_S + c * CRAWL_SPACING_S + rng.randrange(0, 40 * 86400)
            req["params"] = {"closest": ts14(t), "limit": 1}
        elif kind == "from_to":
            a = rng.randrange(CRAWL_EPOCH_S, last)
            b = rng.randrange(a, last + 60 * 86400)
            req["params"] = {"from_": ts14(a), "to": ts14(b), "filters": ["status:200"]}
        elif kind == "fuzzy":
            if rng.random() < 0.7:  # cache-buster on a captured URL
                req["url"] = f"{page.url}?_cb={rng.randrange(10**6)}"
            else:  # a URL never captured
                leaf = f"/{i + rng.randrange(10**6)}.missing"
                req["url"] = page.url.rsplit("/", 1)[0] + leaf
                req["key"] = page.urlkey.rsplit("/", 1)[0] + leaf
            req["params"] = {"fuzzy": True}
        elif kind == "prefix":
            base = page.url.rsplit("/", 1)[0] + "/"
            req["url"] = base
            req["key"] = page.urlkey.rsplit("/", 1)[0] + "/"
            req["params"] = {"match_type": "prefix", "limit": 25}
        elif kind == "domain":
            req["url"] = "/".join(page.url.split("/")[:3]) + "/"
            req["key"] = host_key(page)
            req["params"] = {"match_type": "domain", "collapse": "urlkey"}
        elif kind in ("num_pages", "page"):
            req["url"] = "/".join(page.url.split("/")[:3]) + "/"
            req["key"] = host_key(page)
            req["params"] = ({"match_type": "domain", "show_num_pages": True}
                             if kind == "num_pages"
                             else {"match_type": "domain", "page": 0})
        out.append(req)
    return out


# ---------------------------------------------------------------------------
# vectors
# ---------------------------------------------------------------------------


def make_vectors(seed: int, n: int, dim: int = 64, n_clusters: int = 16,
                 n_labels: int = 4) -> tuple[np.ndarray, np.ndarray]:
    """``n`` unit vectors around ``n_clusters`` random centres, and an
    integer label per vector (the attribute ``where=`` filters on)."""
    rng = np.random.default_rng([seed, 64])
    centres = rng.standard_normal((n_clusters, dim))
    which = rng.integers(0, n_clusters, n)
    x = centres[which] + 0.35 * rng.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    labels = rng.integers(0, n_labels, n).astype(np.int32)
    return x.astype(np.float32), labels


def query_vectors(seed: int, base: np.ndarray, n: int, stream: str = "timed") -> np.ndarray:
    """Perturbed corpus vectors, renormalised (never corpus members)."""
    rng = np.random.default_rng([seed, 65, sum(stream.encode())])
    pick = rng.integers(0, len(base), n)
    q = base[pick].astype(np.float64) + 0.15 * rng.standard_normal((n, base.shape[1]))
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    return q.astype(np.float32)


def exact_topk(base: np.ndarray, q: np.ndarray, k: int, mask: np.ndarray | None = None) -> list[int]:
    """Ids of the k nearest unit vectors (cosine = -L2 ranking), ties by id."""
    s = base.astype(np.float64) @ q.astype(np.float64)
    ids = np.arange(len(base))
    if mask is not None:
        s, ids = s[mask], ids[mask]
    order = np.lexsort((ids, -s))[:k]
    return [int(i) for i in ids[order]]


def write_vectors_parquet(x: np.ndarray, labels: np.ndarray, path: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    flat = pa.array(x.reshape(-1), type=pa.float32())
    emb = pa.FixedSizeListArray.from_arrays(flat, x.shape[1]).cast(pa.list_(pa.float32()))
    table = pa.table({
        "vec_id": pa.array(np.arange(len(x), dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(labels),
    })
    pq.write_table(table, path)
    return path
