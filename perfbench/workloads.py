"""The benchmark's workloads.

Each workload builds its inputs from the seed in ``setup``, then runs
ops in a closed loop (one client: the next op starts when the previous
reply is in).  Every op's answer is checked against the generator's
ground truth outside the timed region; an op that raises or answers
wrongly counts as failed.

``layer_probes`` runs only in the traced run: it calls single layers
directly on this run's inputs, so their costs show apart from the
composed op.
"""

from __future__ import annotations

import calendar
import contextlib
import os
import sys
import time
import traceback

import gen
import harness
from harness import median

SIZES = {
    "cdx_lookup": {
        "full": dict(n_hosts=150, n_pages=6000, n_crawls=3, files_per_crawl=4,
                     numlines=600),
        "tiny": dict(n_hosts=8, n_pages=300, n_crawls=3, files_per_crawl=2,
                     numlines=40),
    },
    "ann_serve": {
        "full": dict(n_vectors=6000, n_base=200, batch=4),
        "tiny": dict(n_vectors=600, n_base=80, batch=3),
    },
}


class Ctx:
    """What a workload gets: the session, its work directory, the seed
    and size, the tracer, and the failure tally."""

    def __init__(self, spark, work: str, seed: int, size: str, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = size
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: wrong answer: {what}", file=sys.stderr)

    def error(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"perfbench: op failed: {what}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)


class Workload:
    name = ""
    kinds: tuple[str, ...] = ()  # every op kind the loop runs

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.p = SIZES[self.name][ctx.size]
        self.samples: list[tuple[str, float]] = []  # (kind, seconds) of timed ops
        self.phases: dict[str, float] = {}  # set-up phase → seconds

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        yield
        self.phases[name] = time.perf_counter() - t0

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> None:
        """Run op ``i``; append (kind, seconds) to ``self.samples``."""
        raise NotImplementedError

    def latency_samples(self) -> list[tuple[str, float]]:
        """The timed samples ``latency_ms`` is taken over."""
        return self.samples

    def work_per_s(self) -> float:
        raise NotImplementedError

    def layer_probes(self, out: dict) -> None:
        """Fill ``out`` with this workload's per-layer metrics (traced run)."""
        raise NotImplementedError

    def summary(self) -> dict:
        """The workload's own figures, for the report line."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------


def _write_crawls(work: str, seed: int, p: dict):
    pages = gen.make_site(seed, p["n_hosts"], p["n_pages"])
    cg = gen.CrawlGen(seed, pages, files_per_crawl=p["files_per_crawl"])
    batches = [cg.write_crawl(os.path.join(work, "warcs")) for _ in range(p["n_crawls"])]
    manifest = gen.write_manifest(
        [path for b in batches for path in b.paths], os.path.join(work, "manifest.txt")
    )
    return pages, batches, manifest


def _idx_blocks(cluster: str) -> int:
    with open(os.path.join(cluster, "cluster.idx")) as fh:
        return sum(1 for _ in fh)


def _secs(ts: str) -> int:
    return calendar.timegm(time.strptime(ts, "%Y%m%d%H%M%S"))


def _kind_medians(tr, prefix: str, kinds, out: dict) -> None:
    """``<prefix>.plan_ms.<kind>`` / ``.exec_ms.<kind>`` from the spans."""
    for kind in kinds:
        for part in ("plan", "exec"):
            ds = [1e3 * (s["end"] - s["start"]) for s in tr.spans
                  if s["name"] == f"{prefix}.{part}" and s.get("kind") == kind]
            out[f"{prefix}.{part}_ms.{kind}"] = median(ds)


# ---------------------------------------------------------------------------
# cdx_lookup: the reference's batch build, then its serving half
# ---------------------------------------------------------------------------


def expected_lookup(truth: gen.Truth, req: dict):
    """The answer a request must get, from the capture list alone."""
    kind, key, p = req["kind"], req["key"], req["params"]
    if kind in ("exact", "fuzzy"):
        return truth.rows(key)
    if kind == "closest":
        want = _secs(p["closest"])
        caps = truth.rows(key)
        return [min(caps, key=lambda r: abs(_secs(r[1]) - want))] if caps else []
    if kind == "from_to":
        # the 200 responses in range; 200 revisits in range may or may
        # not match ``status:200`` (see NOTES.md), so they are optional
        caps = [c for c in truth.by_key.get(key, [])
                if p["from_"] <= c[0] <= p["to"] and c[1] == 200]
        return ([(key, c[0]) for c in caps if not c[2]],
                [(key, c[0]) for c in caps])
    if kind == "prefix":
        return truth.prefix_rows(key)[: p["limit"]]
    if kind == "domain":
        return sorted({k for k, _ in truth.prefix_rows(key)})
    return truth.prefix_rows(key)  # num_pages / page: the whole domain


def check_lookup(truth: gen.Truth, req: dict, rows, n_blocks: int) -> bool:
    kind = req["kind"]
    want = expected_lookup(truth, req)
    if kind == "num_pages":
        return len(rows) == 1 and 1 <= rows[0]["pages"] <= n_blocks
    if kind == "domain":
        return sorted(r["urlkey"] for r in rows) == want
    got = [(r["urlkey"], r["timestamp"]) for r in rows]
    if kind == "page":
        return set(got) <= set(want)
    if kind == "prefix":
        return got == want
    if kind == "from_to":
        must, may = want
        return len(got) == len(set(got)) and set(must) <= set(got) <= set(may)
    return sorted(got) == want


def key_range(req: dict) -> tuple[str, str]:
    """The urlkey range a request reads (for the zipnum layer probes)."""
    key = req["key"]
    if req["kind"] in ("prefix", "domain", "num_pages", "page"):
        return key, key + "~"
    return key, key + "!"


class CdxLookup(Workload):
    """Set-up runs the whole reference pipeline once — ``build_index``
    from a seeded multi-crawl WARC manifest to a ZipNum cluster.  Ops
    are single cdx-server requests through ``cdx_query_zipnum`` against
    that cluster.  Request kinds follow a fixed cycle; the host of each
    request is Zipf-skewed, the page uniform."""

    name = "cdx_lookup"
    kinds = tuple(k for k, _ in gen.LOOKUP_MIX)

    def setup(self) -> None:
        from webarchive_indexing_spark.plans.pipeline import build_index
        from webarchive_indexing_spark.sinks.zipnum import read_zipnum

        c = self.ctx
        with self.phase("generate"):
            self.pages, batches, self.manifest = _write_crawls(c.work, c.seed, self.p)
        self.records = sum(b.records for b in batches)
        self.warc_bytes = sum(b.warc_bytes for b in batches)
        self.truth = gen.Truth.of(cap for b in batches for cap in b.captures)
        self.cluster = harness.fresh_dir(os.path.join(c.work, "cluster"))
        with self.phase("build"):
            build_index(c.spark, self.manifest, self.cluster, numlines=self.p["numlines"])
        n_rows = read_zipnum(c.spark, self.cluster).count()
        c.check(n_rows == self.truth.total(),
                f"build: {n_rows} cluster rows, {self.truth.total()} captures")
        self.n_blocks = _idx_blocks(self.cluster)
        self.cluster_bytes = harness.dir_bytes(self.cluster)
        n = self.p["n_crawls"]
        self.requests = gen.lookup_requests(c.seed, self.pages, n, 2000)
        warm: dict[str, dict] = {}  # one untimed request of each kind
        for req in gen.lookup_requests(c.seed, self.pages, n, len(gen.LOOKUP_CYCLE), "warm"):
            warm.setdefault(req["kind"], req)
        with self.phase("warm_up"):
            for req in warm.values():
                self._lookup(req, timed=False)

    def _lookup(self, req: dict, timed: bool) -> None:
        from webarchive_indexing_spark.operators.cdx_query import cdx_query_zipnum

        c, kind = self.ctx, req["kind"]
        with c.tracer.op(kind):
            t0 = time.perf_counter()
            with c.tracer.span("operators.cdx_query.plan", kind=kind):
                df = cdx_query_zipnum(c.spark, self.cluster, req["url"], **req["params"])
            with c.tracer.span("operators.cdx_query.exec", kind=kind):
                rows = df.collect()
            dt = time.perf_counter() - t0
        if timed:
            self.samples.append((kind, dt))
        req["n_rows"] = len(rows)
        c.check(check_lookup(self.truth, req, rows, self.n_blocks),
                f"{kind} {req['url']} {req['params']}: {len(rows)} rows")

    def op(self, i: int) -> None:
        self._lookup(self.requests[i], timed=True)

    def work_per_s(self) -> float:
        # one closed-loop client: completed lookups per second of
        # request time (the answer checks between requests excluded)
        return len(self.samples) / sum(s for _, s in self.samples)

    def layer_probes(self, out: dict) -> None:
        from webarchive_indexing_spark.sinks.zipnum import num_pages, read_zipnum

        c, tr = self.ctx, self.ctx.tracer
        _kind_medians(tr, "operators.cdx_query", self.kinds, out)
        done = [r for r in self.requests if "n_rows" in r]
        idx_ms, read_ms, blocks, useful = [], [], [], []
        for req in done[-len(gen.LOOKUP_CYCLE):]:
            lo, hi = key_range(req)
            with tr.span("sinks.zipnum.num_pages"):
                t0 = time.perf_counter()
                nb = num_pages(self.cluster, key_lo=lo, key_hi=hi)
                idx_ms.append(1e3 * (time.perf_counter() - t0))
            blocks.append(nb)
            with tr.span("sinks.zipnum.read_zipnum"):
                t0 = time.perf_counter()
                n_read = read_zipnum(c.spark, self.cluster, key_lo=lo, key_hi=hi).count()
                read_ms.append(1e3 * (time.perf_counter() - t0))
            if n_read:
                useful.append(req["n_rows"] / n_read)
        out["sinks.zipnum.idx_ms"] = median(idx_ms)
        out["sinks.zipnum.idx_blocks"] = self.n_blocks
        out["sinks.zipnum.blocks_read"] = median(blocks)
        out["sinks.zipnum.read_ms"] = median(read_ms)
        out["sinks.zipnum.useful_ratio"] = median(useful)
        self._build_probes(out)

    def _build_probes(self, out: dict) -> None:
        """The set-up build's layers, one at a time on the same input."""
        from pyspark.sql import functions as F

        from webarchive_indexing_spark.functions.surt import surt_urlkey_py
        from webarchive_indexing_spark.plans.pipeline import build_index
        from webarchive_indexing_spark.sinks.zipnum import write_zipnum
        from webarchive_indexing_spark.sources.warc import index_warcs

        c, tr = self.ctx, self.ctx.tracer
        dst = harness.fresh_dir(os.path.join(c.work, "cluster-rebuild"))
        with tr.span("plans.pipeline.build_index"):  # warm, unlike set-up's
            t0 = time.perf_counter()
            build_index(c.spark, self.manifest, dst, numlines=self.p["numlines"])
            out["plans.pipeline.build_s"] = time.perf_counter() - t0
        out["sinks.zipnum.bytes_per_warc_byte"] = self.cluster_bytes / self.warc_bytes
        manifest = c.spark.read.text(self.manifest).select(F.col("value").alias("path"))
        with tr.span("sources.warc.index_warcs"):
            t0 = time.perf_counter()
            rows = index_warcs(c.spark, manifest).count()
            parse_s = time.perf_counter() - t0
        out["sources.warc.parse_s"] = parse_s
        out["sources.warc.records_per_s"] = self.records / parse_s
        out["sources.warc.emit_ratio"] = rows / self.records
        c.check(rows == self.truth.total(), f"index_warcs: {rows} rows")

        urls = [p.url for p in self.pages] * self.p["n_crawls"]
        with tr.span("functions.surt.surt_urlkey_py"):
            t0 = time.perf_counter()
            keys = [surt_urlkey_py(u) for u in urls]
            surt_s = time.perf_counter() - t0
        out["functions.surt.py_urls_per_s"] = len(urls) / surt_s
        c.check(keys[: len(self.pages)] == [p.urlkey for p in self.pages], "surt keys")

        cdx = index_warcs(c.spark, manifest).cache()
        cdx.count()
        dst = harness.fresh_dir(os.path.join(c.work, "cluster-write"))
        with tr.span("sinks.zipnum.write_zipnum"):
            t0 = time.perf_counter()
            write_zipnum(cdx, dst, numlines=self.p["numlines"])
            out["sinks.zipnum.write_s"] = time.perf_counter() - t0
        cdx.unpersist()
        out["sinks.zipnum.blocks_written"] = _idx_blocks(dst)
        out["sinks.zipnum.bytes_written"] = harness.dir_bytes(dst)

    def summary(self) -> dict:
        lat = sorted(s for _, s in self.samples)
        return {
            "lookup_p50_ms": 1e3 * median(lat),
            "lookup_p90_ms": 1e3 * lat[int(0.9 * (len(lat) - 1))] if lat else 0.0,
            "lookup_qps": self.work_per_s(),
            "lookups": len(lat),
            "build_records_per_s": self.records / self.phases["build"],
            "index_bytes_per_warc_byte": self.cluster_bytes / self.warc_bytes,
            "warc_records": self.records,
            "warc_bytes": self.warc_bytes,
            "captures": self.truth.total(),
            "blocks": self.n_blocks,
        }


# ---------------------------------------------------------------------------
# ann_serve: top-k probes over the vector stores
# ---------------------------------------------------------------------------

ANN_SINGLE = ("pq", "pq_where", "pq_refine", "graph")
ANN_BATCH = ("pq_batch", "graph_batch")
ANN_CYCLE = ANN_SINGLE + ANN_BATCH
K = 10


class AnnServe(Workload):
    """Single top-k probes and fixed-size batches against an IVF-PQ
    store (with attribute filter and flat refine sidecar) and a k-NN
    graph store, both built in set-up from seeded clustered vectors."""

    name = "ann_serve"
    kinds = ANN_CYCLE

    def setup(self) -> None:
        from webarchive_indexing_spark.operators.graph_ann import write_knn_graph
        from webarchive_indexing_spark.sinks.ann_index import write_ivfpq_index

        c, p = self.ctx, self.p
        self.x, self.labels = gen.make_vectors(c.seed, p["n_vectors"])
        path = gen.write_vectors_parquet(self.x, self.labels, os.path.join(c.work, "vectors.parquet"))
        emb = c.spark.read.parquet(path)
        self.pq = os.path.join(c.work, "pq")
        with self.phase("pq_build"):
            write_ivfpq_index(emb, self.pq, attrs=["label"], refine="flat")
        self.graph = os.path.join(c.work, "graph")
        with self.phase("graph_build"):
            write_knn_graph(emb, self.graph, n_base=p["n_base"], attrs=("label",))
        self.q = gen.query_vectors(c.seed, self.x, 400)
        self.qg = gen.query_vectors(c.seed, self.x[: p["n_base"]], 400, "graph")
        self.recall: dict[str, list[float]] = {}
        self.batch_q = 0
        self.batch_s = 0.0
        with self.phase("warm_up"):
            for i, kind in enumerate(ANN_CYCLE):
                self._probe(kind, 1000 + i, timed=False)

    def _probe(self, kind: str, i: int, timed: bool) -> None:
        from webarchive_indexing_spark.operators import graph_ann as G
        from webarchive_indexing_spark.sinks import ann_index as A

        c, spark = self.ctx, self.ctx.spark
        graph = kind.startswith("graph")
        qs = self.qg if graph else self.q
        n = self.p["batch"] if kind.endswith("batch") else 1
        qv = [qs[(i * n + j) % len(qs)].tolist() for j in range(n)]
        label = i % 4 if kind.endswith("where") else None
        where = None if label is None else f"label = {label}"
        layer = "operators.graph_ann" if graph else "sinks.ann_index"
        with c.tracer.op(kind):
            t0 = time.perf_counter()
            with c.tracer.span(f"{layer}.plan", kind=kind):
                if kind in ("pq", "pq_where"):
                    df = A.ivfpq_index_probe_topk(spark, self.pq, qv[0], k=K, where=where)
                elif kind == "pq_refine":
                    df = A.ivfpq_refined_topk(spark, self.pq, None, qv[0], k=K)
                elif kind == "pq_batch":
                    df = A.ivfpq_index_probe_batch_topk(spark, self.pq, qv, k=K)
                elif kind == "graph_batch":
                    df = G.graph_beam_batch_topk(spark, self.graph, qv, k=K)
                else:
                    df = G.graph_beam_topk(spark, self.graph, qv[0], k=K)
            with c.tracer.span(f"{layer}.exec", kind=kind):
                rows = df.collect()
            dt = time.perf_counter() - t0
        if timed:
            self.samples.append((kind, dt))
            if n > 1:
                self.batch_q += n
                self.batch_s += dt
        by_req: dict[int, list] = {}
        for r in rows:
            by_req.setdefault(r["request_no"] if n > 1 else 0, []).append(r)
        for j in range(n):
            self._check(kind, qv[j], by_req.get(j, []), label, recall=not timed)

    def _check(self, kind: str, qv, rows, label, recall: bool) -> None:
        import numpy as np

        graph = kind.startswith("graph")
        n_ids = self.p["n_base"] if graph else len(self.x)
        score = "approx_dist" if kind in ("pq", "pq_where", "pq_batch") else "cos_sim"
        s = [r[score] for r in rows]
        if score == "approx_dist":
            s = [-v for v in s]
        ids = [r["vec_id"] for r in rows]
        ok = (
            # a beam walk can visit fewer than k nodes; a PQ probe cannot
            (0 < len(rows) <= K if graph else len(rows) == K)
            and all(0 <= v < n_ids for v in ids)
            and len(set(ids)) == len(ids)
            and all(a >= b for a, b in zip(s, s[1:]))
            and (label is None or all(self.labels[v] == label for v in ids))
        )
        self.ctx.check(ok, f"{kind}: {len(rows)} rows {ids}")
        if not recall:
            return
        # recall is taken on the warm-up probes only: a fixed query set
        # per seed, so it repeats exactly whatever the loop reached
        base = self.x[:n_ids]
        mask = None if label is None else self.labels[:n_ids] == label
        truth = gen.exact_topk(base, np.asarray(qv), K, mask)
        self.recall.setdefault(kind, []).append(len(set(ids) & set(truth)) / K)

    def op(self, i: int) -> None:
        self._probe(ANN_CYCLE[i % len(ANN_CYCLE)], i, timed=True)

    def latency_samples(self) -> list[tuple[str, float]]:
        # a batch's wall is the time of several queries: it drives
        # work_per_s, not the per-request latency
        return [s for s in self.samples if s[0] in ANN_SINGLE]

    def work_per_s(self) -> float:
        return self.batch_q / self.batch_s if self.batch_s else 0.0

    def recall_at_10(self, graph: bool | None = None) -> float:
        vals = [v for k, vs in self.recall.items()
                if graph is None or k.startswith("graph") == graph for v in vs]
        return sum(vals) / len(vals) if vals else 0.0

    def layer_probes(self, out: dict) -> None:
        from webarchive_indexing_spark.sinks.ann_index import read_ivfpq_model

        tr = self.ctx.tracer
        with tr.span("sinks.ann_index.read_ivfpq_model"):
            t0 = time.perf_counter()
            read_ivfpq_model(self.pq)
            out["sinks.ann_index.model_ms"] = 1e3 * (time.perf_counter() - t0)
        pq_kinds = [k for k in self.kinds if k.startswith("pq")]
        g_kinds = [k for k in self.kinds if k.startswith("graph")]
        _kind_medians(tr, "sinks.ann_index", pq_kinds, out)
        _kind_medians(tr, "operators.graph_ann", g_kinds, out)
        for kind in pq_kinds:
            scanned = [s["input_records"] for s in tr.op_stats if s["kind"] == kind]
            n = self.p["batch"] if kind.endswith("batch") else 1
            out[f"sinks.ann_index.rows_scanned.{kind}"] = median(scanned)
            out[f"sinks.ann_index.useful_ratio.{kind}"] = (
                K * n / median(scanned) if median(scanned) else 0.0
            )
        out["sinks.ann_index.recall_at_10"] = self.recall_at_10(graph=False)
        out["operators.graph_ann.recall_at_10"] = self.recall_at_10(graph=True)

    def summary(self) -> dict:
        single = sorted(s for k, s in self.samples if k in ANN_SINGLE)
        return {
            "ann_p50_ms": 1e3 * median(single),
            "ann_p90_ms": 1e3 * single[int(0.9 * (len(single) - 1))] if single else 0.0,
            "ann_batch_qps": self.work_per_s(),
            "ann_recall_at_10": self.recall_at_10(),
            "vectors": len(self.x),
            "graph_base": self.p["n_base"],
        }


WORKLOADS = {w.name: w for w in (CdxLookup, AnnServe)}
