"""Spans and counters recorded from the benchmark's own code.

A span is (name, start, end, parent span, op id), kept in memory and
written out once when the run ends.  Three sources feed it:

* ``Tracer.span`` around each call the benchmark makes into a layer;
* a wrapper around the py4j client's ``send_command`` — one span per
  driver→JVM call, parented to the layer span that made it;
* Spark's status store, read after each op for the jobs of the op's
  job group (jobs, stages, tasks, input records, shuffle and spill
  bytes), plus one ``spark.job`` span per job.

``NullTracer`` has the same surface and records nothing; the timed
runs use it, so end-to-end numbers are measured with tracing off.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str, **_attrs):
        yield

    @contextlib.contextmanager
    def op(self, kind: str):
        yield


class Tracer(NullTracer):
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.op_stats: list[dict] = []
        self._stack: list[int] = []
        self._op_id: int | None = None
        self._op_no = 0
        self._py4j = {"calls": 0, "s": 0.0}
        self._paused = False
        self._install_py4j_wrapper()

    # -- spans ---------------------------------------------------------
    def _open(self, name: str, op_id, attrs) -> int:
        self.spans.append({
            "name": name, "start": time.perf_counter(), "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": op_id, **attrs,
        })
        return len(self.spans) - 1

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = self._open(name, self._op_id, attrs)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    @contextlib.contextmanager
    def op(self, kind: str):
        """One benchmark op: a root span, a Spark job group, and the
        op's py4j and Spark counts once it ends."""
        self._op_no += 1
        group = f"perfbench-op-{self._op_no}"
        self._op_id = self._op_no
        self._paused = True
        self.sc.setJobGroup(group, kind)
        self._paused = False
        calls0, s0 = self._py4j["calls"], self._py4j["s"]
        try:
            with self.span("bench.op", kind=kind):
                yield
        finally:
            self._paused = True
            try:
                self.sc._jsc.clearJobGroup()
                stats = self._spark_stats(group)
            finally:
                self._paused = False
            stats.update(kind=kind, py4j_calls=self._py4j["calls"] - calls0,
                         py4j_ms=1e3 * (self._py4j["s"] - s0))
            self.op_stats.append(stats)
            self._op_id = None

    # -- py4j ----------------------------------------------------------
    def _install_py4j_wrapper(self) -> None:
        client = self.sc._gateway._gateway_client
        inner = client.send_command
        tracer = self

        def send_command(*args, **kwargs):
            if tracer._paused:
                return inner(*args, **kwargs)
            sid = tracer._open("py4j.send_command", tracer._op_id, {})
            try:
                return inner(*args, **kwargs)
            finally:
                end = time.perf_counter()
                tracer.spans[sid]["end"] = end
                tracer._py4j["calls"] += 1
                tracer._py4j["s"] += end - tracer.spans[sid]["start"]

        client.send_command = send_command
        self._unwrap = lambda: setattr(client, "send_command", inner)

    def close(self) -> None:
        self._unwrap()

    # -- spark ---------------------------------------------------------
    def _spark_stats(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = dict(jobs=0, stages=0, tasks=0, input_records=0,
                   shuffle_bytes=0, spill_bytes=0)
        wall0 = time.time()
        perf0 = time.perf_counter()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                # wall-clock ms → this run's perf_counter timeline
                self.spans.append({
                    "name": "spark.job", "op": self._op_id, "job": jid,
                    "start": perf0 + (sub.get().getTime() / 1e3 - wall0),
                    "end": perf0 + (done.get().getTime() / 1e3 - wall0),
                    "parent": None,
                })
            sids = job.stageIds()
            for i in range(sids.size()):
                st = store.lastStageAttempt(sids.apply(i))
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["input_records"] += st.inputRecords()
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    # -- reports -------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer: a span's duration minus the
        part of it its child spans cover.  ``spark.job`` spans are not
        children of anything (they run on the JVM's clock)."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            covered, reach = 0.0, s["start"]
            for a, b in sorted(children.get(i, ())):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out[_layer(s["name"])] += (s["end"] - s["start"]) - covered
        return dict(out)

    def layers_seen(self) -> set[str]:
        return {_layer(s["name"]) for s in self.spans}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _layer(span_name: str) -> str:
    """'operators.cdx_query.exec' → 'operators.cdx_query'."""
    parts = span_name.split(".")
    return ".".join(parts[:2]) if parts[0] in ("sources", "functions", "sinks",
                                               "operators", "plans") else parts[0]
