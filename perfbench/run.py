"""The repository's benchmark: seeded workloads over the WARC indexing
pipeline, the cdx-server lookup path and the ANN stores.

    python3 perfbench/run.py --workload cdx_lookup --seed 1 --seconds 12 --trace 0

runs one workload in this process on ``local[nproc]`` and prints, as
its last stdout line, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  ``--workload all`` runs
every workload, each in a fresh process, one at a time.  Run it from
the repository root; everything it writes goes under
``.perfbench_work/``.  See ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import harness
from spans import NullTracer, Tracer
from workloads import WORKLOADS, Ctx

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_DIR = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {
    "setup_s": "s",
    "latency_ms": "ms",
    "work_per_s": "1/s",
    "peak_rss_mb": "MB",
}

_SELF = ("bench", "py4j", "spark", "plans.pipeline", "sources.warc",
         "functions.surt", "sinks.zipnum", "operators.cdx_query",
         "sinks.ann_index", "operators.graph_ann")
_LOOKUP_KINDS = ("exact", "closest", "from_to", "fuzzy", "prefix", "domain",
                 "num_pages", "page")
_PQ_KINDS = ("pq", "pq_where", "pq_refine", "pq_batch")
_GRAPH_KINDS = ("graph", "graph_batch")

PER_LAYER = {
    **{f"{layer}.self_s": "s" for layer in _SELF},
    "spark.jobs": "count/op",
    "spark.stages": "count/op",
    "spark.tasks": "count/op",
    "spark.shuffle_bytes": "bytes/op",
    "spark.spill_bytes": "bytes/op",
    "py4j.calls": "count/op",
    "py4j.ms": "ms/op",
    "trace.overhead_ms": "ms",
    # cdx_lookup: the set-up build's layers
    "sources.warc.parse_s": "s",
    "sources.warc.records_per_s": "1/s",
    "sources.warc.emit_ratio": "ratio",
    "functions.surt.py_urls_per_s": "1/s",
    "sinks.zipnum.write_s": "s",
    "sinks.zipnum.blocks_written": "count",
    "sinks.zipnum.bytes_written": "bytes",
    "sinks.zipnum.bytes_per_warc_byte": "ratio",
    "plans.pipeline.build_s": "s",
    # cdx_lookup: the lookup layers
    "sinks.zipnum.idx_ms": "ms",
    "sinks.zipnum.idx_blocks": "count",
    "sinks.zipnum.blocks_read": "count",
    "sinks.zipnum.read_ms": "ms",
    "sinks.zipnum.useful_ratio": "ratio",
    **{f"operators.cdx_query.{m}.{k}": "ms" for k in _LOOKUP_KINDS
       for m in ("plan_ms", "exec_ms")},
    # ann_serve
    "sinks.ann_index.model_ms": "ms",
    **{f"sinks.ann_index.{m}.{k}": u for k in _PQ_KINDS
       for m, u in (("plan_ms", "ms"), ("exec_ms", "ms"),
                    ("rows_scanned", "count"), ("useful_ratio", "ratio"))},
    **{f"operators.graph_ann.{m}.{k}": "ms" for k in _GRAPH_KINDS
       for m in ("plan_ms", "exec_ms")},
    "sinks.ann_index.recall_at_10": "ratio",
    "operators.graph_ann.recall_at_10": "ratio",
}


def _loop(w, ctx, seconds: float, every_kind: bool = False) -> None:
    """Run ops 0, 1, 2, ... until ``seconds`` have passed.  With
    ``every_kind`` go on until each of the workload's op kinds has a
    timed sample too (for at most four times ``seconds``)."""
    start = time.perf_counter()
    i = 0
    while True:
        spent = time.perf_counter() - start
        missing = (every_kind and spent < 4 * seconds
                   and not set(w.kinds) <= {k for k, _ in w.samples})
        if spent >= seconds and not missing:
            return
        try:
            w.op(i)
        except Exception:  # a failed op is counted, the loop goes on
            ctx.error(f"{w.name} op {i}")
        i += 1


def _latency_ms(samples, kinds=None) -> float:
    if kinds is not None:
        samples = [s for s in samples if s[0] in kinds]
    return 1e3 * harness.mean_of_kind_medians(samples) if samples else 0.0


def _traced(w, ctx, seconds: float) -> dict:
    """Half the time untraced, half traced, both over the same ops and
    every op kind (the difference is the tracing overhead), then the
    single-layer probes."""
    _loop(w, ctx, seconds / 2, every_kind=True)
    untraced = list(w.latency_samples())
    w.samples.clear()
    tr = ctx.tracer = Tracer(ctx.spark)
    try:
        _loop(w, ctx, seconds / 2, every_kind=True)
        traced = w.latency_samples()
        shared = {k for k, _ in untraced} & {k for k, _ in traced}
        out = {name: 0.0 for name in PER_LAYER}
        out["trace.overhead_ms"] = _latency_ms(traced, shared) - _latency_ms(untraced, shared)
        w.layer_probes(out)
    finally:
        tr.close()
    ops = tr.op_stats
    for key, name in (("jobs", "spark.jobs"), ("stages", "spark.stages"),
                      ("tasks", "spark.tasks"), ("shuffle_bytes", "spark.shuffle_bytes"),
                      ("spill_bytes", "spark.spill_bytes"), ("py4j_calls", "py4j.calls"),
                      ("py4j_ms", "py4j.ms")):
        out[name] = harness.median([s[key] for s in ops])
    for layer, s in tr.self_times().items():
        if f"{layer}.self_s" in out:
            out[f"{layer}.self_s"] = s
    out["layers_traced"] = sorted(tr.layers_seen())
    tr.dump(os.path.join(WORK_DIR, f"trace-{w.name}-{ctx.seed}.jsonl"))
    return out


def run_one(name: str, seed: int, seconds: float, trace: bool, size: str = "full",
            spark=None) -> tuple[dict, dict]:
    """Run one workload; return (result, report).  With ``spark`` given
    the caller owns the session (the smoke tests share one)."""
    t_start = time.perf_counter()
    cpus = harness.nproc()
    work = harness.fresh_dir(os.path.join(WORK_DIR, f"{name}-{seed}"))
    load_before = harness.loadavg()
    own = spark is None
    if own:
        harness.confine(work, cpus)
        spark = harness.start_spark()
    spark_s = time.perf_counter() - t_start
    try:
        ctx = Ctx(spark, work, seed, size, NullTracer())
        w = WORKLOADS[name](ctx)
        w.phases["spark_start"] = spark_s
        w.setup()
        setup_s = time.perf_counter() - t_start
        if trace:
            layer = _traced(w, ctx, seconds)
            traced = layer.pop("layers_traced")
            metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            _loop(w, ctx, seconds)
            traced = []
            metrics = {
                "setup_s": setup_s,
                "latency_ms": _latency_ms(w.latency_samples()),
                "work_per_s": w.work_per_s(),
                "peak_rss_mb": harness.peak_rss_mb(spark),
            }
            metrics = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
        report = {
            "workload": name,
            "env": harness.env_record(spark, seed, cpus),
            "summary": {**w.summary(), "ops": len(w.samples),
                        "failed_ratio": ctx.failed / max(ctx.attempted, 1)},
            "setup_phases_s": w.phases,
            "layers_traced": traced,
        }
    finally:
        if own:
            harness.stop_spark(spark)
    report["env"].update(loadavg_before=load_before, loadavg_after=harness.loadavg())
    harness.fresh_dir(work)  # drop the generated inputs and stores
    result = {"correct": ctx.failed == 0, "attempted": ctx.attempted,
              "failed": ctx.failed, "metrics": metrics}
    return result, report


def _run_all(args) -> int:
    """Each workload in a fresh process, one at a time."""
    results = {}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--size", args.size]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print(proc.stdout, end="")
        if proc.returncode != 0 or not lines:
            print(f"perfbench: {name} exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        results[name] = json.loads(lines[-1])
    for name, r in results.items():
        verdict = "correct" if r["correct"] else f"WRONG ({r['failed']}/{r['attempted']} failed)"
        print(f"{name}: {verdict}")
        for metric, v in r["metrics"].items():
            print(f"  {metric} = {v['value']:.6g} {v['unit']}")
    ok = all(r["correct"] for r in results.values())
    print(json.dumps({
        "correct": ok,
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {},
    }))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the smoke-test input size")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "webarchive_indexing_spark", "__init__.py")):
        print("perfbench: the webarchive_indexing_spark package is not next to "
              "perfbench/; run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return _run_all(args)
    result, report = run_one(args.workload, args.seed, args.seconds,
                             bool(args.trace), args.size)
    print("perfbench report " + json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
