"""Smoke tests of the benchmark itself, at the tiny input size, in one
process with one Spark session:

* the generator is deterministic per seed (byte-identical WARCs, the
  same request streams and vectors) and its SURT keys match the
  package's;
* every workload runs end to end and prints every end-to-end metric
  with its unit;
* a deliberately corrupted expected answer shows up as failed ops;
* the traced run emits a span for every layer, and a non-zero plan
  and exec time for every op kind the workload runs.

    python3 perfbench/smoke.py

Exits 0 when every check passes.
"""

from __future__ import annotations

import filecmp
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import harness  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

LAYERS = {"sources.warc", "functions.surt", "sinks.zipnum", "operators.cdx_query",
          "plans.pipeline", "sinks.ann_index", "operators.graph_ann", "spark", "py4j"}
_failures: list[str] = []


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        _failures.append(what)


def check_generator(work: str) -> None:
    pages = gen.make_site(7, 8, 120)
    dirs = []
    for rep in ("a", "b"):
        d = harness.fresh_dir(os.path.join(work, f"gen-{rep}"))
        cg = gen.CrawlGen(7, pages, files_per_crawl=2)
        for _ in range(2):
            cg.write_crawl(d)
        dirs.append(d)
    names = sorted(os.listdir(dirs[0]))
    same = filecmp.cmpfiles(dirs[0], dirs[1], names, shallow=False)[0]
    expect(len(names) == 4 and same == names, "same seed gives byte-identical WARC files")
    other = harness.fresh_dir(os.path.join(work, "gen-c"))
    gen.CrawlGen(8, gen.make_site(8, 8, 120), files_per_crawl=2).write_crawl(other)
    expect(not filecmp.cmp(os.path.join(dirs[0], names[0]),
                           os.path.join(other, names[0]), shallow=False),
           "another seed gives other WARC bytes")
    expect(gen.lookup_requests(7, pages, 2, 50) == gen.lookup_requests(7, pages, 2, 50),
           "same seed gives the same lookup requests")
    x1, l1 = gen.make_vectors(7, 200)
    x2, l2 = gen.make_vectors(7, 200)
    expect((x1 == x2).all() and (l1 == l2).all()
           and (gen.query_vectors(7, x1, 5) == gen.query_vectors(7, x2, 5)).all(),
           "same seed gives the same vectors and query vectors")

    from webarchive_indexing_spark.functions.surt import surt_urlkey_py

    expect(all(surt_urlkey_py(p.url) == p.urlkey for p in pages),
           "generator urlkeys equal the package's SURT keys")


def check_workloads(spark) -> None:
    for name in workloads.WORKLOADS:
        # long enough to reach every op kind, batches included
        result, report = run.run_one(name, 3, 6, False, "tiny", spark=spark)
        m = result["metrics"]
        expect(result["correct"] and result["failed"] == 0 and result["attempted"] > 0,
               f"{name}: every op correct ({result['attempted']} checked)")
        expect(list(m) == list(run.END_TO_END)
               and all(m[k]["unit"] == u for k, u in run.END_TO_END.items())
               and all(m[k]["value"] > 0 for k in m),
               f"{name}: all end-to-end metrics, with units, non-zero")
        expect(set(report["env"]) >= {"seed", "nproc", "master", "pyspark", "jvm",
                                      "loadavg_before", "loadavg_after"},
               f"{name}: run-environment record")


def check_corrupted_truth(spark) -> None:
    real = workloads.expected_lookup

    def corrupted(truth, req):
        want = real(truth, req)
        return want[:-1] if req["kind"] == "exact" else want

    workloads.expected_lookup = corrupted
    try:
        result, report = run.run_one("cdx_lookup", 3, 1, False, "tiny", spark=spark)
    finally:
        workloads.expected_lookup = real
    expect(result["failed"] > 0 and not result["correct"]
           and report["summary"]["failed_ratio"] > 0,
           f"corrupted expected answers are counted "
           f"({result['failed']}/{result['attempted']} failed)")


def check_traced(spark) -> None:
    seen: set[str] = set()
    for name in workloads.WORKLOADS:
        result, report = run.run_one(name, 3, 4, True, "tiny", spark=spark)
        m = result["metrics"]
        expect(result["correct"] and list(m) == list(run.PER_LAYER),
               f"{name}: traced run reports every per-layer metric")
        kinds = workloads.WORKLOADS[name].kinds
        zero = [k for k, v in m.items() if (".plan_ms." in k or ".exec_ms." in k)
                and k.rsplit(".", 1)[1] in kinds and not v["value"] > 0]
        expect(not zero, f"{name}: plan_ms/exec_ms of every op kind non-zero "
                         f"(zero: {zero})")
        seen |= set(report["layers_traced"])
    expect(LAYERS <= seen, f"spans for every layer (missing: {sorted(LAYERS - seen)})")


def main() -> int:
    work = harness.fresh_dir(os.path.join(run.WORK_DIR, "smoke"))
    harness.confine(work, harness.nproc())
    check_generator(work)
    spark = harness.start_spark()
    try:
        check_workloads(spark)
        check_corrupted_truth(spark)
        check_traced(spark)
    finally:
        harness.stop_spark(spark)
    harness.fresh_dir(work)
    print(f"{len(_failures)} failed" if _failures else "all smoke checks passed")
    return 1 if _failures else 0


if __name__ == "__main__":
    sys.exit(main())
