"""End-to-end plan tests: the reference's CLI workflow as one call
(build_index) and as the two materialized stages, both queryable via
the cdx-server surface afterwards."""

from __future__ import annotations

import os
import tempfile

import pytest

from webarchive_indexing_spark.plans import (
    build_index,
    cluster_from_cdx_gz,
    index_to_cdx_gz,
    query_index,
)
from webarchive_indexing_spark.sources.warc import write_mini_warc


@pytest.fixture(scope="module")
def warc_manifest(spark):
    d = tempfile.mkdtemp(prefix="pipe_warcs_")
    for i in range(4):
        write_mini_warc(
            os.path.join(d, f"crawl-{i:02d}.warc.gz"),
            [
                dict(
                    url=f"https://example.com/page/{i}-{j}",
                    date_iso=f"201{5 + (j % 3)}-01-0{1 + j}T00:00:0{i}Z",
                    payload=f"body {i} {j}".encode(),
                )
                for j in range(5)
            ],
        )
    manifest = os.path.join(d, "manifest.txt")
    with open(manifest, "w") as fh:
        for i in range(4):
            fh.write(os.path.join(d, f"crawl-{i:02d}.warc.gz") + "\n")
    return manifest


def test_one_call_build_and_query(spark, warc_manifest):
    with tempfile.TemporaryDirectory() as out:
        idx = build_index(spark, warc_manifest, out, shards=4, numlines=3)
        assert idx.count() > 0
        assert os.path.exists(os.path.join(out, "cluster.idx"))
        assert os.path.exists(os.path.join(out, "cluster.loc"))
        # exact-match query through the block-pruned read path
        hits = query_index(spark, out, "https://example.com/page/2-3").collect()
        assert len(hits) == 1
        assert hits[0].urlkey == "com,example)/page/2-3"
        # prefix query + from/to + limit
        pfx = query_index(
            spark,
            out,
            "https://example.com/page/",
            match_type="prefix",
            from_="2015",
            to="2015",
            limit=5,
        )
        rows = pfx.collect()
        assert 0 < len(rows) <= 5
        assert all(r.timestamp.startswith("2015") for r in rows)


def test_two_stage_equals_one_call(spark, warc_manifest):
    with tempfile.TemporaryDirectory() as d:
        cdx_dir = os.path.join(d, "cdx")
        out1 = os.path.join(d, "cluster_two_stage")
        out2 = os.path.join(d, "cluster_one_call")
        index_to_cdx_gz(spark, warc_manifest, cdx_dir)
        cluster_from_cdx_gz(spark, cdx_dir, out1, shards=4, numlines=3)
        build_index(spark, warc_manifest, out2, shards=4, numlines=3)
        a = query_index(spark, out1, "https://example.com/", match_type="prefix")
        b = query_index(spark, out2, "https://example.com/", match_type="prefix")
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_incremental_update_index(spark, warc_manifest):
    """update_index: epoch-per-batch ingest with skip-existing, replay
    idempotence, and compaction folding — the live-archive loop."""
    import glob

    from webarchive_indexing_spark.plans.pipeline import update_index
    from webarchive_indexing_spark.sinks.zipnum import (
        list_epochs,
        read_zipnum_epochs,
    )
    from webarchive_indexing_spark.sources.warc import write_mini_warc

    d = os.path.dirname(warc_manifest)
    paths = sorted(glob.glob(os.path.join(d, "crawl-*.warc.gz")))
    with tempfile.TemporaryDirectory() as out:
        # batch 1: first two WARCs
        m1 = spark.createDataFrame([(p,) for p in paths[:2]], ["path"])
        e1 = update_index(spark, m1, out, shards=2, numlines=3)
        assert e1 is not None
        base = read_zipnum_epochs(spark, out).count()
        assert base > 0

        # batch 2: all four WARCs, two already indexed -> only the new
        # two land, in a second epoch
        m2 = spark.createDataFrame([(p,) for p in paths], ["path"])
        e2 = update_index(spark, m2, out, indexed=m1, shards=2, numlines=3)
        assert e2 is not None and e2 != e1
        assert len(list_epochs(out)) == 2
        full = read_zipnum_epochs(spark, out)
        total = full.count()
        # the .warc.gz listing skips the two indexed WARCs: the store
        # holds each of the 4 WARCs' 5 records exactly once
        assert total == 20
        want = {tuple(r) for r in full.collect()}

        # replay of batch 2 (same paths, same skip set): same epoch id,
        # content unchanged
        e2b = update_index(spark, m2, out, indexed=m1, shards=2, numlines=3)
        assert e2b == e2
        assert {tuple(r) for r in read_zipnum_epochs(spark, out).collect()} == want

        # batch 3 with compaction: one folded epoch, same content
        extra = os.path.join(d, "crawl-99.warc.gz")
        write_mini_warc(
            extra,
            [
                dict(
                    url="https://example.com/late/1",
                    date_iso="2017-05-05T00:00:00Z",
                    payload=b"late body",
                )
            ],
        )
        m3 = spark.createDataFrame([(extra,)], ["path"])
        e3 = update_index(spark, m3, out, shards=2, numlines=3, compact=True)
        assert e3 is not None
        assert len(list_epochs(out)) == 1  # everything folded
        after = {tuple(r) for r in read_zipnum_epochs(spark, out).collect()}
        assert want < after and len(after) == len(want) + 1

        # replay of a batch whose epoch was compacted away: no-op
        assert update_index(spark, m3, out, shards=2, numlines=3) is None
        assert {tuple(r) for r in read_zipnum_epochs(spark, out).collect()} == after


def test_takedown_composed_plan(spark, sf_dir):
    """plans.pipeline.takedown: tombstone epoch through the composed
    API, immediate hiding, physical purge with compact=True, replay
    no-op under the same content-derived batch key."""
    import os
    import tempfile

    from webarchive_indexing_spark.plans.pipeline import takedown
    from webarchive_indexing_spark.queries.cdx_surface import derived_cdx
    from webarchive_indexing_spark.sinks.zipnum import (
        list_epochs,
        read_zipnum_epochs,
        reserve_epoch_id,
        write_zipnum_epoch,
    )
    from pyspark.sql import functions as F

    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "idx")
        full = (
            derived_cdx(spark, sf_dir)
            .limit(100)
            .select(
                "urlkey",
                F.col("ts14").alias("timestamp"),
                F.lit("http://x/").alias("url"),
                "mime",
                "status",
                "digest",
                F.lit(None).cast("string").alias("redirect"),
                F.lit(None).cast("string").alias("robotflags"),
                "length",
                "offset",
                "filename",
            )
        )
        eid = reserve_epoch_id(out, "batch:0")
        write_zipnum_epoch(full, out, eid, shards=2, numlines=50)
        victim = full.limit(1).collect()[0].urlkey
        n_before = read_zipnum_epochs(spark, out).count()
        n_victim = (
            read_zipnum_epochs(spark, out)
            .filter(F.col("urlkey") == victim)
            .count()
        )
        assert n_victim > 0

        tid = takedown(spark, [(victim, None)], out, compact=True)
        assert tid > eid
        after = read_zipnum_epochs(spark, out)
        assert after.filter(F.col("urlkey") == victim).count() == 0
        assert after.count() == n_before - n_victim
        assert len(list_epochs(out)) == 1  # compacted, tombstones carried

        # replay with the same content -> same epoch id, still clean
        tid2 = takedown(spark, [(victim, None)], out)
        assert tid2 == tid
        assert read_zipnum_epochs(spark, out).count() == n_before - n_victim


def test_cli_front_door(spark, warc_manifest, tmp_path, capsys):
    """The __main__ CLI mirrors the reference's job invocations:
    two-stage index-warcs + zipnum-cluster, then query — all through
    argv, no driver code."""
    import os

    from webarchive_indexing_spark.__main__ import main

    cdx_dir = str(tmp_path / "cdx")
    out_dir = str(tmp_path / "cluster")

    assert main(["index-warcs", warc_manifest, cdx_dir]) == 0
    assert any(f.endswith(".gz") for f in os.listdir(cdx_dir))
    assert main(["zipnum-cluster", cdx_dir, out_dir, "--shards", "2",
                 "--numlines", "10"]) == 0
    assert os.path.exists(os.path.join(out_dir, "cluster.idx"))

    # pick any indexed urlkey and query it back through the CLI
    from webarchive_indexing_spark.sinks.zipnum import read_zipnum

    some = read_zipnum(spark, out_dir).select("urlkey", "url").first()
    assert main(["query", out_dir, some.url, "--match-type", "exact"]) == 0
    lines = [ln for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    assert lines and all(ln.split(" ")[0] == some.urlkey for ln in lines)

    assert main(["query", out_dir, some.url, "--output", "json",
                 "--limit", "1"]) == 0
    import json as _json

    j = [_json.loads(ln) for ln in capsys.readouterr().out.splitlines() if ln]
    assert len(j) == 1 and j[0]["urlkey"] == some.urlkey


def test_cli_query_with_acl(spark, warc_manifest, tmp_path, capsys):
    """--acl FILE serves wb-manager access control end-to-end: an
    excluded capture disappears from the listing, a blocked one stays
    listed, and a malformed acl line is quarantined with a warning
    instead of widening or failing."""
    from webarchive_indexing_spark.__main__ import main

    out_dir = str(tmp_path / "cluster")
    assert main(["build-index", warc_manifest, out_dir, "--shards", "2",
                 "--numlines", "10"]) == 0

    acl = tmp_path / "access.aclj"
    acl.write_text(
        'com,example)/page/1 - {"access": "block"}\n'
        'com,example)/page/0 - {"access": "exclude"}\n'
        "garbage line without separator\n"
    )
    assert main(["query", out_dir, "https://example.com/", "--match-type",
                 "domain", "--acl", str(acl)]) == 0
    cap = capsys.readouterr()
    keys = [ln.split(" ")[0] for ln in cap.out.splitlines() if ln.strip()]
    assert keys, "expected listed captures"
    assert not any(k.startswith("com,example)/page/0") for k in keys)
    assert any(k.startswith("com,example)/page/1") for k in keys)
    assert any(k.startswith("com,example)/page/2") for k in keys)
    assert "unparseable acl line skipped" in cap.err

    # without --acl the excluded subtree is listed (control)
    assert main(["query", out_dir, "https://example.com/", "--match-type",
                 "domain"]) == 0
    keys = [ln.split(" ")[0]
            for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    assert any(k.startswith("com,example)/page/0") for k in keys)

    # json output carries the access verdict for blocked rows
    assert main(["query", out_dir, "https://example.com/page/1-1",
                 "--output", "json", "--acl", str(acl)]) == 0
    import json as _json

    rows = [_json.loads(ln)
            for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    assert rows and all(r["access"] == "block" for r in rows)


def test_cli_query_embargo_and_wildcard(spark, warc_manifest, tmp_path, capsys):
    """Round-8 CLI surface: --embargo/--as-of hide embargoed captures
    (failing CLOSED on a malformed block), and a wildcard URL with no
    --match-type infers prefix."""
    from webarchive_indexing_spark.__main__ import main

    out_dir = str(tmp_path / "cluster")
    assert main(["build-index", warc_manifest, out_dir, "--shards", "2",
                 "--numlines", "10"]) == 0

    # wildcard URL, no --match-type -> prefix inference
    assert main(["query", out_dir, "https://example.com/page/*"]) == 0
    keys = [ln.split(" ")[0]
            for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    assert keys and all(k.startswith("com,example)/page/") for k in keys)
    n_all = len(keys)

    # after: 1990 embargoes every modern capture -> empty listing
    emb = tmp_path / "config.yaml"
    emb.write_text("embargo:\n    after: 1990\n")
    assert main(["query", out_dir, "https://example.com/page/*",
                 "--embargo", str(emb)]) == 0
    assert not capsys.readouterr().out.strip()

    # before: 1990 embargoes nothing -> listing unchanged
    emb.write_text("embargo:\n    before: 1990\n")
    assert main(["query", out_dir, "https://example.com/page/*",
                 "--embargo", str(emb)]) == 0
    assert len([ln for ln in capsys.readouterr().out.splitlines()
                if ln.strip()]) == n_all

    # malformed block -> fail CLOSED (exit 2, reason on stderr)
    emb.write_text("embargo:\n    newer:\n        fortnights: 2\n")
    assert main(["query", out_dir, "https://example.com/page/*",
                 "--embargo", str(emb)]) == 2
    assert "embargo config rejected" in capsys.readouterr().err

    # newer: without --as-of -> explicit refusal, not a traceback
    emb.write_text("embargo:\n    newer:\n        days: 30\n")
    assert main(["query", out_dir, "https://example.com/page/*",
                 "--embargo", str(emb)]) == 2
    assert "--as-of" in capsys.readouterr().err

    # newer: with an as_of far in the future embargoes nothing
    assert main(["query", out_dir, "https://example.com/page/*",
                 "--embargo", str(emb), "--as-of", "29990101000000"]) == 0
    assert len([ln for ln in capsys.readouterr().out.splitlines()
                if ln.strip()]) == n_all


def test_cli_query_fuzzy_rules_file(spark, warc_manifest, tmp_path, capsys):
    """--fuzzy-rules FILE wires rules.yaml into the query path the way
    --acl wires .aclj: the file's table (not the built-in default)
    decides which captures a fuzzy query returns, and quarantined
    rules warn instead of half-applying."""
    from webarchive_indexing_spark.__main__ import main

    out_dir = str(tmp_path / "cluster")
    assert main(["build-index", warc_manifest, out_dir, "--shards", "2",
                 "--numlines", "10"]) == 0

    # find a real indexed bare-path url to decorate with a junk param
    from webarchive_indexing_spark.sinks.zipnum import read_zipnum

    some = read_zipnum(spark, out_dir).select("urlkey", "url").first()
    junked = some.url + "?x=9"

    # a rules file whose strip rule fires on x= -> captures found,
    # and whose damaged sibling rule warns
    rules = tmp_path / "rules.yaml"
    rules.write_text(
        "rules:\n"
        "  - url_prefix: ''\n"
        "    fuzzy_lookup: '(?P<bad>y)=1'\n"
        "  - url_prefix: ''\n"
        "    fuzzy_lookup: '([?&])x=[0-9]+&?'\n"
    )
    assert main(["query", out_dir, junked, "--fuzzy-rules", str(rules)]) == 0
    cap = capsys.readouterr()
    keys = [ln.split(" ")[0] for ln in cap.out.splitlines() if ln.strip()]
    assert keys and all(k == some.urlkey for k in keys)
    assert "fuzzy rule quarantined" in cap.err

    # a table with no applicable rule -> the same lookup finds nothing
    # (the DEFAULT table's removeall would have matched: the FILE is
    # what decides)
    rules.write_text(
        "rules:\n"
        "  - url_prefix: ''\n"
        "    fuzzy_lookup: '([?&])zz=1&?'\n"
    )
    assert main(["query", out_dir, junked, "--fuzzy-rules", str(rules)]) == 0
    assert not capsys.readouterr().out.strip()

    # control: the built-in default table via plain --fuzzy DOES match
    # (removeall), proving the file replaced it above
    assert main(["query", out_dir, junked, "--fuzzy"]) == 0
    assert capsys.readouterr().out.strip()


def test_cli_collapse_annotations_resume_and_timemap(spark, warc_manifest,
                                                     tmp_path, capsys):
    """Round-8 CLI completion: the collapse annotations
    (--collapse-to-last/--show-group-count/--show-skip-count),
    --resume-key/--tiebreak paging, and the timemap subcommand all
    reach the engine through argv."""
    import json as _json

    from webarchive_indexing_spark.__main__ import main

    out_dir = str(tmp_path / "cluster")
    assert main(["build-index", warc_manifest, out_dir, "--shards", "2",
                 "--numlines", "10"]) == 0

    url = "https://example.com/"

    # collapse runs on the year digit with run-size annotation
    assert main(["query", out_dir, url, "--match-type", "domain",
                 "--collapse", "timestamp:4", "--show-group-count",
                 "--output", "json"]) == 0
    rows = [_json.loads(ln)
            for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    assert rows and all("groupcount" in r for r in rows)
    assert sum(r["groupcount"] for r in rows) >= len(rows)

    assert main(["query", out_dir, url, "--match-type", "domain",
                 "--collapse", "timestamp:4", "--show-skip-count",
                 "--collapse-to-last", "--output", "json"]) == 0
    rows = [_json.loads(ln)
            for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    assert rows and all("skipcount" in r for r in rows)

    # resume-key paging: page 2 resumes strictly after page 1's last row
    assert main(["query", out_dir, url, "--match-type", "domain",
                 "--limit", "3", "--output", "json"]) == 0
    page1 = [_json.loads(ln)
             for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    assert len(page1) == 3
    last = page1[-1]
    assert main(["query", out_dir, url, "--match-type", "domain",
                 "--limit", "3", "--output", "json",
                 "--resume-key", last["urlkey"], last["timestamp"]]) == 0
    page2 = [_json.loads(ln)
             for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    assert page2 and all(
        (r["urlkey"], r["timestamp"]) > (last["urlkey"], last["timestamp"])
        for r in page2
    )
    # malformed resume key refuses, no traceback
    assert main(["query", out_dir, url, "--resume-key", "only-one"]) == 2

    # timemap: link-format grammar over one URI-R
    some = page1[0]
    assert main(["timemap", out_dir, some["url"]]) == 0
    lines = [ln for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    assert lines[0].endswith('rel="original",')
    assert 'rel="first' in lines[1]
    assert lines[-1].rstrip().endswith('"')  # last memento: no comma
    assert all('datetime="' in ln for ln in lines[1:])

    assert main(["timemap", out_dir, some["url"], "--format", "json"]) == 0
    jlines = [_json.loads(ln)
              for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    assert jlines and all(j["urlkey"] == some["urlkey"] for j in jlines)
    assert jlines[0]["rel"].startswith("first")

    assert main(["timemap", out_dir, some["url"], "--format", "cdxj"]) == 0
    clines = [ln for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    assert clines and all(ln.startswith(some["urlkey"] + " ") for ln in clines)

    # paged timemap: RFC 7089 §5 self/prev/next chain through argv
    assert main(["timemap", out_dir, some["url"], "--page-size", "2"]) == 0
    plines = [ln for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    assert sum('rel="original"' in ln for ln in plines) >= 1
    selfs = [ln for ln in plines if 'rel="self"' in ln]
    assert selfs and all('from="' in ln and 'until="' in ln for ln in selfs)
    if len(selfs) > 1:  # multi-page map: the chain exists and closes
        assert any('rel="next"' in ln for ln in plines)
        assert any('rel="prev"' in ln for ln in plines)
        # page 0 alone: has next, no prev
        assert main(["timemap", out_dir, some["url"],
                     "--page-size", "2", "--page", "0"]) == 0
        p0 = capsys.readouterr().out.splitlines()
        assert any('rel="next"' in ln for ln in p0)
        assert not any('rel="prev"' in ln for ln in p0)
    assert main(["timemap", out_dir, some["url"], "--page-size", "2",
                 "--format", "json"]) == 2
    assert main(["timemap", out_dir, some["url"], "--page", "1"]) == 2
    capsys.readouterr()

    # timegate: RFC 7089 §4 response shape for the closest capture
    assert main(["timegate", out_dir, some["url"],
                 "--accept-datetime", "2015"]) == 0
    glines = capsys.readouterr().out.splitlines()
    assert glines[0] == "HTTP/1.1 302 Found"
    assert glines[1].startswith("Location: https://web.archive.example/web/")
    assert glines[1].endswith("id_/" + some["urlkey"])
    assert glines[2] == "Vary: accept-datetime"
    assert 'rel="original"' in glines[3] and 'rel="memento"' in glines[3]
    assert 'rel="first memento"; datetime="' in glines[3]
    # the Location timestamp is the closest capture to the accept
    # datetime: feed the same request through the query surface
    assert main(["query", out_dir, some["url"], "--closest", "2015",
                 "--limit", "1", "--output", "json"]) == 0
    want_ts = _json.loads(capsys.readouterr().out.splitlines()[0])["timestamp"]
    assert f"/web/{want_ts}id_/" in glines[1]
    # the RFC-1123 form Memento clients actually send negotiates the
    # same capture as its ts14 equivalent
    assert main(["timegate", out_dir, some["url"], "--accept-datetime",
                 "Thu, 01 Jan 2015 00:00:00 GMT"]) == 0
    rfc_lines = capsys.readouterr().out.splitlines()
    assert rfc_lines[1] == glines[1]  # same Location as ts14 '2015'
    # malformed accept-datetime and a miss both exit 2 cleanly
    assert main(["timegate", out_dir, some["url"],
                 "--accept-datetime", "not-a-ts"]) == 2
    assert main(["timegate", out_dir, "https://nowhere.example/x",
                 "--accept-datetime", "2015"]) == 2


def test_cli_paging_flags(spark, warc_manifest, tmp_path, capsys):
    """--show-num-pages / --show-paged-index / --page N --page-size K
    expose the ZipNum block-run pagination through argv; pages tile
    the unpaged listing."""
    from webarchive_indexing_spark.__main__ import main

    out_dir = str(tmp_path / "cluster")
    assert main(["build-index", warc_manifest, out_dir, "--shards", "2",
                 "--numlines", "5"]) == 0
    url = "https://example.com/"

    assert main(["query", out_dir, url, "--match-type", "domain",
                 "--show-num-pages", "--page-size", "2"]) == 0
    n = int(capsys.readouterr().out.strip())
    assert n >= 1

    assert main(["query", out_dir, url, "--match-type", "domain",
                 "--show-paged-index", "--page-size", "2"]) == 0
    idx_lines = [ln for ln in capsys.readouterr().out.splitlines()
                 if ln.strip()]
    assert idx_lines and all(ln.split(" ")[0] == str(p)
                             for p, ln in [(ln.split(" ")[0], ln)
                                           for ln in idx_lines])

    assert main(["query", out_dir, url, "--match-type", "domain"]) == 0
    full = sorted(ln for ln in capsys.readouterr().out.splitlines()
                  if ln.strip())
    paged = []
    for p in range(n):
        assert main(["query", out_dir, url, "--match-type", "domain",
                     "--page", str(p), "--page-size", "2"]) == 0
        paged.extend(ln for ln in capsys.readouterr().out.splitlines()
                     if ln.strip())
    assert sorted(paged) == full


def test_cli_show_resume_key(spark, warc_manifest, tmp_path, capsys):
    """pywb showResumeKey: a truncated listing appends a blank line
    then the next resume key; feeding it back pages without gaps; a
    final page (under limit) emits NO trailer; invalid combos refuse."""
    from webarchive_indexing_spark.__main__ import main

    out_dir = str(tmp_path / "cluster")
    assert main(["build-index", warc_manifest, out_dir, "--shards", "2",
                 "--numlines", "10"]) == 0
    url = "https://example.com/"

    assert main(["query", out_dir, url, "--match-type", "domain"]) == 0
    full = [ln for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    total = len(full)
    assert total > 3

    # page with the trailer until exhaustion
    seen, rk = [], None
    for _ in range(total):
        argv = ["query", out_dir, url, "--match-type", "domain",
                "--limit", "3", "--show-resume-key"]
        if rk:
            argv += ["--resume-key", *rk]
        assert main(argv) == 0
        out = capsys.readouterr().out.splitlines()
        if "" in out:
            cut = out.index("")
            rows, trailer = out[:cut], [ln for ln in out[cut:] if ln.strip()]
            assert len(trailer) == 1
            rk = trailer[0].split(" ")
            assert len(rk) == 2
        else:
            rows, rk = [ln for ln in out if ln.strip()], None
        seen.extend(rows)
        if rk is None:
            break
    assert seen == full  # gap-free, in order, complete

    # trailer only when the limit actually truncated
    assert main(["query", out_dir, url, "--match-type", "domain",
                 "--limit", str(total + 5), "--show-resume-key"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert "" not in [ln for i, ln in enumerate(out) if i < len(out) - 1]

    # json output carries the trailer too (last line after a blank)
    assert main(["query", out_dir, url, "--match-type", "domain",
                 "--limit", "2", "--show-resume-key",
                 "--output", "json"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert out[-2] == "" and len(out[-1].split(" ")) == 2

    # a NULL tiebreak value must not traceback: toJSON() OMITS null
    # fields, so the dict lookup has to fall back to the CDX '-'
    # placeholder (redirect is NULL on every row of this fixture)
    assert main(["query", out_dir, url, "--match-type", "domain",
                 "--limit", "2", "--show-resume-key",
                 "--tiebreak", "redirect", "--output", "json"]) == 0
    out = capsys.readouterr().out.splitlines()
    trailer = out[-1].split(" ")
    assert len(trailer) == 3 and trailer[2] == "-"

    # guards: needs positive limit, default order, full fields
    assert main(["query", out_dir, url, "--show-resume-key"]) == 2
    assert main(["query", out_dir, url, "--show-resume-key",
                 "--limit", "-3"]) == 2
    assert main(["query", out_dir, url, "--show-resume-key", "--limit", "3",
                 "--fields", "urlkey"]) == 2


def test_cli_pywb_dropin_composed(spark, warc_manifest, tmp_path, capsys):
    """The pywb drop-in story end-to-end through ONE argv call: a
    deployment's .aclj (with allow_ignore_embargo), config.yaml
    embargo block, and rules.yaml fuzzy table all load into the same
    query, composing with collapse + limit — the migration scenario
    SURVEY's tier-B surface exists for."""
    import json as _json

    from webarchive_indexing_spark.__main__ import main

    out_dir = str(tmp_path / "cluster")
    assert main(["build-index", warc_manifest, out_dir, "--shards", "2",
                 "--numlines", "10"]) == 0

    acl = tmp_path / "access.aclj"
    acl.write_text(
        'com,example)/page/1 - {"access": "allow_ignore_embargo"}\n'
        'com,example)/page/0 - {"access": "exclude"}\n'
    )
    emb = tmp_path / "config.yaml"
    emb.write_text("embargo:\n    after: 1990\n")  # everything modern
    rules = tmp_path / "rules.yaml"
    rules.write_text(
        "rules:\n"
        "  - url_prefix: ''\n"
        "    fuzzy_lookup: '([?&])x=[0-9]+&?'\n"
    )

    # everything embargoed EXCEPT the allow_ignore_embargo subtree;
    # the excluded subtree stays hidden; fuzzy strips the junk param
    from webarchive_indexing_spark.sinks.zipnum import read_zipnum

    some = (
        read_zipnum(spark, out_dir)
        .filter("urlkey like 'com,example)/page/1%'")
        .select("url").first()["url"]
    )
    assert main(["query", out_dir, some + "?x=9",
                 "--acl", str(acl), "--embargo", str(emb),
                 "--fuzzy-rules", str(rules),
                 "--output", "json"]) == 0
    rows = [_json.loads(ln)
            for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    assert rows and all(r["urlkey"].startswith("com,example)/page/1")
                        for r in rows)
    assert all(r["access"] == "allow" for r in rows)

    # the same fuzzy query OUTSIDE the exempt subtree is embargoed out
    other = (
        read_zipnum(spark, out_dir)
        .filter("urlkey like 'com,example)/page/2%'")
        .select("url").first()["url"]
    )
    assert main(["query", out_dir, other + "?x=9",
                 "--acl", str(acl), "--embargo", str(emb),
                 "--fuzzy-rules", str(rules)]) == 0
    assert not capsys.readouterr().out.strip()

    # drop the embargo: the same call lists it (control), and collapse
    # + limit still compose on top
    assert main(["query", out_dir, other + "?x=9",
                 "--acl", str(acl), "--fuzzy-rules", str(rules),
                 "--collapse", "timestamp:4", "--show-group-count",
                 "--limit", "5", "--output", "json"]) == 0
    rows = [_json.loads(ln)
            for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    assert rows and all("groupcount" in r for r in rows)


def test_cli_clean_errors_and_text_annotations(spark, warc_manifest,
                                               tmp_path, capsys):
    """Review-found CLI gaps: engine ValueErrors surface as the
    'error: ...' + exit-2 convention (never tracebacks), and the
    collapse annotations appear in the DEFAULT text output, appended
    after the 11 CDX fields."""
    from webarchive_indexing_spark.__main__ import main

    out_dir = str(tmp_path / "cluster")
    assert main(["build-index", warc_manifest, out_dir, "--shards", "2",
                 "--numlines", "10"]) == 0
    url = "https://example.com/"

    # engine validations -> clean exit 2 with a reason on stderr
    for argv, marker in [
        (["query", out_dir, url, "--match-type", "domain", "--page", "0",
          "--resume-key", "com,example)/page/1", "2015"], "paging schemes"),
        (["query", out_dir, url, "--match-type", "domain", "--page", "-2"],
         "page="),
        (["query", out_dir, url, "--match-type", "domain",
          "--offset", "200001", "--limit", "5"], "resume_key"),
        (["query", out_dir, "https://example.com/*/img"], "match_type"),
        (["query", out_dir, url, "--match-type", "domain", "--limit", "5",
          "--resume-key", "k", "t", "x"], "tiebreak"),
    ]:
        assert main(argv) == 2, argv
        err = capsys.readouterr().err
        assert marker in err and "Traceback" not in err, (argv, err)

    # short ts14-prefix --as-of works (no strptime crash)
    emb = tmp_path / "config.yaml"
    emb.write_text("embargo:\n    newer:\n        days: 30\n")
    assert main(["query", out_dir, url, "--match-type", "domain",
                 "--embargo", str(emb), "--as-of", "2999"]) == 0
    assert capsys.readouterr().out.strip()  # far-future clock: all served

    # text output (the default) carries the annotation columns
    assert main(["query", out_dir, url, "--match-type", "domain",
                 "--collapse", "timestamp:4", "--show-group-count",
                 "--show-skip-count"]) == 0
    plain_fields = None
    for ln in capsys.readouterr().out.splitlines():
        if ln.strip():
            plain_fields = ln.split(" ")
    assert plain_fields is not None and len(plain_fields) == 14
    # groupcount is a positive int, skipcount non-negative
    assert int(plain_fields[11]) >= 1 and int(plain_fields[12]) >= 0


def test_cli_epoch_store_query_and_time_travel(spark, warc_manifest,
                                               tmp_path, capsys):
    """argv-level epoch-store serving: two update-index batches, then
    the query subcommand with --epochs (merged view), --as-of-epoch
    (snapshot sees only batch 1), and the single-cluster page refusal
    as a clean exit 2."""
    import json as _json

    from webarchive_indexing_spark.__main__ import main

    # the manifest's own listing, NOT a glob — other tests drop extra
    # WARCs into the module-scoped fixture dir (e.g. crawl-99)
    with open(warc_manifest) as fh:
        paths = [ln.strip() for ln in fh if ln.strip()]
    m1 = str(tmp_path / "m1.txt")
    m2 = str(tmp_path / "m2.txt")
    with open(m1, "w") as fh:
        fh.write("\n".join(paths[:2]) + "\n")
    with open(m2, "w") as fh:
        fh.write("\n".join(paths[2:]) + "\n")
    out = str(tmp_path / "store")
    assert main(["update-index", m1, out, "--shards", "2",
                 "--numlines", "3"]) == 0
    assert main(["update-index", m2, out, "--shards", "2",
                 "--numlines", "3"]) == 0
    capsys.readouterr()

    url = "https://example.com/"
    argv = ["query", out, url, "--match-type", "prefix",
            "--output", "json", "--epochs"]
    assert main(argv) == 0
    full = [_json.loads(ln)
            for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    assert main(argv + ["--as-of-epoch", "0"]) == 0
    snap0 = [_json.loads(ln)
             for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    # batch 1 = crawl-00/01 only; the merged view adds crawl-02/03
    assert {r["filename"] for r in snap0} == {"crawl-00.warc.gz",
                                              "crawl-01.warc.gz"}
    assert {r["filename"] for r in full} == {f"crawl-{i:02d}.warc.gz"
                                             for i in range(4)}
    assert len(full) > len(snap0)

    # block-run paging is a single-cluster contract
    assert main(argv + ["--page", "0"]) == 2
    assert "single-cluster" in capsys.readouterr().err
    # --as-of-epoch without --epochs is a user error
    assert main(["query", out, url, "--match-type", "prefix",
                 "--as-of-epoch", "0"]) == 2
    assert "--epochs" in capsys.readouterr().err


def test_cli_parquet_index_build_and_query(spark, warc_manifest,
                                           tmp_path, capsys):
    """argv-level columnar backend: build-parquet-index from a
    manifest, then the query subcommand with --parquet-index answers
    the same request shape the ZipNum path serves (and the block-run
    page flags are refused cleanly)."""
    import json as _json

    from webarchive_indexing_spark.__main__ import main

    out = str(tmp_path / "pqidx")
    assert main(["build-parquet-index", warc_manifest, out,
                 "--range-partitions", "2"]) == 0
    capsys.readouterr()
    assert main(["query", out, "https://example.com/", "--match-type",
                 "prefix", "--parquet-index", "--output", "json",
                 "--filter", "=status:200", "--from", "2015"]) == 0
    rows = [_json.loads(ln)
            for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    assert rows and all(r["status"] == 200 for r in rows)
    assert all(r["urlkey"].startswith("com,example)/") for r in rows)
    assert main(["query", out, "https://example.com/", "--match-type",
                 "prefix", "--parquet-index", "--page", "0"]) == 2
    assert "block-run" in capsys.readouterr().err
    assert main(["query", out, "https://example.com/", "--epochs",
                 "--parquet-index"]) == 2
    assert "pick one" in capsys.readouterr().err


def test_cli_parquet_epoch_store_lifecycle(spark, warc_manifest,
                                           tmp_path, capsys):
    """argv-level columnar epoch store: two update-parquet-index
    batches, query --parquet-index serves the merged view,
    --as-of-epoch time-travels to batch 1, and compact auto-detects
    the parquet payload (the merged store keeps answering)."""
    import json as _json

    from webarchive_indexing_spark.__main__ import main

    with open(warc_manifest) as fh:
        paths = [ln.strip() for ln in fh if ln.strip()]
    m1, m2 = str(tmp_path / "m1.txt"), str(tmp_path / "m2.txt")
    with open(m1, "w") as fh:
        fh.write("\n".join(paths[:2]) + "\n")
    with open(m2, "w") as fh:
        fh.write("\n".join(paths[2:]) + "\n")
    out = str(tmp_path / "store")
    assert main(["update-parquet-index", m1, out,
                 "--range-partitions", "2"]) == 0
    assert main(["update-parquet-index", m2, out,
                 "--range-partitions", "2"]) == 0
    capsys.readouterr()

    url = "https://example.com/"
    argv = ["query", out, url, "--match-type", "prefix",
            "--output", "json", "--parquet-index"]
    assert main(argv) == 0
    full = [_json.loads(ln)
            for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    assert main(argv + ["--as-of-epoch", "0"]) == 0
    snap0 = [_json.loads(ln)
             for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    assert {r["filename"] for r in snap0} == {"crawl-00.warc.gz",
                                              "crawl-01.warc.gz"}
    assert {r["filename"] for r in full} == {f"crawl-{i:02d}.warc.gz"
                                             for i in range(4)}
    assert len(full) > len(snap0)

    # replay of an ingested batch rewrites ITS OWN epoch (same slot,
    # same rows — never a fresh one), so nothing double-counts
    assert main(["update-parquet-index", m2, out,
                 "--range-partitions", "2"]) == 0
    assert "epoch: 1" in capsys.readouterr().out
    assert main(argv) == 0
    assert len([ln for ln in capsys.readouterr().out.splitlines()
                if ln.strip()]) == len(full)

    # compact auto-detects the parquet payload; the merged single
    # epoch serves the identical view
    assert main(["compact", out, "--range-partitions", "2"]) == 0
    capsys.readouterr()
    assert main(argv) == 0
    merged = [_json.loads(ln)
              for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    assert sorted(map(str, merged)) == sorted(map(str, full))

    # --as-of-epoch on a plain static index still refuses cleanly
    static = str(tmp_path / "static")
    assert main(["build-parquet-index", warc_manifest, static,
                 "--range-partitions", "2"]) == 0
    capsys.readouterr()
    assert main(["query", static, url, "--match-type", "prefix",
                 "--parquet-index", "--as-of-epoch", "0"]) == 2
    assert "epoch store" in capsys.readouterr().err


def test_cli_fast_latest(spark, warc_manifest, tmp_path, capsys):
    """argv-level fastLatest: the last-2 rows of a prefix range, and
    the positive-limit / backend-mismatch refusals exit 2 cleanly."""
    from webarchive_indexing_spark.__main__ import main

    out = str(tmp_path / "cl")
    assert main(["build-index", warc_manifest, out, "--shards", "2",
                 "--numlines", "3"]) == 0
    capsys.readouterr()
    base = ["query", out, "https://example.com/", "--match-type", "prefix"]
    assert main(base + ["--limit", "-2"]) == 0
    want = capsys.readouterr().out
    assert main(base + ["--fast-latest", "--limit", "-2"]) == 0
    assert capsys.readouterr().out == want  # filter-free: exact
    assert main(base + ["--fast-latest", "--limit", "2"]) == 2
    assert "negative limit" in capsys.readouterr().err
    assert main(base + ["--fast-latest", "--limit", "-2", "--epochs"]) == 2
    assert "tail-probe" in capsys.readouterr().err


def test_cli_cdxj_output_and_store_lifecycle(spark, warc_manifest,
                                             tmp_path, capsys):
    """argv-level: --output cdxj emits the shared CDXJ grammar, and
    the compact / expire-snapshots subcommands drive the store's
    retention lifecycle end-to-end."""
    import json as _json

    from webarchive_indexing_spark.__main__ import main

    out = str(tmp_path / "store")
    assert main(["update-index", warc_manifest, out, "--shards", "2",
                 "--numlines", "3"]) == 0
    capsys.readouterr()

    assert main(["query", out, "https://example.com/", "--match-type",
                 "prefix", "--epochs", "--output", "cdxj",
                 "--limit", "3"]) == 0
    lines = [ln for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    assert len(lines) == 3
    for ln in lines:
        key, ts, blob = ln.split(" ", 2)
        assert key.startswith("com,example)/") and ts.isdigit()
        assert _json.loads(blob)["status"] == "200" or "status" in _json.loads(blob)

    assert main(["compact", out, "--shards", "2", "--numlines", "3",
                 "--retain-inputs"]) == 0
    capsys.readouterr()
    # pre-merge snapshot still readable (inputs retained)
    assert main(["query", out, "https://example.com/", "--match-type",
                 "prefix", "--epochs", "--as-of-epoch", "0",
                 "--limit", "1"]) == 0
    assert capsys.readouterr().out.strip()
    assert main(["expire-snapshots", out]) == 0
    gone = capsys.readouterr().out.split()
    assert "epoch-000000" in gone
    # current view survives expiration
    assert main(["query", out, "https://example.com/", "--match-type",
                 "prefix", "--epochs", "--limit", "1"]) == 0
    assert capsys.readouterr().out.strip()


def test_cli_build_index_post_append(spark, tmp_path, capsys):
    """argv-level pywb cdx-indexer -p parity: build-index with
    --record-types request --post-append gives the POST request
    record a urlkey carrying __wb_method + its sorted body params, so
    the POSTed resource is queryable; without the flags the key is
    the bare URL."""
    import os

    from webarchive_indexing_spark.__main__ import main
    from webarchive_indexing_spark.sources.warc import write_mini_warc

    d = tmp_path / "warcs"
    d.mkdir()
    post_http = (
        b"POST /api HTTP/1.1\r\nHost: post.example\r\n"
        b"Content-Type: application/x-www-form-urlencoded\r\n\r\nb=2&a=1"
    )
    write_mini_warc(
        str(d / "crawl-90.warc.gz"),
        [
            dict(
                url="http://post.example/api",
                date_iso="2020-01-02T03:04:05Z",
                payload=b"<html>ok</html>",
                status=200,
            ),
            dict(
                url="http://post.example/api",
                date_iso="2020-01-02T03:04:05Z",
                payload=post_http,
                rec_type="request",
            ),
        ],
    )
    m = str(tmp_path / "m.txt")
    with open(m, "w") as fh:
        fh.write(str(d / "crawl-90.warc.gz") + "\n")

    out = str(tmp_path / "cl")
    assert main(["build-index", m, out, "--shards", "1", "--numlines", "3",
                 "--record-types", "response,revisit,request",
                 "--post-append"]) == 0
    capsys.readouterr()
    assert main(["query", out, "http://post.example/api",
                 "--match-type", "prefix"]) == 0
    keys = [ln.split(" ")[0]
            for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    assert "example,post)/api?__wb_method=post&a=1&b=2" in keys
    assert "example,post)/api" in keys  # the response row keeps its key


def test_cli_maintain_stats_both_backends(spark, warc_manifest, tmp_path,
                                          capsys):
    """--maintain-stats updates the host-stats IVM partials on both
    store payloads through argv; the merged report answers without
    re-reading captures."""
    from webarchive_indexing_spark.__main__ import main
    from webarchive_indexing_spark.sinks.stats import merged_host_stats

    z = str(tmp_path / "zstore")
    p = str(tmp_path / "pstore")
    assert main(["update-index", warc_manifest, z, "--shards", "2",
                 "--numlines", "5", "--maintain-stats"]) == 0
    assert main(["update-parquet-index", warc_manifest, p,
                 "--range-partitions", "2", "--maintain-stats"]) == 0
    capsys.readouterr()
    zs = {r["host"]: r["n_captures"]
          for r in merged_host_stats(spark, z).collect()}
    ps = {r["host"]: r["n_captures"]
          for r in merged_host_stats(spark, p).collect()}
    assert zs and zs == ps  # same captures, same report, either payload


def test_parquet_epoch_store_composed_query(spark, warc_manifest, tmp_path,
                                            capsys):
    """The full residual grammar composes on the columnar epoch store:
    ACL verdicts, resume-key paging, and from/to bounds all run
    through cdx_query_parquet with tombstones applied."""
    from pyspark.sql import functions as F

    from webarchive_indexing_spark.__main__ import main
    from webarchive_indexing_spark.operators.cdx_query import (
        cdx_query_parquet,
    )
    from webarchive_indexing_spark.plans.pipeline import takedown

    store = str(tmp_path / "store")
    assert main(["update-parquet-index", warc_manifest, store,
                 "--range-partitions", "2"]) == 0
    capsys.readouterr()
    url = "https://example.com/"
    full = cdx_query_parquet(
        spark, store, url, match_type="domain"
    ).collect()
    assert full
    victim = full[0]["urlkey"]
    takedown(spark, [(victim, None)], store)
    after = cdx_query_parquet(spark, store, url, match_type="domain")
    assert after.filter(F.col("urlkey") == victim).count() == 0

    # resume-key paging walks the tombstone-clean view without gaps
    seen, rk = [], None
    for _ in range(100):
        kw = dict(match_type="domain", limit=4)
        if rk:
            kw["resume_key"] = rk
        page = cdx_query_parquet(spark, store, url, **kw).collect()
        seen.extend((r["urlkey"], r["timestamp"]) for r in page)
        if len(page) < 4:
            break
        rk = (page[-1]["urlkey"], page[-1]["timestamp"])
    want = sorted(
        (r["urlkey"], r["timestamp"]) for r in full if r["urlkey"] != victim
    )
    assert seen == want

    # ACL verdict column rides the parquet path too
    judged = cdx_query_parquet(
        spark, store, url, match_type="domain",
        acl_rules=[("com,example)/page/1", "block")],
    ).collect()
    verdicts = {r["urlkey"]: r["access"] for r in judged}
    assert any(v == "block" for v in verdicts.values())
    assert any(v == "allow" for v in verdicts.values())


def test_cli_zorder_subcommand(spark, sf_dir, tmp_path):
    """`zorder` is argv-reachable: rewrites a parquet table clustered
    on the given columns (quantile mode flagged through), preserves
    every row, writes the recipe sidecar, and refuses an empty
    --cols."""
    import json

    from webarchive_indexing_spark.__main__ import main
    from webarchive_indexing_spark.tables import load_table

    src = str(tmp_path / "ev_src")
    out = str(tmp_path / "ev_z")
    ev = load_table(spark, sf_dir, "events")
    ev.write.parquet(src)
    rc = main([
        "zorder", src, out, "--cols", "user_id,value",
        "--bucketing", "quantile", "--n-files", "8",
    ])
    assert rc in (0, None)
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    with open(out + "/_zorder.json") as fh:
        side = json.load(fh)
    assert side["cols"] == ["user_id", "value"]
    assert side["bucketing"] == "quantile" and side["n_files"] == 8
    assert main(["zorder", src, out, "--cols", " "]) == 2


def test_cli_wet_extract(spark, tmp_path, capsys):
    """Round 13: the wet-extract CLI runs the full response-WARC →
    boilerplate-removal → WET-file chain; the emitted shards re-ingest
    through the engine's own WET reader with the extracted text."""
    import os

    from webarchive_indexing_spark.__main__ import main
    from webarchive_indexing_spark.sources.warc import index_warcs

    d = tmp_path / "warcs"
    d.mkdir()
    page = (
        "<html><head><title>T</title><script>var x=1;</script></head>"
        "<body><nav><a href='/'>Home</a></nav>"
        "<p>{body}</p>"
        "<footer><a href='/p'>Privacy</a></footer></body></html>"
    )
    write_mini_warc(
        str(d / "c.warc.gz"),
        [
            dict(
                url=f"https://wet.example/p/{j}",
                date_iso="2020-02-02T00:00:00Z",
                mime="text/html",
                payload=page.format(
                    body=f"page {j} main content with enough words to "
                         f"clear the default minimum easily"
                ).encode(),
            )
            for j in range(6)
        ],
    )
    manifest = str(d / "manifest.txt")
    with open(manifest, "w") as fh:
        fh.write(str(d / "c.warc.gz") + "\n")
    out = str(tmp_path / "wet")
    assert main(["wet-extract", manifest, out, "--n-files", "2"]) == 0
    printed = [
        ln.split("\t") for ln in capsys.readouterr().out.splitlines()
        if ln.strip()
    ]
    assert sum(int(n) for _, n in printed) == 6
    assert all(os.path.exists(p) for p, _ in printed)

    wet_manifest = spark.createDataFrame(
        [(p,) for p, _ in printed], ["path"]
    )
    from pyspark.sql import functions as F

    back = index_warcs(
        spark, wet_manifest,
        record_types=("conversion",), keep_payload=("text/",),
    ).select(
        "urlkey", "mime",
        F.decode(F.col("payload"), "UTF-8").alias("text"),
    ).collect()
    assert len(back) == 6
    assert all(r.mime == "text/plain" for r in back)
    texts = {r.urlkey: r.text for r in back}
    assert texts["example,wet)/p/3"].startswith("page 3 main content")
    assert all("Privacy" not in t and "Home" not in t for t in texts.values())
