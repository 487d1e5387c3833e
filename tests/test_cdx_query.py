"""cdx-server API composition (operators/cdx_query): parameter
semantics over a DataFrame, and DataFrame-path ≡ ZipNum-path."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from webarchive_indexing_spark.operators.cdx_query import cdx_query, cdx_query_zipnum
from webarchive_indexing_spark.queries.cdx_surface import derived_cdx
from webarchive_indexing_spark.sinks.zipnum import write_zipnum


@pytest.fixture(scope="module")
def cdx(spark, sf_dir):
    c = derived_cdx(spark, sf_dir)
    return c.select(
        "urlkey",
        F.col("ts14").alias("timestamp"),
        F.concat(F.lit("https://e/"), F.col("urlkey")).alias("url"),
        "mime",
        "status",
        "digest",
        F.lit(None).cast("string").alias("redirect"),
        F.lit(None).cast("string").alias("robotflags"),
        "length",
        "offset",
        "filename",
    ).cache()


@pytest.fixture(scope="module")
def cluster(cdx):
    d = tempfile.mkdtemp(prefix="zipnum_api_")
    write_zipnum(cdx, d, shards=4, numlines=25)
    return d


def test_exact_match(spark, cdx):
    out = cdx_query(cdx, "https://src1.example.org/doc/101", match_type="exact")
    rows = out.collect()
    assert rows, "expected captures for doc 101"
    assert all(r.urlkey == "org,example,src1)/doc/101" for r in rows)
    # ascending timestamp order by default
    ts = [r.timestamp for r in rows]
    assert ts == sorted(ts)


def test_prefix_and_fields_and_limit(spark, cdx):
    out = cdx_query(
        cdx,
        "https://src1.example.org/doc/1",
        match_type="prefix",
        fields=["urlkey", "timestamp", "status"],
        limit=10,
    )
    rows = out.collect()
    assert 0 < len(rows) <= 10
    assert rows[0].__fields__ == ["urlkey", "timestamp", "status"]
    assert all(r.urlkey.startswith("org,example,src1)/doc/1") for r in rows)


def test_domain_match_covers_all_paths(spark, cdx):
    out = cdx_query(cdx, "https://src3.example.org/whatever", match_type="domain")
    keys = {r.urlkey for r in out.collect()}
    expected = {
        r.urlkey for r in cdx.filter(F.col("urlkey").startswith("org,example,src3")).collect()
    }
    assert keys == expected


def test_from_to_and_filters(spark, cdx):
    out = cdx_query(
        cdx,
        "https://src2.example.org/x",
        match_type="domain",
        from_="2016",
        to="2016",
        filters=["status:200", "!mime:image.*"],
    )
    rows = out.collect()
    assert rows
    for r in rows:
        assert r.timestamp.startswith("2016")
        assert r.status == 200
        assert not r.mime.startswith("image")


def test_contains_filter(spark, cdx):
    # src3 docs (doc_id ≡ 3 mod 4) reach k=4 → application/json exists
    out = cdx_query(
        cdx, "https://src3.example.org/x", match_type="domain", filters=["mime~json"]
    )
    rows = out.collect()
    assert rows and all("json" in r.mime for r in rows)


def test_collapse_digest_runs(spark, cdx):
    url = "https://src5.example.org/x"
    full = cdx_query(cdx, url, match_type="domain").collect()
    collapsed = cdx_query(cdx, url, match_type="domain", collapse="digest").collect()
    # captures k<=3 of a doc share a digest → runs shrink
    assert 0 < len(collapsed) < len(full)
    from itertools import groupby

    for key, grp in groupby(full, key=lambda r: r.urlkey):
        runs = [d for d, _ in groupby(r.digest for r in grp)]
        kept = [r for r in collapsed if r.urlkey == key]
        assert len(kept) == len(runs)


def test_collapse_to_last_keeps_run_tails(spark, cdx):
    """collapseToLast ≡ keep-first's mirror: per urlkey, the kept rows
    are the LAST element of each digest run (python groupby ref)."""
    from itertools import groupby

    url = "https://src5.example.org/x"
    full = cdx_query(cdx, url, match_type="domain").collect()
    last = cdx_query(
        cdx, url, match_type="domain", collapse="digest", collapse_to_last=True
    ).collect()
    first = cdx_query(cdx, url, match_type="domain", collapse="digest").collect()
    assert len(last) == len(first)  # same runs, other representative
    assert {(r.urlkey, r.timestamp) for r in last} != {
        (r.urlkey, r.timestamp) for r in first
    }
    expect = set()
    for key, grp in groupby(full, key=lambda r: r.urlkey):
        for _, run in groupby(grp, key=lambda r: r.digest):
            expect.add((key, list(run)[-1].timestamp))
    assert {(r.urlkey, r.timestamp) for r in last} == expect


def test_collapse_keep_validation(spark, cdx):
    from webarchive_indexing_spark.operators.collapse import collapse

    with pytest.raises(ValueError, match="keep"):
        collapse(cdx, ["urlkey"], ["timestamp"], F.col("digest"), keep="middle")


def test_closest_ordering(spark, cdx):
    out = cdx_query(
        cdx, "https://src1.example.org/doc/101", match_type="exact", closest="20160601"
    )
    rows = out.collect()
    dists = [abs(int(r.timestamp) - 20160601000000) for r in rows]
    assert dists == sorted(dists)


def test_closest_tie_determinism_single_equals_batch(spark):
    """Round-12 ADVICE: at equal |delta-ts| AND equal timestamp
    (same-second recrawls) under a limit, the single-request closest
    path and the batch path must pick the SAME deterministic winner —
    both order by (dist, timestamp, digest, offset)."""
    from webarchive_indexing_spark.operators.cdx_query import cdx_query_batch

    url = "https://tie.example.org/x"
    key = "org,example,tie)/x"
    rows = [
        # two captures in the same second, digests force the order
        (key, "20200101000001", url, "text/html", 200, "bbb", None, None,
         10, 0, "f.warc.gz"),
        (key, "20200101000001", url, "text/html", 200, "aaa", None, None,
         10, 5, "f.warc.gz"),
        # equidistant on the OTHER side of the target too
        (key, "20200101000003", url, "text/html", 200, "ccc", None, None,
         10, 9, "f.warc.gz"),
    ]
    schema = (
        "urlkey string, timestamp string, url string, mime string, "
        "status int, digest string, redirect string, robotflags string, "
        "length long, offset long, filename string"
    )
    frame = spark.createDataFrame(rows, schema)

    single = cdx_query(
        frame, url, match_type="exact", closest="20200101000002", limit=1
    ).collect()
    assert [r.digest for r in single] == ["aaa"]  # deterministic winner

    batch = cdx_query_batch(
        frame,
        [{"url": url, "closest": "20200101000002", "limit": 1}],
    ).collect()
    assert [(r.digest,) for r in batch] == [(r.digest,) for r in single]

    # limit=-N reverses the SAME deterministic order
    neg = cdx_query(
        frame, url, match_type="exact", closest="20200101000002", limit=-1
    ).collect()
    assert [r.digest for r in neg] == ["ccc"]


def test_zipnum_path_equals_dataframe_path(spark, cdx, cluster):
    for kwargs in (
        dict(match_type="exact"),
        dict(match_type="prefix", filters=["status:200"]),
        dict(match_type="domain", from_="2016", collapse="digest"),
    ):
        a = cdx_query(cdx, "https://src1.example.org/doc/101", **kwargs)
        b = cdx_query_zipnum(spark, cluster, "https://src1.example.org/doc/101", **kwargs)
        ra = sorted(map(tuple, a.collect()))
        rb = sorted(map(tuple, b.collect()))
        assert ra == rb, f"zipnum path diverged for {kwargs}"


def test_spark_hashes(spark):
    """F4 leftovers: sha1 + xxhash64 exist and are stable (DuckDB has
    no sha1 — covered here instead of the oracle gate)."""
    import hashlib

    df = spark.createDataFrame([("hello",)], ["s"])
    r = df.select(
        F.sha1("s").alias("h1"), F.xxhash64("s").alias("h2"), F.crc32("s").alias("h3")
    ).collect()[0]
    assert r.h1 == hashlib.sha1(b"hello").hexdigest()
    assert isinstance(r.h2, int) and isinstance(r.h3, int)


def test_match_glob(spark):
    from webarchive_indexing_spark.operators.cdx_query import (
        cdx_query,
        glob_to_like,
        match_glob,
    )

    rows = [
        ("com,example)/doc/17", "20200101000000"),
        ("com,example)/doc/107", "20200101000000"),
        ("com,example)/doc/1x7", "20200101000000"),
        ("com,example)/doc/127?a=1", "20200101000000"),
        ("com,example)/doc/27", "20200101000000"),
        ("com,other)/doc/17", "20200101000000"),
        ("com,example)/d_c/17", "20200101000000"),  # '_' must be literal
    ]
    cdx = spark.createDataFrame(rows, ["urlkey", "timestamp"])
    got = {
        r.urlkey
        for r in match_glob(cdx, "http://example.com/doc/1*7").collect()
    }
    assert got == {
        "com,example)/doc/17",
        "com,example)/doc/107",
        "com,example)/doc/1x7",
    }
    # LIKE metacharacters in the key stay literal
    assert glob_to_like("a)/d_c/1*7") == "a)/d\\_c/1%7"
    # the same semantics through the full cdx_query surface
    got2 = {
        r.urlkey
        for r in cdx_query(
            cdx, "http://example.com/doc/1*7", match_type="glob"
        ).collect()
    }
    assert got2 == got


def test_fuzzy_rule_table_first_match_wins(spark):
    """The data-driven fuzzy-rule engine: first applicable rule wins
    (pywb ordered-rules semantics), strips re-join cleanly at any
    param position, and clean keys pass through rule-less."""
    from webarchive_indexing_spark.operators.cdx_query import (
        DEFAULT_FUZZY_RULES,
        apply_fuzzy_rules,
    )

    cases = [
        # (key, expected_fuzzy, expected_rule)
        ("com,ex)/p?_cb=123&a=1", "com,ex)/p?a=1", "cachebust"),
        ("com,ex)/p?a=1&cb=9", "com,ex)/p?a=1", "cachebust"),
        ("com,ex)/p?rand=4", "com,ex)/p", "cachebust"),
        ("com,ex)/p?a=1&b=2&callback=jsonp77", "com,ex)/p?a=1&b=2", "jsonp"),
        ("com,ex)/p?callback=jsonp1&z=9", "com,ex)/p?z=9", "jsonp"),
        ("com,ex)/p?a=1&sid=42", "com,ex)/p?a=1", "session"),
        ("com,ex)/p?phpsessid=ab12", "com,ex)/p", "session"),
        # jsonp outranks cachebust when both match (ordered table)
        ("com,ex)/p?_cb=1&callback=jsonp2", "com,ex)/p?_cb=1", "jsonp"),
        # no family rule → the LAST-RESORT removeall strips the whole
        # query (pywb's terminal fuzzy_lookup rule)
        ("com,ex)/p?a=1&b=2", "com,ex)/p", "removeall"),
        ("com,ex)/p?callback=home", "com,ex)/p", "removeall"),
        # no query at all: no rule, fuzzy == exact
        ("com,ex)/p", "com,ex)/p", None),
        # SURT-prefix-scoped rule (pywb per-domain blocks): volatile
        # CDN params strip under com,googlevideo only; elsewhere the
        # same params fall through to removeall
        (
            "com,googlevideo,r4)/videoplayback?id=9&itag=5&sig=x",
            "com,googlevideo,r4)/videoplayback?id=9",
            "googlevideo",
        ),
        ("com,ex)/videoplayback?id=9&itag=5&sig=x", "com,ex)/videoplayback", "removeall"),
    ]
    df = spark.createDataFrame([(k,) for k, _, _ in cases], "key string")
    out = {
        r.key: (r.key_fuzzy, r.fuzzy_rule)
        for r in apply_fuzzy_rules(df, "key").collect()
    }
    for key, want_fuzzy, want_rule in cases:
        assert out[key] == (want_fuzzy, want_rule), (key, out[key])
    assert len(DEFAULT_FUZZY_RULES) >= 3


def test_cdx_query_fuzzy_fallback_param(spark):
    """pywb per-request fuzzy semantics through the composed API:
    exact hits win outright; when the exact key has no captures the
    rule-stripped key answers; both in ONE plan (no second query)."""
    from webarchive_indexing_spark.operators.cdx_query import (
        cdx_query,
        fuzzy_key_py,
    )

    rows = [
        ("com,example)/page?a=1", "20200101000000"),
        ("com,example)/page?a=1", "20200102000000"),
        ("com,example)/other?a=1&sid=9", "20200103000000"),
    ]
    cdx = spark.createDataFrame(rows, ["urlkey", "timestamp"])

    # exact key missing (cache buster) -> fuzzy key answers
    got = cdx_query(
        cdx, "http://example.com/page?a=1&_cb=123", fuzzy=True
    ).collect()
    assert {r.urlkey for r in got} == {"com,example)/page?a=1"}
    assert len(got) == 2

    # exact key present -> fuzzy candidates suppressed
    got2 = cdx_query(
        cdx, "http://example.com/other?a=1&sid=9", fuzzy=True
    ).collect()
    assert {r.urlkey for r in got2} == {"com,example)/other?a=1&sid=9"}

    # fuzzy=False keeps strict-exact behavior
    assert not cdx_query(cdx, "http://example.com/page?a=1&_cb=123").collect()

    # the python twin mirrors the column rules
    assert fuzzy_key_py("com,ex)/p?_cb=1&a=1") == ("com,ex)/p?a=1", "cachebust")
    # removeall terminal: any no-family query key gets the bare-path fallback
    assert fuzzy_key_py("com,ex)/p?a=1") == ("com,ex)/p", "removeall")
    assert fuzzy_key_py("com,ex)/p") == ("com,ex)/p", None)


def test_fuzzy_rules_python_column_parity(spark):
    """Property: fuzzy_key_py and the compiled column CASE chain are
    the same function — generated keys with random junk params agree
    on both the stripped key and the rule name."""
    import random

    from webarchive_indexing_spark.operators.cdx_query import (
        apply_fuzzy_rules,
        fuzzy_key_py,
    )

    rng = random.Random(42)
    parts = ["a=1", "b=2", "x=yz", "_cb=123", "cb=9", "rand=77",
             "callback=jsonp5", "callback=real", "sid=4f2", "phpsessid=aa11",
             "jsessionid=deadbeef", "bust=0"]
    keys = []
    for _ in range(120):
        n = rng.randint(0, 4)
        q = "&".join(rng.sample(parts, n)) if n else ""
        keys.append("com,ex)/p" + ("?" + q if q else ""))
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    got = {
        r.key: (r.key_fuzzy, r.fuzzy_rule)
        for r in apply_fuzzy_rules(df, "key").collect()
    }
    for k in keys:
        assert got[k] == fuzzy_key_py(k), k


def test_fuzzy_retry_after_filtered_empty(spark):
    """pywb retries the fuzzy key when the FILTERED query is empty —
    an exact key whose rows all fail the residual filters must not
    suppress the fuzzy captures (round-6 ADVICE fix)."""
    from webarchive_indexing_spark.operators.cdx_query import cdx_query

    rows = [
        ("com,example)/page?_cb=5&a=1", "20200101000000", 404),
        ("com,example)/page?a=1", "20200102000000", 200),
    ]
    cdx = spark.createDataFrame(rows, ["urlkey", "timestamp", "status"])
    url = "http://example.com/page?a=1&_cb=5"

    # exact key EXISTS but every exact row fails status:200 → fuzzy answers
    got = cdx_query(cdx, url, fuzzy=True, filters=["status:200"]).collect()
    assert [r.urlkey for r in got] == ["com,example)/page?a=1"]

    # without filters the surviving exact rows still win outright
    got2 = cdx_query(cdx, url, fuzzy=True).collect()
    assert {r.urlkey for r in got2} == {"com,example)/page?_cb=5&a=1"}


def test_negative_limit_with_closest(spark):
    """limit=-N under an active closest= ordering reverses the CLOSEST
    order (farthest N, returned closest-first), not a hardcoded
    (urlkey, timestamp) — round-6 ADVICE fix."""
    from webarchive_indexing_spark.operators.cdx_query import cdx_query

    rows = [("com,example)/p", f"202001010000{i:02d}") for i in range(6)]
    cdx = spark.createDataFrame(rows, ["urlkey", "timestamp"])
    url = "http://example.com/p"
    full = [r.timestamp for r in cdx_query(cdx, url, closest="20200101000002").collect()]
    assert full == [f"202001010000{i:02d}" for i in (2, 1, 3, 0, 4, 5)]
    tail = [
        r.timestamp
        for r in cdx_query(cdx, url, closest="20200101000002", limit=-2).collect()
    ]
    assert tail == full[-2:]


def test_resume_key_tiebreak_and_guards(spark):
    """Same-second recrawls at a page boundary: the 2-tuple resume key
    (pywb-compatible) skips boundary duplicates; the 3-tuple form with
    tiebreak= pages gap-free; unsupported combinations raise."""
    import pytest as _pytest

    from webarchive_indexing_spark.operators.cdx_query import cdx_query

    rows = [("com,example)/p", "20200101000000", d) for d in "abcdef"]
    cdx = spark.createDataFrame(rows, ["urlkey", "timestamp", "digest"])
    url = "http://example.com/p"

    p1 = cdx_query(cdx, url, limit=3, tiebreak="digest").collect()
    assert [r.digest for r in p1] == ["a", "b", "c"]
    last = p1[-1]
    p2 = cdx_query(
        cdx,
        url,
        limit=3,
        tiebreak="digest",
        resume_key=(last.urlkey, last.timestamp, last.digest),
    ).collect()
    assert [r.digest for r in p2] == ["d", "e", "f"]  # gap-free tiling

    # 2-tuple form drops the boundary's same-(urlkey, timestamp) run —
    # documented pywb-compatible lossy behavior
    p2_lossy = cdx_query(
        cdx, url, limit=3, resume_key=(last.urlkey, last.timestamp)
    ).collect()
    assert p2_lossy == []

    with _pytest.raises(ValueError, match="sort_reverse or closest"):
        cdx_query(cdx, url, resume_key=("k", "t"), sort_reverse=True)
    with _pytest.raises(ValueError, match="tiebreak"):
        cdx_query(cdx, url, resume_key=("k", "t", "d"))

    # NULL tiebreaks: the CLI prints '-' (the CDX null placeholder);
    # the continuation coalesces the COLUMN to '-' too, so the compare
    # is total — a page ending on the NULL-digest row resumes with
    # ('k', ts, '-') and the remaining same-second real rows tile
    # gap-free instead of evaluating NULL > '-' to SQL-NULL
    nrows = [
        ("com,example)/p", "20200101000000", None),
        ("com,example)/p", "20200101000000", "a"),
        ("com,example)/p", "20200101000000", "b"),
    ]
    ncdx = spark.createDataFrame(nrows, "urlkey string, timestamp string, digest string")
    np1 = cdx_query(ncdx, url, limit=1, tiebreak="digest").collect()
    assert [r.digest for r in np1] == [None]  # NULL sorts first, as '-' would
    np2 = cdx_query(
        ncdx, url, limit=3, tiebreak="digest",
        resume_key=("com,example)/p", "20200101000000", "-"),
    ).collect()
    assert [r.digest for r in np2] == ["a", "b"]


def test_negative_limit_returns_tail(spark):
    """pywb limit=-N: the LAST N rows of the sort order, still in
    forward order — via a reversed TakeOrdered, never a full sort."""
    from webarchive_indexing_spark.operators.cdx_query import cdx_query

    rows = [
        ("com,example)/p", f"2020010100{i:04d}"[:14].ljust(14, "0"))
        for i in range(9)
    ]
    cdx = spark.createDataFrame(
        [(k, t.replace(" ", "0")) for k, t in rows], ["urlkey", "timestamp"]
    )
    url = "http://example.com/p"
    all_ts = [r.timestamp for r in cdx_query(cdx, url).collect()]
    tail = [r.timestamp for r in cdx_query(cdx, url, limit=-3).collect()]
    assert tail == all_ts[-3:]
    # fl= projection that drops the sort keys still works
    only = cdx_query(cdx, url, limit=-2, fields=["timestamp"]).collect()
    assert [r.timestamp for r in only] == all_ts[-2:]
    # positive limit unchanged
    head = [r.timestamp for r in cdx_query(cdx, url, limit=3).collect()]
    assert head == all_ts[:3]


def test_zipnum_fuzzy_fallback_prunes_both_keys(spark, cdx, cluster):
    """Review fix (round 6): cdx_query_zipnum(fuzzy=True) must widen
    the block-prune range to the rule-stripped key — the fuzzy
    fallback's captures live in blocks BEFORE the exact key's range
    and were silently dropped."""
    # doc 101's bare key exists; the cache-busted key does not
    url = "https://src1.example.org/doc/101?_cb=9"
    a = cdx_query(cdx, url, fuzzy=True).collect()
    assert a and all(r.urlkey == "org,example,src1)/doc/101" for r in a)
    b = cdx_query_zipnum(spark, cluster, url, fuzzy=True).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_multi_collapse_matches_python_reference(spark):
    """Property: list-collapse (all-fields-match run skip) equals a
    row-by-row python reference over randomized runs — pins the
    struct-key formulation against the written pywb/IA semantics."""
    import random

    rng = random.Random(7)
    rows = []
    for _ in range(300):
        rows.append(
            (
                f"com,ex)/p{rng.randint(0, 2)}",
                f"20{rng.randint(10, 12)}0{rng.randint(1, 9)}01{rng.randint(0, 9)}00000"[:14],
                rng.choice([200, 301]),
            )
        )
    # unique (urlkey, timestamp): equal sort keys would make the
    # engine's within-tie order (and thus run membership) unspecified
    rows = sorted((u, t, s) for (u, t), s in {(u, t): s for u, t, s in rows}.items())
    df = spark.createDataFrame(rows, ["urlkey", "timestamp", "status"])

    got = [
        (r.urlkey, r.timestamp, r.status)
        for r in cdx_query(
            df, "http://ex.com/", match_type="domain",
            collapse=["timestamp:6", "status"],
        ).collect()
    ]

    expect, prev = [], None
    for r in rows:
        if (
            prev is None
            or r[0] != prev[0]
            or (r[1][:6], r[2]) != (prev[1][:6], prev[2])
        ):
            expect.append(r)
        prev = r
    assert got == expect


def test_filter_modifiers_exact_contains_regex(spark):
    """pywb filter= modifier set: '=field:value' exact,
    '~field:substr' contains, bare 'field:regex' regex search, all
    invertible with '!'."""
    rows = [
        ("com,ex)/a", "20200101000000", "text/html"),
        ("com,ex)/a", "20200102000000", "text/html; charset=utf-8"),
        ("com,ex)/a", "20200103000000", "application/json"),
    ]
    cdx = spark.createDataFrame(rows, ["urlkey", "timestamp", "mime"])
    url = "http://ex.com/a"

    exact = cdx_query(cdx, url, filters=["=mime:text/html"]).collect()
    assert [r.timestamp for r in exact] == ["20200101000000"]

    contains = cdx_query(cdx, url, filters=["~mime:html"]).collect()
    assert len(contains) == 2

    regex = cdx_query(cdx, url, filters=["mime:^text/.*utf-8$"]).collect()
    assert [r.timestamp for r in regex] == ["20200102000000"]

    inv = cdx_query(cdx, url, filters=["!=mime:text/html"]).collect()
    assert len(inv) == 2


def test_collapse_group_count_matches_run_sizes(spark, cdx):
    """showGroupCount [U IA cdx-server API]: each kept row carries the
    size of the run it represents, for keep-first AND keep-last, and
    the counts sum back to the uncollapsed total (python groupby ref)."""
    from itertools import groupby

    url = "https://src5.example.org/x"
    full = cdx_query(cdx, url, match_type="domain").collect()
    expect = {}  # (urlkey, first_ts, last_ts) -> run size
    for key, grp in groupby(full, key=lambda r: r.urlkey):
        for _, run in groupby(grp, key=lambda r: r.digest):
            rows = list(run)
            expect[(key, rows[0].timestamp, rows[-1].timestamp)] = len(rows)

    for to_last in (False, True):
        got = cdx_query(
            cdx,
            url,
            match_type="domain",
            collapse="digest",
            collapse_to_last=to_last,
            show_group_count=True,
        ).collect()
        assert sum(r.groupcount for r in got) == len(full)
        for r in got:
            match = [
                n
                for (k, f, l), n in expect.items()
                if k == r.urlkey and (l if to_last else f) == r.timestamp
            ]
            assert match == [r.groupcount], (r, match)


def test_show_skip_count_matches_python_reference(spark, cdx):
    """showSkipCount + lastskiptimestamp [U IA cdx-server API]: each
    kept row reports the captures dropped since the previous kept row
    and the timestamp of the most recently dropped one; verified
    against a per-urlkey python walk of the uncollapsed stream."""
    from itertools import groupby

    url = "https://src5.example.org/x"
    full = cdx_query(cdx, url, match_type="domain").collect()
    expect = {}  # (urlkey, kept_ts) -> (skipcount, lastskipts)
    for key, grp in groupby(full, key=lambda r: r.urlkey):
        skipped, last_ts = 0, None
        for r in grp:
            prev = expect.get((key, "__prev"))
            if prev is None or r.digest != prev:
                expect[(key, r.timestamp)] = (
                    skipped,
                    last_ts if skipped else None,
                )
                skipped = 0
            else:
                skipped += 1
                last_ts = r.timestamp
            expect[(key, "__prev")] = r.digest
    expect = {k: v for k, v in expect.items() if k[1] != "__prev"}

    got = cdx_query(
        cdx,
        url,
        match_type="domain",
        collapse="digest",
        show_skip_count=True,
    ).collect()
    assert len(got) == len(expect)
    # NB: skips trailing the LAST kept row of a urlkey are reported by
    # no survivor (IA semantics: "skipped since the previous returned
    # row"), so the sums match the reference walk, not total - kept.
    assert sum(r.skipcount for r in got) == sum(n for n, _ in expect.values())
    for r in got:
        assert expect[(r.urlkey, r.timestamp)] == (
            r.skipcount,
            r.lastskiptimestamp,
        ), r


def test_show_skip_count_year_collapse_nonzero(spark, cdx):
    """A dense multi-year urlkey collapsed to timestamp:4 must report
    nonzero mid-stream skipcounts whose lastskiptimestamp is always the
    capture immediately preceding the kept row."""
    got = cdx_query(
        cdx,
        "http://src3.example.org/",
        match_type="domain",
        collapse="timestamp:4",
        show_skip_count=True,
    ).collect()
    assert any(r.skipcount > 0 for r in got)
    full = cdx_query(cdx, "http://src3.example.org/", match_type="domain").collect()
    idx = {(r.urlkey, r.timestamp): i for i, r in enumerate(full)}
    for r in got:
        if r.skipcount > 0:
            prev = full[idx[(r.urlkey, r.timestamp)] - 1]
            assert prev.urlkey == r.urlkey
            assert r.lastskiptimestamp == prev.timestamp, r
        else:
            assert r.lastskiptimestamp is None, r


# --- round 8: wildcard inference, embargo, replace rules -------------------


def test_infer_match_type_forms():
    """URL-wildcard sugar: 'example.com/*' → prefix, '*.example.com'
    → domain, bare → exact; explicit match_type always wins; other
    wildcard placements raise instead of guessing."""
    from webarchive_indexing_spark.operators.cdx_query import infer_match_type

    assert infer_match_type("https://a.com/docs/*", None) == (
        "https://a.com/docs/", "prefix",
    )
    assert infer_match_type("a.com/docs/*", None) == ("a.com/docs/", "prefix")
    assert infer_match_type("*.a.com", None) == ("a.com", "domain")
    assert infer_match_type("https://a.com/x", None) == (
        "https://a.com/x", "exact",
    )
    # explicit wins — the wildcard URL passes through untouched (glob)
    assert infer_match_type("a.com/d/1*1", "glob") == ("a.com/d/1*1", "glob")
    for bad in ("a.com/d/*/img", "*.a.com/*", "a.com/d/1*1"):
        with pytest.raises(ValueError):
            infer_match_type(bad, None)


def test_wildcard_inference_equals_explicit(spark, cdx):
    """The sugared spelling returns the same captures as the explicit
    matchType — through BOTH the DataFrame path and the ZipNum
    block-pruned path (the prune range must come from the INFERRED
    type, not default-exact)."""
    sugared = cdx_query(cdx, "https://src1.example.org/doc/10*")
    explicit = cdx_query(
        cdx, "https://src1.example.org/doc/10", match_type="prefix"
    )
    assert sugared.collect() == explicit.collect()
    assert sugared.count() > 0

    sugared = cdx_query(cdx, "*.src1.example.org")
    explicit = cdx_query(cdx, "src1.example.org", match_type="domain")
    assert sugared.count() == explicit.count() > 0


def test_wildcard_inference_zipnum(spark, cluster, cdx):
    from webarchive_indexing_spark.operators.cdx_query import cdx_query_zipnum

    got = cdx_query_zipnum(spark, cluster, "https://src1.example.org/doc/10*")
    want = cdx_query(cdx, "https://src1.example.org/doc/10", match_type="prefix")
    assert [r["urlkey"] for r in got.collect()] == [
        r["urlkey"] for r in want.collect()
    ]


def test_apply_acl_empty_rules(spark, cdx):
    """An empty rule list (empty .aclj, or every line quarantined)
    lists everything under the default verdict — no zero-arm CASE
    ParseException."""
    from webarchive_indexing_spark.operators.cdx_query import apply_acl

    out = apply_acl(cdx.limit(10), [])
    rows = out.collect()
    assert len(rows) == 10 and all(r["access"] == "allow" for r in rows)
    # and through the full query surface
    got = cdx_query(cdx, "src1.example.org", match_type="domain", acl_rules=[])
    assert got.count() > 0


def test_embargo_verdicts_match_python_reference(spark, cdx):
    """Embargo end-to-end on Spark vs a row-at-a-time Python
    reference: captures newer than the as_of-relative threshold are
    hidden unless their longest-prefix rule says allow_ignore_embargo
    (which displays as plain allow); at a later as_of the same
    captures return."""
    from datetime import datetime, timedelta

    from webarchive_indexing_spark.operators.cdx_query import apply_acl

    rules = [
        ("org,example,src1)", "allow_ignore_embargo"),
        ("org,example,src2)", "block"),
    ]
    embargo = {"newer": {"days": 365}}
    sample = cdx.filter(F.col("urlkey") < "org,example,src4").select(
        "urlkey", "timestamp"
    )
    ref_rows = sample.collect()

    def ref_verdict(urlkey, ts, as_of):
        matches = [r for r in rules if urlkey.startswith(r[0])]
        access = max(matches, key=lambda r: len(r[0]))[1] if matches else "allow"
        thr = (
            datetime.strptime(as_of, "%Y%m%d%H%M%S") - timedelta(days=365)
        ).strftime("%Y%m%d%H%M%S")
        if access == "allow_ignore_embargo":
            return "allow"
        if ts > thr and access != "exclude":
            return "exclude"
        return access

    for as_of in ("20160601000000", "20190601000000"):
        got = {
            (r["urlkey"], r["timestamp"]): r["access"]
            for r in apply_acl(
                sample, rules, embargo=embargo, as_of=as_of
            ).collect()
        }
        want = {
            (r["urlkey"], r["timestamp"]): ref_verdict(
                r["urlkey"], r["timestamp"], as_of
            )
            for r in ref_rows
        }
        want = {k: v for k, v in want.items() if v != "exclude"}
        assert got == want
    # the two clocks genuinely differ: early as_of hides rows the
    # late one lists
    early = apply_acl(sample, rules, embargo=embargo, as_of="20160601000000")
    late = apply_acl(sample, rules, embargo=embargo, as_of="20190601000000")
    assert early.count() < late.count()


def test_cdx_query_embargo_without_acl(spark, cdx):
    """embargo= with no .aclj still enforces (empty rule list → bare
    default verdict + embargo compare), and allow rows carry the
    access column."""
    got = cdx_query(
        cdx,
        "src1.example.org",
        match_type="domain",
        embargo={"before": "2016"},
    )
    rows = got.collect()
    assert rows and all(r["timestamp"] >= "2016" for r in rows)
    control = cdx_query(cdx, "src1.example.org", match_type="domain")
    assert control.count() > len(rows)


def test_replace_rule_spark_python_parity(spark):
    """FuzzyRule.replace: Spark column, shared-SQL string, and Python
    twins all rewrite identically — including $ and backslash in the
    Spark replacement escape path."""
    from webarchive_indexing_spark.operators.cdx_query import (
        FuzzyRule,
        apply_fuzzy_rules,
        fuzzy_key_py,
    )

    rules = (
        FuzzyRule("ver", r"v=[0-9]+", replace="v=0"),
        FuzzyRule("money", r"p=[0-9]+", replace="p=$1"),  # literal $1
    )
    keys = [
        "com,x)/a?b=1&v=777",
        "com,x)/a?p=42",
        "com,x)/a?v=777",  # trailing-cleanup no-op for rewrites
        "com,x)/a",
    ]
    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    got = {
        r["k"]: (r["key_fuzzy"], r["fuzzy_rule"])
        for r in apply_fuzzy_rules(df, "k", rules).collect()
    }
    assert got["com,x)/a?b=1&v=777"] == ("com,x)/a?b=1&v=0", "ver")
    assert got["com,x)/a?p=42"] == ("com,x)/a?p=$1", "money")
    assert got["com,x)/a"] == ("com,x)/a", None)
    for k in keys:
        assert got[k] == fuzzy_key_py(k, rules), k


def test_fuzzy_filter_echo_per_request(spark, cdx):
    """pywb filter: param-echo, per-request path: the retry scans the
    truncated-prefix range and keeps candidates matching the echoed
    group — so a lookup echoing the INDEXED param value finds the
    variant, and one echoing a value never crawled comes back empty
    (the strip fallback must not rescue it: pywb consults one rule)."""
    from webarchive_indexing_spark.operators.cdx_query import (
        REMOVEALL_RULE,
        FuzzyRule,
    )

    rules = (
        FuzzyRule("echoa", r"[?&](a=[0-9]+)", filters=("urlkey:{0}",)),
        REMOVEALL_RULE,
    )
    # an indexed query-key capture: urlkey '...doc/N?a=1&b=2'
    some = (
        cdx.filter(F.col("urlkey").contains("?a=1&b=2"))
        .select("urlkey")
        .first()["urlkey"]
    )
    path = some.split("?")[0]
    base_url = "https://" + path.split(")")[0].split(",")[-1] + ".example.org"
    # reconstruct a real URL for the same doc path
    doc_part = path.split(")/")[1]
    hit_url = f"{base_url}/{doc_part}?b=777&a=1"   # echoes a=1 (indexed)
    miss_url = f"{base_url}/{doc_part}?b=777&a=9"  # echoes a=9 (never crawled)

    got = cdx_query(cdx, hit_url, fuzzy=True, fuzzy_rules=rules)
    rows = got.collect()
    assert rows and all(r["urlkey"] == some for r in rows)
    assert cdx_query(cdx, miss_url, fuzzy=True, fuzzy_rules=rules).count() == 0

    # one-rule consultation (pywb): a lookup on a BARE-indexed doc
    # whose echo finds nothing must come back empty even though the
    # table's removeall fallback WOULD hit the bare key — the
    # fallback is never consulted once the echo rule matched...
    bare = (
        cdx.filter(~F.col("urlkey").contains("?"))
        .select("urlkey")
        .first()["urlkey"]
    )
    bare_doc = bare.split(")/")[1]
    bare_base = "https://" + bare.split(")")[0].split(",")[-1] + ".example.org"
    probe = f"{bare_base}/{bare_doc}?b=777&a=9"
    assert cdx_query(cdx, probe, fuzzy=True, fuzzy_rules=rules).count() == 0
    # ...while a removeall-ONLY table proves the bare key was there
    assert (
        cdx_query(cdx, probe, fuzzy=True, fuzzy_rules=(REMOVEALL_RULE,)).count()
        > 0
    )


def test_fuzzy_filter_echo_zipnum_prune_widens(spark, cdx, cluster):
    """The ZipNum path must widen its block-prune range to the
    truncated-prefix RANGE for echo rules — pruning to the exact key
    alone would silently return empty."""
    from webarchive_indexing_spark.operators.cdx_query import (
        FuzzyRule,
        cdx_query_zipnum,
    )

    rules = (FuzzyRule("echoa", r"[?&](a=[0-9]+)", filters=("urlkey:{0}",)),)
    some = (
        cdx.filter(F.col("urlkey").contains("?a=1&b=2"))
        .select("urlkey")
        .first()["urlkey"]
    )
    path = some.split("?")[0]
    doc_part = path.split(")/")[1]
    base_url = "https://" + path.split(")")[0].split(",")[-1] + ".example.org"
    hit_url = f"{base_url}/{doc_part}?b=777&a=1"
    got = cdx_query_zipnum(spark, cluster, hit_url, fuzzy=True,
                           fuzzy_rules=rules)
    rows = got.collect()
    assert rows and all(r["urlkey"] == some for r in rows)


def test_offset_param(spark, cdx):
    """offset=N skips N rows of the sort order before limit, with a
    deterministic tiebreak; offset past the (small) result set is
    empty; negative-limit + offset raises; and a DEEP offset raises
    the shallow-paging guard — Spark's TakeOrdered path buffers
    offset+limit rows per partition, so an unbounded offset is an
    executor OOM (measured), and the error routes users to
    resume_key."""
    base = cdx_query(cdx, "src1.example.org", match_type="domain",
                     tiebreak="digest", limit=30)
    allrows = base.collect()
    paged = cdx_query(cdx, "src1.example.org", match_type="domain",
                      tiebreak="digest", limit=10, offset=10)
    assert paged.collect() == allrows[10:20]
    far = cdx_query(cdx, "src1.example.org", match_type="domain",
                    offset=99_000, limit=5)
    assert far.count() == 0
    with pytest.raises(ValueError):
        cdx_query(cdx, "src1.example.org", match_type="domain",
                  limit=-5, offset=3)
    with pytest.raises(ValueError, match="resume_key"):
        cdx_query(cdx, "src1.example.org", match_type="domain",
                  offset=10**9, limit=5)


def test_zipnum_page_tiling_through_query_surface(spark, cdx, cluster):
    """page=N through cdx_query_zipnum: pages tile the full query —
    disjoint, ordered, union equals the unpaged result — and
    showNumPages/showPagedIndex answer from the secondary index."""
    from webarchive_indexing_spark.operators.cdx_query import cdx_query_zipnum

    url = "src1.example.org"
    n_df = cdx_query_zipnum(spark, cluster, url, match_type="domain",
                            show_num_pages=True, page_size=2)
    n = n_df.collect()[0]["pages"]
    assert n > 1

    full = cdx_query_zipnum(spark, cluster, url, match_type="domain")
    full_keys = [(r["urlkey"], r["timestamp"]) for r in full.collect()]
    paged = []
    for p in range(n):
        rows = cdx_query_zipnum(spark, cluster, url, match_type="domain",
                                page=p, page_size=2).collect()
        paged.extend((r["urlkey"], r["timestamp"]) for r in rows)
    assert sorted(paged) == sorted(full_keys)
    # a page past the end is empty, not an error
    assert cdx_query_zipnum(spark, cluster, url, match_type="domain",
                            page=n + 3, page_size=2).count() == 0

    idx = cdx_query_zipnum(spark, cluster, url, match_type="domain",
                           show_paged_index=True, page_size=2)
    rows = idx.collect()
    assert rows and max(r["page"] for r in rows) == n - 1
    # residual filters still compose with page= (filters after blocks)
    f = cdx_query_zipnum(spark, cluster, url, match_type="domain",
                         page=0, page_size=2, filters=["status:200"])
    assert all(r["status"] == 200 for r in f.collect())


def test_retry_spec_and_inference_never_raise_fuzz():
    """Property (hypothesis): arbitrary key/url strings through
    fuzzy_retry_spec (bundled default table) and infer_match_type
    never raise unexpectedly — the per-request front door handles any
    user-typed input with at worst a ValueError from wildcard
    ambiguity."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from webarchive_indexing_spark.operators.cdx_query import (
        fuzzy_retry_spec,
        infer_match_type,
    )
    from webarchive_indexing_spark.sources.pywb_config import (
        load_default_fuzzy_rules,
    )

    rules, bad = load_default_fuzzy_rules()
    assert bad == []

    keyish = st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz0123456789,)/?&=._-%*", max_size=60
    )

    @given(keyish)
    @settings(max_examples=300, deadline=None)
    def prop(s):
        spec = fuzzy_retry_spec(s, rules)
        if spec is not None:
            kind, target, filters, name = spec
            assert kind in ("key", "prefix")
            assert isinstance(target, str)
            if kind == "prefix":
                assert filters  # echo rules always carry their echo
        try:
            url, mt = infer_match_type(s, None)
            assert mt in ("exact", "prefix", "domain")
            assert "*" not in url.split("://", 1)[-1] or mt == "exact"
        except ValueError:
            pass  # ambiguous wildcard placement — documented refusal

    prop()


def test_page_and_resume_key_do_not_compose(spark, cluster):
    """resume_key lifts the block-prune lower bound, which renumbers
    pages — combining the two paging schemes must refuse, not silently
    read a different block run."""
    from webarchive_indexing_spark.operators.cdx_query import cdx_query_zipnum

    with pytest.raises(ValueError, match="paging schemes"):
        cdx_query_zipnum(spark, cluster, "src1.example.org",
                         match_type="domain", page=0,
                         resume_key=("org,example,src1)/doc/1", "2015"))


def test_embargo_null_timestamp_fails_closed(spark):
    """A capture whose ts14 didn't parse (NULL) cannot be proven
    outside the embargo window — it must be hidden, not served (the
    review-found fail-open: NULL compares fell through to the served
    verdict)."""
    from webarchive_indexing_spark.operators.cdx_query import apply_acl

    df = spark.createDataFrame(
        [("com,a)/x", "20150101000000"), ("com,a)/y", None)],
        ["urlkey", "timestamp"],
    )
    out = apply_acl(df, [], embargo={"after": "2016"}).collect()
    assert [r["urlkey"] for r in out] == ["com,a)/x"]
    # and with a relative clock too
    out = apply_acl(
        df, [], embargo={"newer": {"days": 1}}, as_of="20150102"
    ).collect()
    assert [r["urlkey"] for r in out] == ["com,a)/x"]


def test_embargo_short_as_of_prefix(spark):
    """A ts14 PREFIX as_of (e.g. '2019') means the start of its
    period — it must not crash strptime on day-00 padding; garbage
    as_of raises the clean ValueError."""
    from webarchive_indexing_spark.operators.cdx_query import sql_acl_access

    s = sql_acl_access(
        "k", [], embargo={"newer": {"days": 365}}, as_of="2019"
    )
    assert "'20180101000000'" in s  # 2019-01-01 minus 365d
    s = sql_acl_access("k", [], embargo={"older": {"days": 0}}, as_of="201906")
    assert "'20190601000000'" in s
    with pytest.raises(ValueError, match="ts14"):
        sql_acl_access("k", [], embargo={"newer": {"days": 1}}, as_of="junk")


def test_filter_rule_cut_at_key_start_parity(spark):
    """pywb truncates at replace_after only when it appears PAST the
    key's start (inx > 0) — all three twins (per-request, batch
    column, DuckDB SQL) must agree when the key BEGINS with the cut
    string (the review-found divergence)."""
    import duckdb

    from webarchive_indexing_spark.operators.cdx_query import (
        FuzzyRule,
        apply_fuzzy_retry_spec,
        fuzzy_retry_spec,
        sql_fuzzy_retry_exprs,
    )

    rule = (FuzzyRule("r", r"(x=[0-9]+)", replace="com", filters=("urlkey:{0}",)),)
    # wait — replace doubles as pywb's replace_after for filter rules
    keys = ["com,a)/p?x=1", "a,com)/p?x=2"]  # starts-with-cut vs mid-key
    want = {k: fuzzy_retry_spec(k, rule) for k in keys}
    # starts-with: no truncation (whole key); mid-key: cut after 'com'
    assert want["com,a)/p?x=1"][1] == "com,a)/p?x=1"
    assert want["a,com)/p?x=2"][1] == "a,com"

    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    got = {
        r["k"]: r["fuzzy_target"]
        for r in apply_fuzzy_retry_spec(df, "k", rule).collect()
    }
    assert got == {k: want[k][1] for k in keys}

    _, target_sql, _, _ = sql_fuzzy_retry_exprs("k", rule)
    con = duckdb.connect()
    for k in keys:
        (dk,) = con.execute(
            f"SELECT {target_sql} FROM (SELECT ? AS k)", [k]
        ).fetchone()
        assert dk == want[k][1], k


def test_parse_robots_grammar(spark):
    """robots.txt parser goldens: star-group attribution with stacked
    user-agent runs, other agents' groups ignored, comments stripped,
    empty Disallow dropped (allow-all no-op), FULL RFC 9309 pattern
    grammar (round 10: '*' runs and '$' end-anchors compile to LIKE at
    parse time), case-blind directives."""
    from webarchive_indexing_spark.operators.robots import (
        apply_robots,
        parse_robots,
    )

    txt = (
        "# policy\n"
        "User-agent: googlebot\n"
        "Disallow: /private/\n"
        "\n"
        "User-agent: extra\n"
        "USER-AGENT: *\n"
        "Disallow: /doc/   # trailing comment\n"
        "allow: /doc/pub\n"
        "Disallow:\n"
        "Disallow: /tmp/*/raw\n"
        "Disallow: /end$\n"
        "Disallow: /dl*.zip$\n"
    )
    rules = parse_robots(
        spark.createDataFrame([("h.example", txt)], "host string, robots_txt string")
    )
    got = {(r.prefix, r.allow, r.like_pat) for r in rules.collect()}
    assert got == {
        ("/doc/", False, "/doc/%"),
        ("/doc/pub", True, "/doc/pub%"),
        ("/tmp/*/raw", False, "/tmp/%/raw%"),
        ("/end$", False, "/end"),
        ("/dl*.zip$", False, "/dl%.zip"),
    }

    cdx = spark.createDataFrame(
        [
            (1, "https://h.example/doc/x"),       # disallowed
            (2, "https://h.example/doc/pub/x"),   # carve-back allow
            (3, "https://h.example/private/x"),   # other agent's rule only
            (4, "https://h.example/other"),       # no rule matches
            (5, "https://nothing.example/doc/x"), # no robots.txt at all
            (6, "https://h.example"),             # bare host -> path '/'
            (7, "https://h.example/tmp/a/raw"),   # '*' spans a segment
            (8, "https://h.example/tmp/a/rawx"),  # no '$': prefix match
            (9, "https://h.example/end"),         # '$' anchored hit
            (10, "https://h.example/enders"),     # '$' anchored miss
            (11, "https://h.example/dl/v2/x.zip"),   # '*' + '$' hit
            (12, "https://h.example/dl/x.zip.txt"),  # '$' blocks suffix
        ],
        "doc_id bigint, url string",
    )
    flags = {
        r.doc_id: r.robotflags for r in apply_robots(cdx, rules).collect()
    }
    assert flags == {
        1: "A", 2: None, 3: None, 4: None, 5: None, 6: None,
        7: "A", 8: "A", 9: "A", 10: None, 11: "A", 12: None,
    }
    assert len(flags) == 12  # nothing dropped, nothing duplicated

    # row preservation + RFC 9309 authority scoping: two FULLY
    # identical capture rows each survive with their own flag (the
    # argmax window keys a surrogate id, not the row values), and a
    # capture on host:8080 is NOT governed by bare-host rules (robots
    # scope is per scheme+host+port authority)
    dup = spark.createDataFrame(
        [
            (1, "https://h.example/doc/x"),
            (1, "https://h.example/doc/x"),       # exact duplicate row
            (2, "https://h.example:8080/doc/x"),  # other authority
        ],
        "doc_id bigint, url string",
    )
    out = sorted(
        (r.doc_id, r.robotflags) for r in apply_robots(dup, rules).collect()
    )
    assert out == [(1, "A"), (1, "A"), (2, None)]


def test_cdx_query_batch_matches_per_request_loop(spark, sf_dir):
    """cdx_query_batch ≡ the N-request cdx_query loop, request by
    request (same rows, any order), and unsupported per-request knobs
    refuse instead of answering differently."""
    import pytest as _pytest

    from webarchive_indexing_spark.operators.cdx_query import (
        cdx_query,
        cdx_query_batch,
    )
    from webarchive_indexing_spark.queries.cdx_surface import (
        _BATCH_REQUESTS,
        derived_cdx,
    )

    c = derived_cdx(spark, sf_dir).withColumnRenamed("ts14", "timestamp")
    got = cdx_query_batch(c, _BATCH_REQUESTS).collect()
    by_req: dict[int, set] = {}
    for r in got:
        by_req.setdefault(r.request_no, set()).add(tuple(r)[1:])
    for i, req in enumerate(_BATCH_REQUESTS):
        kw = dict(req)
        url = kw.pop("url")
        want = {tuple(r) for r in cdx_query(c, url, **kw).collect()}
        assert by_req.get(i, set()) == want, f"request {i} diverges"

    with _pytest.raises(ValueError, match="not batchable"):
        cdx_query_batch(c, [{"url": "http://x.example/", "collapse": "digest"}])
    with _pytest.raises(ValueError, match="at least one"):
        cdx_query_batch(c, [])

    # round 11: per-request closest= rides the shared window — each
    # closest request's limited rows equal the single-request closest
    # selection, and a mixed batch leaves the sorted request untouched
    creqs = [
        {"url": "http://src1.example.org/doc/101",
         "closest": "20160601", "limit": 2},
        {"url": "http://src1.example.org/doc/102?b=2&a=1",
         "closest": "201501", "limit": 1},
        {"url": "http://src2.example.org/doc/30*",
         "from_": "2016", "to": "2016", "limit": 3},
    ]
    got = cdx_query_batch(c, creqs).collect()
    by_req = {}
    for r in got:
        by_req.setdefault(r.request_no, set()).add(tuple(r)[1:])
    for i, req in enumerate(creqs):
        kw = dict(req)
        url = kw.pop("url")
        want = {tuple(r) for r in cdx_query(c, url, **kw).collect()}
        assert by_req.get(i, set()) == want, f"closest request {i} diverges"

    # a JSON-number closest (natural timestamp spelling) is coerced,
    # not an AttributeError from int.ljust
    int_req = [{"url": "http://src1.example.org/doc/101",
                "closest": 20160601, "limit": 2}]
    a = sorted(map(tuple, cdx_query_batch(c, int_req).collect()))
    str_req = [{"url": "http://src1.example.org/doc/101",
                "closest": "20160601", "limit": 2}]
    assert a == sorted(map(tuple, cdx_query_batch(c, str_req).collect()))


def test_cdx_query_batch_plan_single_pruned_scan(spark, sf_dir, tmp_path):
    """Over a STORED (parquet) CDX table the batch plan must be: one
    FileScan whose PushedFilters carry the union-of-ranges urlkey
    disjunction (block-IO bounded by the requests' ranges), a
    BroadcastNestedLoopJoin for request tagging (captures never
    shuffle for the join), and no SortMergeJoin anywhere."""
    from webarchive_indexing_spark.operators.cdx_query import cdx_query_batch
    from webarchive_indexing_spark.queries.cdx_surface import (
        _BATCH_REQUESTS,
        derived_cdx,
    )

    p = str(tmp_path / "cdx_store")
    derived_cdx(spark, sf_dir).withColumnRenamed("ts14", "timestamp").write.parquet(p)
    stored = spark.read.parquet(p)
    df = cdx_query_batch(stored, _BATCH_REQUESTS)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, plan[:800]
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "urlkey" in pushed, pushed
    assert "Or(" in pushed or "In(" in pushed, pushed
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    # and it answers the same rows as the in-memory path
    n = df.count()
    assert n > 40  # the domain request alone contributes its limit


def test_cdx_query_batch_zipnum_union_pruned_pass(spark, cdx, cluster):
    """The ZipNum-native batch ≡ the DataFrame batch row for row, and
    its block IO is the deduplicated UNION of the per-request prunes —
    strictly fewer blocks than the whole cluster and never more than
    the sum of per-request prunes."""
    from webarchive_indexing_spark.operators.cdx_query import (
        _key_range,
        cdx_query_batch,
        cdx_query_batch_zipnum,
        infer_match_type,
    )
    from webarchive_indexing_spark.sinks.zipnum import _load_idx, _prune

    reqs = [
        {"url": "https://src1.example.org/doc/101"},
        {"url": "https://src1.example.org/doc/1*"},  # overlaps request 0
        {
            "url": "https://src2.example.org/x",
            "match_type": "domain",
            "filters": ["status:200"],
            "limit": 25,
        },
    ]
    a = sorted(map(tuple, cdx_query_batch(cdx, reqs).collect()))
    b = sorted(map(tuple, cdx_query_batch_zipnum(spark, cluster, reqs).collect()))
    assert a == b and a

    idx = _load_idx(cluster)
    per_req = []
    for r in reqs:
        url, mt = infer_match_type(r["url"], r.get("match_type"))
        _e, lo, hi = _key_range(url, mt)
        per_req.append({(x.shard, x.offset) for x in _prune(idx, lo, hi)})
    union = set().union(*per_req)
    assert len(union) < len(idx)  # pruned, not a full scan
    assert len(union) < sum(len(s) for s in per_req)  # overlap deduped


def test_cli_query_batch(spark, cdx, cluster, tmp_path, capsys):
    """The query-batch subcommand serves cdx_query_batch_zipnum from
    argv: pywb GET-parameter spellings map to operator kwargs, rows
    come back tagged with request_no, unknown keys exit 2."""
    import json as _json

    from webarchive_indexing_spark.__main__ import main
    from webarchive_indexing_spark.operators.cdx_query import cdx_query

    reqs = [
        {"url": "https://src1.example.org/doc/101"},
        {
            "url": "https://src2.example.org/x",
            "matchType": "domain",
            "filter": ["status:200"],
            "limit": 5,
        },
    ]
    p = tmp_path / "reqs.json"
    p.write_text(_json.dumps(reqs))
    assert main(["query-batch", cluster, str(p)]) == 0
    lines = [
        ln for ln in capsys.readouterr().out.splitlines() if ln.strip()
    ]
    by_req = {}
    for ln in lines:
        by_req.setdefault(int(ln.split(" ", 1)[0]), []).append(ln)
    want0 = cdx_query(cdx, reqs[0]["url"]).count()
    assert len(by_req[0]) == want0
    assert len(by_req[1]) == 5  # the limit applied per request

    # json output round-trips
    assert main(["query-batch", cluster, str(p), "--output", "json"]) == 0
    j = [
        _json.loads(ln)
        for ln in capsys.readouterr().out.splitlines()
        if ln.strip()
    ]
    assert {r["request_no"] for r in j} == {0, 1}

    # round 11: closest is a supported request key — nearest-first
    # limited selection matches the single-request path
    p3 = tmp_path / "closest.json"
    p3.write_text(_json.dumps([
        {"url": "https://src1.example.org/doc/101",
         "closest": "20160601", "limit": 1},
    ]))
    assert main(["query-batch", cluster, str(p3)]) == 0
    out3 = [
        ln for ln in capsys.readouterr().out.splitlines() if ln.strip()
    ]
    want = cdx_query(
        cdx, "https://src1.example.org/doc/101", closest="20160601", limit=1
    ).collect()
    assert len(out3) == 1
    assert want[0].timestamp in out3[0]

    # unknown request keys refuse with exit 2, not a traceback
    p2 = tmp_path / "bad.json"
    p2.write_text(_json.dumps([{"url": "https://x.example/", "collapse": "digest"}]))
    assert main(["query-batch", cluster, str(p2)]) == 2


def test_robots_like_compile_matches_reference(spark):
    """The parse-time pattern→LIKE compilation ≡ a regex reference
    matcher for the RFC 9309 grammar, on a seeded random corpus of
    patterns (including LIKE metacharacters %/_ that must stay
    literal, '*' runs, '$' anchors, mid-pattern '$') × paths — one
    Spark job for the whole grid."""
    import random
    import re

    from webarchive_indexing_spark.operators.robots import (
        apply_robots,
        parse_robots,
    )

    def ref_match(pattern: str, path: str) -> bool:
        anchored = pattern.endswith("$")
        pat = pattern[:-1] if anchored else pattern
        rx = ".*".join(re.escape(p) for p in pat.split("*"))
        return re.match("^" + rx + ("$" if anchored else ""), path) is not None

    rng = random.Random(1009)
    alphabet = "ab/%._*xyz$"
    pats = []
    while len(pats) < 40:
        p = "/" + "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6)))
        if p.replace("*", "").replace("$", "") and p not in pats:
            pats.append(p)
    paths = list({
        "/" + "".join(rng.choice("ab/%._xyz") for _ in range(rng.randint(1, 8)))
        for _ in range(40)
    })

    # one host per pattern; each host's captures are every path
    robots = spark.createDataFrame(
        [(f"h{i}.example", f"User-agent: *\nDisallow: {p}\n")
         for i, p in enumerate(pats)],
        "host string, robots_txt string",
    )
    cdx = spark.createDataFrame(
        [(i * 1000 + j, f"https://h{i}.example{path}")
         for i in range(len(pats)) for j, path in enumerate(paths)],
        "doc_id bigint, url string",
    )
    got = {
        r.doc_id: r.robotflags
        for r in apply_robots(cdx, parse_robots(robots)).collect()
    }
    for i, p in enumerate(pats):
        for j, path in enumerate(paths):
            want = "A" if ref_match(p, path) else None
            assert got[i * 1000 + j] == want, (p, path, got[i * 1000 + j])


def test_cdx_query_batch_parquet_epoch_store_honors_tombstones(
    spark, sf_dir, tmp_path
):
    """Batch serving against the INCREMENTAL parquet epoch store: the
    same requests answered before and after a tombstone takedown — the
    taken-down subtree's request returns nothing while the others are
    unchanged (deletes apply to batch reads through the same LSM path
    as single requests)."""
    from pyspark.sql import functions as F

    from webarchive_indexing_spark.operators.cdx_query import (
        cdx_query_batch_parquet,
    )
    from webarchive_indexing_spark.queries.cdx_surface import _zipnum_input
    from webarchive_indexing_spark.sinks.parquet_index import (
        to_parquet_index_shape,
        write_parquet_index_epoch,
    )
    from webarchive_indexing_spark.sinks.zipnum import write_tombstone_epoch

    out = str(tmp_path / "pq_epochs")
    base = _zipnum_input(spark, sf_dir)
    write_parquet_index_epoch(
        to_parquet_index_shape(base), out, 0, range_partitions=4
    )
    reqs = [
        {"url": "https://src2.example.org/x", "match_type": "domain", "limit": 10},
        {"url": "https://src3.example.org/x", "match_type": "domain", "limit": 10},
    ]
    before = cdx_query_batch_parquet(spark, out, reqs).collect()
    by_req = {}
    for r in before:
        by_req.setdefault(r.request_no, []).append(r)
    assert len(by_req[0]) == 10 and len(by_req[1]) == 10

    takedown = (
        base.filter(F.col("urlkey").startswith("org,example,src2)/"))
        .select("urlkey")
        .distinct()
        .withColumn("timestamp", F.lit(None).cast("string"))
    )
    write_tombstone_epoch(takedown, out, "takedown:src2")
    after = cdx_query_batch_parquet(spark, out, reqs).collect()
    by_req2 = {}
    for r in after:
        by_req2.setdefault(r.request_no, []).append(r)
    assert 0 not in by_req2  # the taken-down domain vanished
    assert sorted(map(tuple, by_req2[1])) == sorted(
        map(tuple, by_req[1])
    )  # the other request is untouched


# --- the Column-built residual pipeline, kept as the parity reference ---
#
# ``cdx_query`` renders its residual pipeline as one SQL statement; the
# functions below are the DataFrame/Column form it replaced, verbatim in
# behaviour.  They live only here, as the reference the SQL form must
# reproduce row for row.


def _ref_filter_cond(f: str):
    neg = f.startswith("!")
    body = f[1:] if neg else f
    if body.startswith("="):
        field, val = body[1:].split(":", 1)
        cond = F.col(field).cast("string") == val
    elif body.startswith("~"):
        field, sub = body[1:].split(":", 1)
        cond = F.col(field).cast("string").contains(sub)
    elif "~" in body.split(":")[0] or (":" not in body and "~" in body):
        field, sub = body.split("~", 1)
        cond = F.col(field).cast("string").contains(sub)
    else:
        field, pat = body.split(":", 1)
        cond = F.col(field).cast("string").rlike(pat)
    return ~cond if neg else cond


def _ref_collapse(df, partition_by, order_by, collapse_key, *, keep="first",
                  group_count_col=None, skip_count_col=None, skip_ts=None):
    from pyspark.sql.window import Window

    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    adj = (F.lag if keep == "first" else F.lead)(collapse_key).over(w)
    cond = adj.isNull() | (collapse_key != adj)
    if group_count_col is None and skip_count_col is None:
        return df.withColumn("__keep", cond).filter(F.col("__keep")).drop("__keep")
    out = df.withColumn("__keep", cond)
    drop = ["__keep"]
    if group_count_col is not None:
        prev = F.lag(collapse_key).over(w)
        change = (prev.isNull() | (collapse_key != prev)).cast("bigint")
        run_id = F.sum(change).over(w.rowsBetween(Window.unboundedPreceding, 0))
        out = out.withColumn("__run", run_id)
        cw = Window.partitionBy(*partition_by, "__run")
        out = out.withColumn(group_count_col, F.count(F.lit(1)).over(cw))
        drop.append("__run")
    if skip_count_col is not None:
        out = out.withColumn("__rn", F.row_number().over(w))
        if skip_ts is not None:
            out = out.withColumn("__pts", F.lag(skip_ts[0]).over(w))
        out = out.filter(F.col("__keep"))
        gap = F.col("__rn") - F.coalesce(F.lag("__rn").over(w), F.lit(0)) - 1
        out = out.withColumn(skip_count_col, gap)
        drop.append("__rn")
        if skip_ts is not None:
            out = out.withColumn(
                skip_ts[1], F.when(F.col(skip_count_col) > 0, F.col("__pts"))
            )
            drop.append("__pts")
        return out.drop(*drop)
    return out.filter(F.col("__keep")).drop(*drop)


def _ref_cdx_query(cdx, url, *, match_type=None, from_=None, to=None,
                   filters=None, collapse=None, collapse_to_last=False,
                   show_group_count=False, show_skip_count=False, closest=None,
                   sort_reverse=False, fields=None, limit=None, offset=None,
                   fuzzy=False, fuzzy_rules=None, resume_key=None, tiebreak=None, acl_rules=None,
                   acl_default="allow", embargo=None, as_of=None):
    from pyspark.sql.window import Window

    from webarchive_indexing_spark.functions.surt import surt_urlkey_py
    from webarchive_indexing_spark.operators.cdx_query import (
        DEFAULT_FUZZY_RULES,
        _key_range,
        apply_acl,
        fuzzy_retry_spec,
        glob_to_like,
        infer_match_type,
    )

    url, match_type = infer_match_type(url, match_type)
    exact, lo, hi = _key_range(url, match_type)
    fuzzy_pending = False
    if exact is not None:
        spec = fuzzy_retry_spec(exact, fuzzy_rules or DEFAULT_FUZZY_RULES) if fuzzy else None
        if spec is not None and spec[0] == "prefix":
            _, pre, echoes, _rule = spec
            fcond = (F.col("urlkey") >= pre) & (F.col("urlkey") < pre + "~")
            for e in echoes:
                fcond = fcond & _ref_filter_cond(e)
            df = cdx.filter((F.col("urlkey") == exact) | fcond)
            fuzzy_pending = True
        elif spec is not None and spec[0] == "key" and spec[1] != exact:
            df = cdx.filter(F.col("urlkey").isin([exact, spec[1]]))
            fuzzy_pending = True
        else:
            df = cdx.filter(F.col("urlkey") == exact)
    else:
        df = cdx.filter((F.col("urlkey") >= lo) & (F.col("urlkey") < hi))
    if match_type == "glob":
        df = df.filter(F.col("urlkey").like(glob_to_like(surt_urlkey_py(url))))
    if acl_rules is not None or embargo is not None:
        df = apply_acl(df, acl_rules or [], default=acl_default,
                       embargo=embargo, as_of=as_of)
    if resume_key is not None:
        rk, rts = resume_key[0], resume_key[1]
        after_ts = F.col("timestamp") > rts
        if len(resume_key) == 3:
            tb = F.coalesce(F.col(tiebreak), F.lit("-"))
            after_ts = after_ts | ((F.col("timestamp") == rts) & (tb > resume_key[2]))
        df = df.filter((F.col("urlkey") > rk) | ((F.col("urlkey") == rk) & after_ts))
    if from_ is not None:
        df = df.filter(F.col("timestamp") >= from_.ljust(14, "0"))
    if to is not None:
        df = df.filter(F.col("timestamp") <= to.ljust(14, "9"))
    for f in filters or []:
        df = df.filter(_ref_filter_cond(f))
    if fuzzy_pending:
        has_exact = F.max(F.when(F.col("urlkey") == exact, 1).otherwise(0)).over(
            Window.partitionBy()
        )
        df = (
            df.withColumn("__he", has_exact)
            .filter((F.col("urlkey") == exact) | (F.col("__he") == 0))
            .drop("__he")
        )
    if collapse:
        keys = []
        for spec in [collapse] if isinstance(collapse, str) else list(collapse):
            field, _, width = spec.partition(":")
            ck = F.col(field).cast("string")
            if width:
                ck = F.substring(ck, 1, int(width))
            keys.append(ck)
        df = _ref_collapse(
            df, ["urlkey"], [F.col("timestamp").asc()],
            keys[0] if len(keys) == 1 else F.struct(*keys),
            keep="last" if collapse_to_last else "first",
            group_count_col="groupcount" if show_group_count else None,
            skip_count_col="skipcount" if show_skip_count else None,
            skip_ts=("timestamp", "lastskiptimestamp") if show_skip_count else None,
        )
    if closest is not None:
        dist = F.abs(F.col("timestamp").cast("bigint") - F.lit(int(closest.ljust(14, "0"))))
        fwd = [dist.asc(), F.col("timestamp").asc()]
        rev = [dist.desc(), F.col("timestamp").desc()]
        for c in ("digest", "offset"):
            if c in df.columns:
                fwd.append(F.col(c).asc())
                rev.append(F.col(c).desc())
    elif sort_reverse:
        fwd = [F.col("urlkey").asc(), F.col("timestamp").desc()]
        rev = [F.col("urlkey").desc(), F.col("timestamp").asc()]
    else:
        fwd = [F.col("urlkey").asc(), F.col("timestamp").asc()]
        rev = [F.col("urlkey").desc(), F.col("timestamp").desc()]
    if tiebreak is not None and closest is None:
        fwd.append(F.col(tiebreak).desc() if sort_reverse else F.col(tiebreak).asc())
        rev.append(F.col(tiebreak).asc() if sort_reverse else F.col(tiebreak).desc())
    if limit is not None and limit < 0:
        df = df.orderBy(*rev).limit(-limit).orderBy(*fwd)
    else:
        df = df.orderBy(*fwd)
        if offset is not None:
            df = df.offset(offset)
        if limit is not None:
            df = df.limit(limit)
    if fields:
        df = df.select(*fields)
    return df


def _query_params():
    """Hypothesis strategy over the ``cdx_query`` surface the SQL form
    renders: url/match type (exact, fuzzy, prefix, domain, glob),
    modifiers, ACL/embargo, continuation, collapse, ordering, paging
    and projection."""
    from hypothesis import strategies as st

    urls = st.sampled_from([
        ("https://src1.example.org/doc/101", "exact"),
        ("https://src2.example.org/doc/205", "exact"),
        ("https://src1.example.org/doc/101?_cb=77", "exact"),
        ("https://src1.example.org/doc/1999", "exact"),
        ("https://src3.example.org/doc/3?callback=jsonp12&a=1", "exact"),
        ("https://src1.example.org/doc/1", "prefix"),
        ("src3.example.org", "domain"),
        ("https://src1.example.org/doc/1*1*", "glob"),
    ])
    filters = st.lists(st.sampled_from([
        "status:200", "!status:200", "mime:text/.*", "~url:doc/1", "=status:404",
        "!digest~A", "url:.*[0-9]{2}$", "url:it's", "!url:\\d\\d\\d",
        "~filename:ü",
    ]), max_size=2)
    collapse = st.sampled_from(
        [None, "urlkey", "digest", "timestamp:4", ["urlkey", "timestamp:6"]]
    )
    acl = st.sampled_from([
        {},
        {"acl_rules": [("org,example,src1)/doc/1", "block"),
                       ("org,example,src1)/doc/10", "exclude")]},
        {"embargo": {"before": "2015"}, "acl_rules": [("org,example,src3", "allow_ignore_embargo")]},
        {"embargo": {"newer": {"days": 400}}, "as_of": "20170101"},
    ])
    order = st.sampled_from([
        {}, {"sort_reverse": True}, {"closest": "20160601"}, {"tiebreak": "digest"},
        {"resume_key": ("org,example,src1)/doc/1", "2015")},
        {"resume_key": ("org,example,src1)/doc/10", "20160101000000", "-"),
         "tiebreak": "digest"},
    ])
    paging = st.sampled_from([
        {}, {"limit": 3}, {"limit": -2}, {"limit": 2, "offset": 1}, {"offset": 2},
    ])
    return st.tuples(
        urls, st.booleans(), st.sampled_from([None, "2015", "201606"]),
        st.sampled_from([None, "2016", "20170315"]), filters, collapse,
        st.booleans(), st.booleans(), st.booleans(), acl, order, paging,
        st.sampled_from([None, ["urlkey", "timestamp", "status"], ["digest"]]),
        # the default rule table, or a param-echo rule (prefix retry
        # over the host's docs, echoed filter on the url)
        st.sampled_from([None, "echo"]),
    )


def _echo_rules():
    from webarchive_indexing_spark.operators.cdx_query import FuzzyRule

    return (FuzzyRule("echo", r"(doc)/1", replace=")/doc/", filters=("~url:{0}",)),)


#: parameter sets every run checks, one per pipeline stage, on top of
#: the drawn ones (same tuple layout as ``_query_params``)
_STAGE_EXAMPLES = [
    # collapse with group and skip counts
    (("src3.example.org", "domain"), False, None, None, [], "timestamp:4",
     False, True, True, {}, {}, {}, None, None),
    # multi-field collapse to last, reversed, last-N
    (("src3.example.org", "domain"), False, None, None, [], ["urlkey", "timestamp:6"],
     True, True, False, {}, {"sort_reverse": True}, {"limit": -2}, None, None),
    # param-echo fuzzy retry of a missing page
    (("https://src1.example.org/doc/1999", "exact"), True, None, None, [], None,
     False, False, False, {}, {}, {}, None, "echo"),
    # key-rewrite fuzzy retry with modifiers, closest, offset paging
    (("https://src1.example.org/doc/101?_cb=77", "exact"), True, "2015", None,
     ["status:200"], None, False, False, False, {}, {"closest": "20160601"},
     {"limit": 2, "offset": 1}, None, None),
    # ACL verdicts, gap-free continuation, collapse, projection
    (("https://src1.example.org/doc/1", "prefix"), False, None, "2017", ["~url:doc"],
     "digest", False, False, True,
     {"acl_rules": [("org,example,src1)/doc/1", "block"),
                    ("org,example,src1)/doc/10", "exclude")]},
     {"resume_key": ("org,example,src1)/doc/10", "20160101000000", "-"),
      "tiebreak": "digest"},
     {"limit": 3}, ["urlkey", "timestamp", "access", "skipcount"], None),
]


def test_sql_form_matches_column_form(spark, cdx):
    """The one-statement SQL form of ``cdx_query`` returns the same
    rows, in the same order, with the same columns, as the Column-built
    pipeline it replaced, across the parameter surface."""
    from hypothesis import HealthCheck, example, given, settings

    def with_examples(fn):
        for ex in _STAGE_EXAMPLES:
            fn = example(ex)(fn)
        return fn

    @settings(max_examples=40, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(_query_params())
    @with_examples
    def prop(p):
        ((url, mt), fuzzy, from_, to, filters, collapse, to_last, gc, sc,
         acl, order, paging, fields, rules) = p
        kw = dict(match_type=mt, from_=from_, to=to, filters=filters,
                  collapse=collapse, collapse_to_last=to_last and bool(collapse),
                  show_group_count=gc and bool(collapse),
                  show_skip_count=sc and bool(collapse),
                  fuzzy=fuzzy and mt == "exact", fields=fields,
                  **acl, **order, **paging)
        if rules is not None:
            kw["fuzzy_rules"] = _echo_rules()
        want = _ref_cdx_query(cdx, url, **kw)
        got = cdx_query(cdx, url, **kw)
        assert got.columns == want.columns
        assert got.collect() == want.collect(), kw

    prop()


def test_sql_str_reads_back_unchanged(spark):
    """Any string rendered by ``sql_str`` parses back to itself —
    quotes, backslashes (including LIKE's ``\\%``/``\\_`` escapes),
    control characters, non-ASCII and regex metacharacters as used in
    ``filter=`` patterns."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from webarchive_indexing_spark.sqltext import sql_str

    special = st.sampled_from(list("'\"\\%_{}[]()*+?.^$|\n\r\t\x00`;-/") + ["\\u0041", "''", "\\'"])
    text = st.lists(st.text(max_size=4) | special, max_size=8).map("".join)

    @settings(max_examples=150, deadline=None)
    @given(text)
    def prop(s):
        assert spark.sql("SELECT " + sql_str(s) + " AS v").collect()[0].v == s

    prop()
