"""ZipNum cluster golden tests (FIXTURES.md B3, SURVEY.md §5.2):
byte-exact secondary index semantics, stock-zlib decompressibility,
block-pruned reads equal full-scan filters."""

from __future__ import annotations

import gzip
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from webarchive_indexing_spark.queries.cdx_surface import derived_cdx
from webarchive_indexing_spark.sinks.zipnum import (
    _load_idx,
    read_zipnum,
    write_zipnum,
    zipnum_prefix_query,
)

NUMLINES = 10
SHARDS = 4


@pytest.fixture(scope="module")
def cdx(spark, sf_dir):
    c = derived_cdx(spark, sf_dir)
    return c.select(
        "urlkey",
        F.col("ts14").alias("timestamp"),
        F.concat(F.lit("https://example.org/x/"), F.col("digest")).alias("url"),
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
def cluster(spark, cdx):
    d = tempfile.mkdtemp(prefix="zipnum_")
    idx = write_zipnum(cdx, d, shards=SHARDS, numlines=NUMLINES)
    return d, idx


def test_shard_files_standard_gzip_and_sorted(cluster):
    d, idx = cluster
    # every shard decompresses with stock gzip; keys globally ordered
    # across shards in shard order (total-order sort)
    all_keys = []
    for shard in sorted(f for f in os.listdir(d) if f.endswith(".gz")):
        with gzip.open(os.path.join(d, shard), "rt") as fh:
            keys = [tuple(line.split(" ")[:2]) for line in fh]
        assert keys == sorted(keys), f"{shard} not internally sorted"
        all_keys.extend(keys)
    assert all_keys == sorted(all_keys), "shards not range-partitioned in order"


def test_secondary_index_matches_blocks(cluster, cdx):
    d, idx = cluster
    blocks = _load_idx(d)
    # one index row per ceil(rows/numlines) within each shard
    n_rows = cdx.count()
    assert n_rows / NUMLINES <= len(blocks) <= n_rows / NUMLINES + SHARDS
    # each block's recorded (offset,length) decompresses to numlines
    # lines whose first key equals the index row's key
    for b in blocks:
        with open(os.path.join(d, b.shard), "rb") as fh:
            fh.seek(b.offset)
            data = fh.read(b.length)
        lines = gzip.decompress(data).decode().splitlines()
        assert 1 <= len(lines) <= NUMLINES
        first = lines[0].split(" ")
        assert (first[0], first[1]) == (b.urlkey, b.timestamp)


def test_roundtrip_equals_input(spark, cluster, cdx):
    d, _ = cluster
    back = read_zipnum(spark, d)
    a = sorted(map(tuple, cdx.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_pruned_read_equals_filter(spark, cluster, cdx):
    d, _ = cluster
    prefix = "org,example,src1)"
    pruned = zipnum_prefix_query(spark, d, prefix)
    expected = cdx.filter(F.col("urlkey").startswith(prefix))
    a = sorted(map(tuple, pruned.collect()))
    b = sorted(map(tuple, expected.collect()))
    assert a == b
    # and it actually pruned: the matching blocks are a strict subset
    blocks = _load_idx(d)
    from webarchive_indexing_spark.sinks.zipnum import _prune

    kept = _prune(blocks, prefix, prefix + "~")
    assert 0 < len(kept) < len(blocks)


def test_empty_range_read(spark, cluster):
    d, _ = cluster
    out = read_zipnum(spark, d, key_lo="zzz", key_hi="zzzz")
    assert out.count() == 0


def test_uri_scheme_roundtrip(spark, cdx):
    # the pyarrow.fs seam: write + read through a file:// URI exactly as
    # an object-store deployment would through s3://; shard paths in
    # cluster.loc stay URIs end-to-end
    d = tempfile.mkdtemp(prefix="zipnum_uri_")
    uri = "file://" + d
    write_zipnum(cdx, uri, shards=2, numlines=NUMLINES)
    assert os.path.exists(os.path.join(d, "cluster.idx"))
    back = read_zipnum(spark, uri)
    a = sorted(map(tuple, cdx.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_epoch_id_manifest_allocation(tmp_path):
    """One monotonic id space across stream batches and compactions:
    fresh keys get max+1 (manifest ∪ disk), replayed keys reuse their
    mapping, pre-manifest on-disk epochs are never overwritten."""
    from webarchive_indexing_spark.sinks.zipnum import reserve_epoch_id

    root = str(tmp_path / "idx")
    assert reserve_epoch_id(root, "batch:0") == 0
    assert reserve_epoch_id(root, "batch:1") == 1
    # replay → same slot (idempotent rewrite)
    assert reserve_epoch_id(root, "batch:0") == 0
    # compaction reserves from the SAME space
    assert reserve_epoch_id(root, "compact:epoch-000000-epoch-000001") == 2
    # post-compaction batch can never land on the compacted slot
    assert reserve_epoch_id(root, "batch:2") == 3
    # a pre-manifest epoch dir on disk also bumps the allocator
    os.makedirs(str(tmp_path / "idx" / "epoch-000007"))
    assert reserve_epoch_id(root, "batch:3") == 8


def test_list_epochs_excludes_compaction_inputs(tmp_path):
    """During the rename→delete window both the merged epoch and its
    inputs are on disk; readers must see exactly one copy (the merged
    epoch), transitively through chained compactions."""
    from webarchive_indexing_spark.sinks.zipnum import list_epochs

    root = tmp_path / "idx"
    for n in (0, 1, 2, 5, 9):
        os.makedirs(str(root / f"epoch-{n:06d}"))
    # epoch-5 subsumed 0..2; epoch-9 subsumed 5 — all five dirs present
    (root / "epoch-000005" / "compaction.inputs").write_text(
        "epoch-000000\nepoch-000001\nepoch-000002\n"
    )
    (root / "epoch-000009" / "compaction.inputs").write_text("epoch-000005\n")
    live = [p.rsplit("/", 1)[1] for p in list_epochs(str(root))]
    assert live == ["epoch-000009"]
    # after the inputs are deleted, nothing changes for readers
    import shutil

    for n in (0, 1, 2, 5):
        shutil.rmtree(str(root / f"epoch-{n:06d}"))
    assert [p.rsplit("/", 1)[1] for p in list_epochs(str(root))] == ["epoch-000009"]


def test_page_blocks_tile_range_query(spark, cluster, cdx):
    """page=N semantics: pages are disjoint, each costs only its own
    blocks, and their union equals the range query (VERDICT r03 #2)."""
    from webarchive_indexing_spark.sinks.zipnum import (
        num_pages,
        read_zipnum_page,
    )

    d, _ = cluster
    lo, hi = "org,example,src1", "org,example,src1~"
    want = sorted(
        map(tuple, read_zipnum(spark, d, key_lo=lo, key_hi=hi).collect())
    )
    n = num_pages(d, key_lo=lo, key_hi=hi, page_size=3)
    assert n >= 2  # the fixture spans several pages at numlines=10
    got, seen = [], set()
    for p in range(n):
        rows = [tuple(r) for r in read_zipnum_page(
            spark, d, p, key_lo=lo, key_hi=hi, page_size=3
        ).collect()]
        assert rows  # no empty page inside the range
        assert not (set(rows) & seen)  # disjoint
        seen.update(rows)
        got.extend(rows)
    assert sorted(got) == want
    # past-the-end page is empty, not an error
    assert read_zipnum_page(
        spark, d, n, key_lo=lo, key_hi=hi, page_size=3
    ).count() == 0


def test_compaction_sweeps_orphaned_dead_epochs(spark, tmp_path):
    """A crash between rename and input-delete leaves dead epoch dirs;
    the next compaction reclaims them without resurrecting their rows."""
    import glob

    from webarchive_indexing_spark.queries.cdx_surface import derived_cdx
    from webarchive_indexing_spark.sinks.zipnum import (
        compact_zipnum_epochs,
        list_epochs,
        read_zipnum_epochs,
        reserve_epoch_id,
        write_zipnum_epoch,
    )

    root = str(tmp_path / "idx")
    cdx = derived_cdx(spark, "/root/testdata/sf0.001").limit(120)
    full = cdx.select(
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
    ).cache()
    h1 = full.filter(F.col("status") == 200)
    h2 = full.filter(F.col("status") != 200)
    write_zipnum_epoch(h1, root, reserve_epoch_id(root, "batch:0"), shards=2, numlines=20)
    write_zipnum_epoch(h2, root, reserve_epoch_id(root, "batch:1"), shards=2, numlines=20)
    compact_zipnum_epochs(spark, root, shards=2, numlines=20)

    # simulate the crash: resurrect a dead input dir next to the
    # merged epoch by marking it subsumed again
    import os
    import shutil

    merged = list_epochs(root)[0]
    dead = os.path.join(root, "epoch-000000")
    shutil.copytree(merged, dead)
    os.remove(os.path.join(dead, "compaction.inputs"))
    with open(os.path.join(merged, "compaction.inputs"), "w") as fh:
        fh.write("epoch-000000\nepoch-000001\n")
    assert len(glob.glob(os.path.join(root, "epoch-*"))) == 2
    # readers already see exactly one copy
    assert read_zipnum_epochs(spark, root).count() == full.count()
    # the next compaction sweeps the orphan and keeps the data intact
    compact_zipnum_epochs(spark, root, shards=2, numlines=20)
    want = {tuple(r) for r in full.collect()}
    got = {tuple(r) for r in read_zipnum_epochs(spark, root).collect()}
    assert got == want
    assert "epoch-000000" not in {
        p.rsplit("/", 1)[1] for p in glob.glob(os.path.join(root, "epoch-*"))
    }


def test_read_zipnum_pages_batch_equals_per_page(spark, cluster, cdx):
    """The one-job batch pagination must reproduce the per-request
    API exactly: same page assignment, same rows, one read stage."""
    from webarchive_indexing_spark.sinks.zipnum import (
        num_pages,
        read_zipnum_page,
        read_zipnum_pages,
    )

    d, _ = cluster
    lo, hi = "org,example,src1", "org,example,src1~"
    batch = read_zipnum_pages(spark, d, key_lo=lo, key_hi=hi, page_size=3)
    got = {}
    for r in batch.collect():
        got.setdefault(r.page, set()).add(tuple(r)[1:])
    n = num_pages(d, key_lo=lo, key_hi=hi, page_size=3)
    assert set(got) == set(range(n))
    for p in range(n):
        want = {
            tuple(r)
            for r in read_zipnum_page(
                spark, d, p, key_lo=lo, key_hi=hi, page_size=3
            ).collect()
        }
        assert got[p] == want, f"page {p}"


def test_composed_server_query_prunes_blocks(spark, sf_dir):
    """cdx_server_composed_zipnum must touch ONLY the secondary-index
    blocks intersecting the domain key range (the binary-search
    analogue, asserted from the same _prune the reader uses), and its
    per-page residual pipeline must respect every composed parameter."""
    import tempfile

    from webarchive_indexing_spark.queries.cdx_surface import _zipnum_input
    from webarchive_indexing_spark.sinks.zipnum import (
        _load_idx,
        _prune,
        read_zipnum_pages,
        write_zipnum_ordered,
    )

    d = tempfile.mkdtemp(prefix="zipnum_srv_test_")
    write_zipnum_ordered(_zipnum_input(spark, sf_dir), d, shards=8, numlines=100)
    lo, hi = "org,example,src3", "org,example,src3~"
    blocks = _load_idx(d)
    kept = _prune(blocks, lo, hi)
    assert 0 < len(kept) < len(blocks), "range must prune strictly"

    rows = read_zipnum_pages(spark, d, key_lo=lo, key_hi=hi, page_size=2).collect()
    assert rows, "pruned page read returned nothing"
    n_pages = len({r.page for r in rows})
    # pages tile the kept block list in runs of page_size
    assert n_pages == (len(kept) + 1) // 2

    from webarchive_indexing_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    out = REGISTRY["cdx_server_composed_zipnum"].fn(spark, sf_dir).collect()
    assert out
    by_page = {}
    for r in out:
        assert r.urlkey.startswith("org,example,src3")
        assert "2015" <= r.timestamp < "2017"
        assert r.status == 200 and not r.mime.startswith("image")
        by_page.setdefault(r.page, []).append(r)
    assert all(len(v) <= 5 for v in by_page.values()), "per-page limit"


def test_resume_key_paging_prunes_blocks(spark, sf_dir):
    """Deep paging over ZipNum is O(page) in blocks READ: a resumed
    request lifts the prune lower bound to the resume key — fewer
    blocks than the unresumed query — and stitched pages still tile
    the full result exactly."""
    import tempfile

    from webarchive_indexing_spark.operators.cdx_query import cdx_query_zipnum
    from webarchive_indexing_spark.queries.cdx_surface import _zipnum_input
    from webarchive_indexing_spark.sinks.zipnum import (
        _load_idx,
        _prune,
        write_zipnum_ordered,
    )

    d = tempfile.mkdtemp(prefix="zipnum_resume_")
    write_zipnum_ordered(_zipnum_input(spark, sf_dir), d, shards=8, numlines=100)
    url, mt, L = "http://src1.example.org/", "domain", 50
    fields = ["urlkey", "timestamp", "status"]

    pages, resume = [], None
    while True:
        page = cdx_query_zipnum(
            spark, d, url, match_type=mt, fields=fields, limit=L,
            resume_key=resume,
        ).collect()
        pages.append(page)
        if len(page) < L:
            break
        resume = (page[-1].urlkey, page[-1].timestamp)

    stitched = [tuple(r) for p in pages for r in p]
    want = sorted(
        tuple(r)
        for r in cdx_query_zipnum(
            spark, d, url, match_type=mt, fields=fields
        ).collect()
    )
    assert sorted(stitched) == want
    assert len(stitched) == len(set(stitched)), "pages must not overlap"
    assert len(pages) >= 3, "fixture should need several pages"

    # the resumed request touches strictly fewer blocks
    blocks = _load_idx(d)
    lo, hi = "org,example,src1", "org,example,src1~"
    assert resume is not None
    n_full = len(_prune(blocks, lo, hi))
    n_resumed = len(_prune(blocks, max(lo, resume[0]), hi))
    assert n_resumed < n_full


def test_incremental_host_stats_maintenance(spark, sf_dir):
    """IVM over epochs: per-epoch partials compute ONCE (a second
    maintenance pass scans zero epochs; a new epoch costs exactly one
    scan), the merged report equals a full recompute, and compaction
    resets cleanly."""
    import tempfile

    from webarchive_indexing_spark.queries.cdx_surface import _zipnum_input
    from webarchive_indexing_spark.sinks.stats import (
        compute_host_stats,
        materialize_host_stats,
        merged_host_stats,
    )
    from webarchive_indexing_spark.sinks.zipnum import (
        compact_zipnum_epochs,
        read_zipnum_epochs,
        reserve_epoch_id,
        write_zipnum_epoch,
    )

    with tempfile.TemporaryDirectory() as d:
        out = f"{d}/idx"
        full = _zipnum_input(spark, sf_dir)
        b0 = full.filter(F.col("status") == 200)
        b1 = full.filter(F.col("status") != 200)
        write_zipnum_epoch(b0, out, reserve_epoch_id(out, "batch:0"),
                           shards=2, numlines=200)
        assert materialize_host_stats(spark, out) == 1

        def as_map(df):
            return {
                r.host: (r.n_captures, r.total_bytes, r.first_ts, r.last_ts)
                for r in df.collect()
            }

        want0 = as_map(compute_host_stats(read_zipnum_epochs(spark, out)))
        assert as_map(merged_host_stats(spark, out)) == want0

        # second epoch: maintenance scans ONLY the new epoch
        write_zipnum_epoch(b1, out, reserve_epoch_id(out, "batch:1"),
                           shards=2, numlines=200)
        assert materialize_host_stats(spark, out) == 1
        assert materialize_host_stats(spark, out) == 0  # idempotent
        want = as_map(compute_host_stats(read_zipnum_epochs(spark, out)))
        assert as_map(merged_host_stats(spark, out)) == want

        # compaction: merged epoch needs one fresh partial, report holds
        compact_zipnum_epochs(spark, out, shards=2, numlines=200)
        assert materialize_host_stats(spark, out) == 1
        assert as_map(merged_host_stats(spark, out)) == want


def test_loc_multi_location_failover(spark, cdx):
    """pywb multi-location ``cluster.loc`` [U pywb zipnum loc]: the
    writer emits ``shard<TAB>primary<TAB>replica`` when given
    ``replica_dirs``; the ranged reader falls back to the first
    AVAILABLE location, so a missing primary shard file does not fail
    the read — and single-path loc files still parse identically."""
    import shutil

    from webarchive_indexing_spark.sinks.zipnum import _fs_for, _read_loc

    d = tempfile.mkdtemp(prefix="zipnum_primary_")
    rep = tempfile.mkdtemp(prefix="zipnum_replica_")
    write_zipnum(cdx, d, shards=SHARDS, numlines=NUMLINES, replica_dirs=[rep])

    # loc carries the multi-path form
    fs, local = _fs_for(d)
    loc = _read_loc(fs, local)
    assert all(len(paths) == 2 for paths in loc.values())

    # populate the replica, then break the primary's first shard
    names = sorted(loc)
    for s in names:
        shutil.copy(os.path.join(d, s), os.path.join(rep, s))
    expected = sorted(
        map(tuple, read_zipnum(spark, d).select("urlkey", "timestamp").collect())
    )
    os.remove(os.path.join(d, names[0]))
    got = sorted(
        map(tuple, read_zipnum(spark, d).select("urlkey", "timestamp").collect())
    )
    assert got == expected

    # with the replica shard ALSO gone, the read fails loudly
    os.remove(os.path.join(rep, names[0]))
    with pytest.raises(Exception):
        read_zipnum(spark, d).count()


def test_cdxj_cluster_reads_identically_through_pages_api(spark, cdx):
    """Review fix (round 6): the batch paging API must parse the same
    wire formats as the per-request readers — a CDXJ-format cluster
    read through read_zipnum_pages equals the ranged read, row for
    row (it previously mis-split the JSON tail positionally)."""
    from webarchive_indexing_spark.sinks.zipnum import (
        read_zipnum,
        read_zipnum_pages,
    )

    d = tempfile.mkdtemp(prefix="zipnum_cdxj_pages_")
    write_zipnum(cdx, d, shards=SHARDS, numlines=NUMLINES, line_format="cdxj")
    lo, hi = "org,example,src2", "org,example,src2~"
    a = sorted(
        map(
            tuple,
            read_zipnum_pages(spark, d, key_lo=lo, key_hi=hi).drop("page").collect(),
        )
    )
    b = sorted(map(tuple, read_zipnum(spark, d, key_lo=lo, key_hi=hi).collect()))
    assert a == b and a


def test_as_of_epoch_snapshot_reads(spark, tmp_path):
    """Iceberg-style time travel on the epoch LSM: as_of_epoch=N must
    reproduce exactly what a reader saw right after epoch N landed —
    later ingests and later TAKEDOWNS invisible, and a compaction
    NEWER than the snapshot must not substitute its merged view for
    the original inputs."""
    from webarchive_indexing_spark.sinks.zipnum import (
        compact_zipnum_epochs,
        read_zipnum_epochs,
        reserve_epoch_id,
        write_tombstone_epoch,
        write_zipnum_epoch,
    )

    root = str(tmp_path / "lsm")

    def rows(n0, n1):
        return spark.range(n0, n1).selectExpr(
            "concat('com,example)/p/', lpad(cast(id as string), 4, '0')) AS urlkey",
            "concat('2015', lpad(cast(id % 12 + 1 as string), 2, '0'), '01000000') AS timestamp",
            "'https://example.com/' AS url", "'text/html' AS mime",
            "200 AS status", "md5(cast(id as string)) AS digest",
            "cast(NULL as string) AS redirect",
            "cast(NULL as string) AS robotflags",
            "1000 AS length", "id * 10 AS offset", "'f.warc.gz' AS filename",
        )

    write_zipnum_epoch(rows(0, 40), root, reserve_epoch_id(root, "batch:0"),
                       shards=2, numlines=10)
    write_zipnum_epoch(rows(40, 70), root, reserve_epoch_id(root, "batch:1"),
                       shards=2, numlines=10)
    td = spark.createDataFrame(
        [("com,example)/p/0005", None)], "urlkey string, timestamp string"
    )
    write_tombstone_epoch(td, root, "t:0")  # epoch 2

    assert read_zipnum_epochs(spark, root, as_of_epoch=0).count() == 40
    assert read_zipnum_epochs(spark, root, as_of_epoch=1).count() == 70
    assert read_zipnum_epochs(spark, root, as_of_epoch=2).count() == 69
    assert read_zipnum_epochs(spark, root).count() == 69

    # retained compaction lands as epoch 3; snapshots 0-2 must be
    # unchanged (resurrecting the original inputs, not the merge)
    compact_zipnum_epochs(spark, root, shards=2, numlines=10,
                          retain_inputs=True)
    assert read_zipnum_epochs(spark, root, as_of_epoch=0).count() == 40
    assert read_zipnum_epochs(spark, root, as_of_epoch=1).count() == 70
    # snapshot at the compaction point equals the latest view
    assert read_zipnum_epochs(spark, root, as_of_epoch=3).count() == 69
    assert read_zipnum_epochs(spark, root).count() == 69

    # expire reclaims the retained inputs; pre-merge snapshots are
    # gone, the current view is untouched
    from webarchive_indexing_spark.sinks.zipnum import expire_snapshots

    # keep_last retains the NEWEST subsumed epochs: with keep_last=2
    # only the oldest input reclaims; snapshots over the survivors
    # stay readable (rolling retention)
    assert expire_snapshots(root, keep_last=2) == ["epoch-000000"]
    # epoch 0 is gone, so these snapshots now cover epoch 1 only
    # (tombstoned p/0005 lived in epoch 0 — nothing to hide here)
    assert read_zipnum_epochs(spark, root, as_of_epoch=1).count() == 30
    assert read_zipnum_epochs(spark, root, as_of_epoch=2).count() == 30
    # a full expire then reclaims the rest
    assert sorted(expire_snapshots(root)) == [
        "epoch-000001", "epoch-000002"
    ]
    assert read_zipnum_epochs(spark, root).count() == 69
    assert read_zipnum_epochs(spark, root, as_of_epoch=1).count() == 0


def test_lsm_snapshot_model_randomized(spark, tmp_path):
    """Model-based check of the epoch LSM + snapshots: a seeded random
    sequence of ingest / takedown / retained-compaction operations is
    replayed against a pure-Python reference model, then EVERY
    snapshot id (and the latest view) must return exactly the model's
    visible row set.  This pins the interaction space the
    scenario tests sample point-wise: tombstones across compactions,
    compactions subsuming tombstone-only epochs, snapshots straddling
    all of it."""
    import random

    from webarchive_indexing_spark.sinks.zipnum import (
        compact_zipnum_epochs,
        read_zipnum_epochs,
        reserve_epoch_id,
        write_tombstone_epoch,
        write_zipnum_epoch,
    )

    def run_scenario(seed, root):
        rng = random.Random(seed)
        # model: epoch id -> ("data", rows) | ("tomb", keys) |
        #        ("compact", rows, tombs, subsumed_ids)
        epochs = {}
        next_key = [0]

        def visible(as_of=None):
            # live = epochs minus those subsumed by a compaction <= as_of
            ids = [i for i in sorted(epochs) if as_of is None or i <= as_of]
            dead = set()
            for i in ids:
                if epochs[i][0] == "compact":
                    dead |= epochs[i][3]
            live = [i for i in ids if i not in dead]
            rows, tombs = set(), set()
            for i in live:
                kind = epochs[i][0]
                if kind == "data":
                    rows |= epochs[i][1]
                elif kind == "tomb":
                    tombs |= set(epochs[i][1])
                else:
                    rows |= epochs[i][1]
                    tombs |= set(epochs[i][2])
            wild = {k for k, ts in tombs if ts is None}
            exact = {(k, ts) for k, ts in tombs if ts is not None}
            return {
                (k, ts)
                for k, ts in rows
                if k not in wild and (k, ts) not in exact
            }

        def ingest():
            lo = next_key[0]
            n = rng.randint(5, 15)
            next_key[0] += n
            rows = {
                (f"com,example)/p/{i:05d}", f"2015{i % 12 + 1:02d}01000000")
                for i in range(lo, lo + n)
            }
            df = spark.createDataFrame(
                [
                    (k, ts, "https://e/", "text/html", 200, "d", None, None,
                     10, 0, "f.warc.gz")
                    for k, ts in sorted(rows)
                ],
                "urlkey string, timestamp string, url string, mime string, "
                "status int, digest string, redirect string, "
                "robotflags string, length long, offset long, filename string",
            )
            eid = reserve_epoch_id(root, f"batch:{len(epochs)}")
            write_zipnum_epoch(df, root, eid, shards=2, numlines=5)
            epochs[eid] = ("data", rows)

        def takedown():
            pool = sorted(visible())
            if not pool:
                return
            picks = rng.sample(pool, min(len(pool), rng.randint(1, 4)))
            keys = [
                (k, None if rng.random() < 0.5 else ts) for k, ts in picks
            ]
            df = spark.createDataFrame(keys, "urlkey string, timestamp string")
            eid = write_tombstone_epoch(df, root, f"t:{len(epochs)}")
            epochs[eid] = ("tomb", keys)

        def compact():
            if not any(kind == "data" for kind, *_ in epochs.values()):
                return
            dead = set()
            for i in sorted(epochs):
                if epochs[i][0] == "compact":
                    dead |= epochs[i][3]
            live = {i for i in epochs if i not in dead}
            rows = visible()
            tombs = set()
            for i in live:
                if epochs[i][0] == "tomb":
                    tombs |= set(epochs[i][1])
                elif epochs[i][0] == "compact":
                    tombs |= set(epochs[i][2])
            compact_zipnum_epochs(spark, root, shards=2, numlines=5,
                                  retain_inputs=True)
            eid = max(
                int(p.rsplit("-", 1)[1])
                for p in __import__("os").listdir(root)
                if p.startswith("epoch-")
            )
            epochs[eid] = ("compact", rows, tombs, live)

        ingest()  # guarantee a first epoch
        for _ in range(6):
            rng.choice([ingest, ingest, takedown, compact])()

        for as_of in [*sorted(epochs), None]:
            got = {
                (r["urlkey"], r["timestamp"])
                for r in read_zipnum_epochs(
                    spark, root, as_of_epoch=as_of
                ).collect()
            }
            assert got == visible(as_of), (seed, as_of)

    for seed in (7, 23):
        run_scenario(seed, str(tmp_path / f"lsm{seed}"))


def test_fast_latest_tail_probe_bounds_block_io(spark, tmp_path, monkeypatch):
    """fastLatest's doubling tail probe must touch O(N/numlines)
    blocks, not the whole range — the entire point of the feature —
    and still return exactly the last N rows."""
    from webarchive_indexing_spark.sinks import zipnum as zp

    rows = spark.range(200).selectExpr(
        "concat('com,example)/p/', lpad(cast(id as string), 4, '0')) AS urlkey",
        "concat('2015', lpad(cast(id % 12 + 1 as string), 2, '0'), '01000000') AS timestamp",
        "'https://e/' AS url", "'text/html' AS mime", "200 AS status",
        "md5(cast(id as string)) AS digest",
        "cast(NULL as string) AS redirect", "cast(NULL as string) AS robotflags",
        "10 AS length", "id AS offset", "'f.warc.gz' AS filename",
    )
    out = str(tmp_path / "cl")
    zp.write_zipnum(rows, out, shards=2, numlines=5)  # 40 blocks

    touched = []
    real = zp._read_blocks

    def spy(spark_, out_dir, blocks):
        touched.append(len(blocks))
        return real(spark_, out_dir, blocks)

    monkeypatch.setattr(zp, "_read_blocks", spy)
    df = zp.read_zipnum_tail(spark, out, 6)
    got = sorted(r["urlkey"] for r in df.collect())[-6:]
    assert got == [f"com,example)/p/{i:04d}" for i in range(194, 200)]
    # informed probe: 1 block (5 rows < 6) then the rows-per-block
    # estimate jumps straight to ceil(6·1/5)+1 = 3 blocks — never 40
    assert touched == [1, 3], touched

    # the whole-range fallback: the estimate from probe 1 jumps to the
    # full block list in ONE step — two jobs total
    touched.clear()
    assert zp.read_zipnum_tail(spark, out, 10_000).count() == 200
    assert touched == [1, 40], touched

    # page= and fast_latest are alternative paging schemes: passing
    # both refuses (page= would otherwise win and silently ignore
    # fast_latest), same contract as page+resume_key
    import pytest as _pytest

    from webarchive_indexing_spark.operators.cdx_query import (
        cdx_query_zipnum,
    )

    with _pytest.raises(ValueError, match="alternative paging"):
        cdx_query_zipnum(
            spark, out, "https://example.com/", match_type="domain",
            page=0, fast_latest=True, limit=-3,
        )


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture
def read_path(spark, monkeypatch):
    """Force ``_lines_frame``'s choice: ``read_path("driver")`` makes
    every block set small enough for the driver read,
    ``read_path("distributed")`` makes every set of 2+ blocks take the
    distributed read (the bound is the session's defaultParallelism)."""
    sc_type = type(spark.sparkContext)

    def force(path: str) -> None:
        n = 10**9 if path == "driver" else 1
        monkeypatch.setattr(sc_type, "defaultParallelism", property(lambda self: n))

    return force


@pytest.mark.parametrize("line_format", ["cdx", "cdxj"])
def test_driver_read_equals_distributed_read(spark, cdx, read_path, line_format):
    """A block set read on the driver (Arrow local relation) gives the
    same typed rows as the distributed ranged read of the same range,
    on a classic and a CDXJ cluster — and each path really ran."""
    from webarchive_indexing_spark.sinks.zipnum import _prune, read_zipnum_pages

    d = tempfile.mkdtemp(prefix=f"zipnum_paths_{line_format}_")
    write_zipnum(cdx, d, shards=SHARDS, numlines=NUMLINES, line_format=line_format)
    lo, hi = "org,example,src1", "org,example,src1~"
    assert len(_prune(_load_idx(d), lo, hi)) >= 2

    got = {}
    for path in ("driver", "distributed"):
        read_path(path)
        df = read_zipnum(spark, d, key_lo=lo, key_hi=hi)
        plan = _executed_plan(df)
        assert ("LocalTableScan" in plan) == (path == "driver"), plan
        assert ("ExistingRDD" in plan) == (path == "distributed"), plan
        pages = read_zipnum_pages(spark, d, key_lo=lo, key_hi=hi, page_size=2)
        got[path] = (
            df.schema,
            sorted(map(tuple, df.collect())),
            pages.schema,
            sorted(map(tuple, pages.collect())),
        )
    assert got["driver"] == got["distributed"]
    assert got["driver"][1], "range read returned nothing"
    want = cdx.filter((F.col("urlkey") >= lo) & (F.col("urlkey") < hi))
    assert got["driver"][1] == sorted(map(tuple, want.collect()))


def test_driver_read_replica_failover(spark, cdx, read_path):
    """The driver read keeps ``cluster.loc`` failover: a missing
    primary shard falls back to its replica; with both gone the read
    raises."""
    import shutil

    from webarchive_indexing_spark.sinks.zipnum import _fs_for, _read_loc

    d = tempfile.mkdtemp(prefix="zipnum_drv_primary_")
    rep = tempfile.mkdtemp(prefix="zipnum_drv_replica_")
    write_zipnum(cdx, d, shards=SHARDS, numlines=NUMLINES, replica_dirs=[rep])
    fs, local = _fs_for(d)
    names = sorted(_read_loc(fs, local))
    for s in names:
        shutil.copy(os.path.join(d, s), os.path.join(rep, s))
    read_path("driver")
    expected = sorted(map(tuple, read_zipnum(spark, d).collect()))
    os.remove(os.path.join(d, names[0]))
    df = read_zipnum(spark, d)
    assert "LocalTableScan" in _executed_plan(df)
    assert sorted(map(tuple, df.collect())) == expected

    os.remove(os.path.join(rep, names[0]))
    with pytest.raises(OSError):
        read_zipnum(spark, d)


def _prune_linear(blocks, lo, hi):
    """The scan ``_prune`` replaced — the reference rule its bisection
    must reproduce."""
    out = []
    for i, b in enumerate(blocks):
        nxt = blocks[i + 1].urlkey if i + 1 < len(blocks) else None
        if hi is not None and b.urlkey >= hi:
            continue
        if lo is not None and nxt is not None and nxt < lo:
            continue
        out.append(b)
    return out


def test_prune_bisection_equals_linear_rule():
    """``_prune``'s two bisections keep exactly the blocks of the
    linear intersect rule, on random sorted block lists (repeated
    first keys included — one urlkey can span blocks) and ranges."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from webarchive_indexing_spark.sinks.zipnum import _Block, _prune

    key = st.text(alphabet="abc~", max_size=3)

    @settings(max_examples=300, deadline=None)
    @given(st.lists(key, max_size=12), st.none() | key, st.none() | key)
    def prop(keys, lo, hi):
        blocks = [_Block(k, "", "cdx-00000.gz", i, 1) for i, k in enumerate(sorted(keys))]
        assert _prune(blocks, lo, hi) == _prune_linear(blocks, lo, hi)

    prop()


def test_show_num_pages_runs_no_job(spark, cluster):
    """showNumPages is answered from cluster.idx into an Arrow local
    relation: collecting it starts no Spark job."""
    from webarchive_indexing_spark.operators.cdx_query import (
        _query_prune_range,
        cdx_query_zipnum,
    )
    from webarchive_indexing_spark.sinks.zipnum import num_pages

    d, _ = cluster
    sc = spark.sparkContext
    url = "https://src1.example.org/"
    df = cdx_query_zipnum(spark, d, url, match_type="domain", show_num_pages=True)
    sc.setJobGroup("show_num_pages_probe", "showNumPages")
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("show_num_pages_probe") == []
    _, _, lo, hi = _query_prune_range(url, "domain", {})
    want = num_pages(d, key_lo=lo, key_hi=hi)
    assert [tuple(r) for r in rows] == [(want,)] and want > 0


def test_arrow_frame_keeps_rows_after_empty_batch(spark):
    """pyspark 4.1.2 drops every row after the first zero-length
    record batch of an Arrow table; the one hand-off combines chunks,
    so a table built from batches of 1, 0 and 2 rows keeps all 3."""
    import pyarrow as pa

    from webarchive_indexing_spark.sinks.zipnum import arrow_frame

    schema = pa.schema([("a", pa.int64())])
    table = pa.Table.from_batches(
        [pa.record_batch([pa.array(v, pa.int64())], schema=schema)
         for v in ([1], [], [2, 3])]
    )
    assert sorted(r.a for r in arrow_frame(spark, table).collect()) == [1, 2, 3]


def test_driver_read_lookups_run_one_job(spark, cluster, read_path, py4j_calls):
    """Every cdx-server request shape of the benchmark, served from a
    block set read on the driver, runs at most one Spark job with no
    Exchange in its plan (the one-partition local relation satisfies
    every sort and window above it), and planning one lookup costs a
    bounded number of py4j calls (one parsed statement, not a run of
    round trips per ``Column`` expression)."""
    from webarchive_indexing_spark.operators.cdx_query import cdx_query_zipnum

    d, _ = cluster
    read_path("driver")
    sc = spark.sparkContext
    page = "https://src1.example.org/doc/101"
    shapes = {
        "exact": (page, {}),
        "closest": (page, {"closest": "20160601", "limit": 1}),
        "from_to": (page, {"from_": "2015", "to": "2017", "filters": ["status:200"]}),
        "fuzzy": (page + "?_cb=123", {"fuzzy": True}),
        "prefix": ("https://src1.example.org/doc/1", {"match_type": "prefix", "limit": 25}),
        "domain": ("https://src1.example.org/", {"match_type": "domain", "collapse": "urlkey"}),
        "page": ("https://src1.example.org/", {"match_type": "domain", "page": 0}),
    }
    for kind, (url, params) in shapes.items():
        with py4j_calls() as calls:
            df = cdx_query_zipnum(spark, d, url, **params)
        assert calls.n <= 80, (kind, calls.n)
        group = f"one_job_probe_{kind}"
        sc.setJobGroup(group, kind)
        try:
            rows = df.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert rows, kind
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert len(jobs) <= 1, (kind, jobs)
        plan = _executed_plan(df)
        assert "Exchange" not in plan, (kind, plan)
