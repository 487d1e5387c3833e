"""ZipNum sharded cluster sink + block-pruning reader (SURVEY.md §1.1,
§2.1 S6, §3.2-3.3).

The queryable artifact of the reference pipeline [U zipnumclusterjob
.py reducer ~L90-200]: N shard files ``cdx-NNNNN.gz``, each a
concatenation of independent gzip members of ``numlines`` CDX lines;
a plain-text secondary index ``cluster.idx`` with one line per block
(``urlkey \\t timestamp \\t shard \\t offset \\t length`` = first key of
the block + its byte extent); and a ``.loc`` file mapping shard name →
path.  Lookup cost: O(log #blocks) on the secondary index + decompress
only the matching blocks.

Spark-first shape (§3.2): the reference needed THREE Hadoop jobs —
sample split points, total-order shuffle with TotalOrderPartitioner,
and a reducer that builds blocks.  Here it is ONE job:
``repartitionByRange(shards)`` (Spark's RangePartitioner reservoir-
samples bounds internally — the entire SampleCDXJob [U samplecdxjob
.py] is subsumed) → ``sortWithinPartitions`` → a partition-local
writer that gzips blocks and RETURNS the secondary index as a
DataFrame (byte offsets exist only inside the writer — keeping the
index a return value keeps the whole pipeline declarative).

At 100 TB: one shuffle of the CDX lines, sized by ``shards``; the
writer streams — O(numlines) memory per task; no driver collection.

Serving cost model (the read side): a request bisects ``cluster.idx``
for its block run, then reads those blocks with positioned ranged
reads + gunzip (``_block_lines``).  Where the run is at most
``defaultParallelism`` blocks — every single cdx-server lookup — the
distributed read would run about one block per task and buy no
parallelism, only the fixed start-up cost of a Python-worker job
(~0.2-0.3 s per task on a 4-core host).  So those blocks are read on
the driver and handed to Spark as an Arrow table (a
``LocalTableScan``: no job until the caller's own action), as one
partition, so the lookup's sorts and windows plan no Exchange and it
runs one single-task job; longer runs keep the distributed
``mapPartitions`` read.  Metadata-sized frames (page counts,
paged-index rows, tombstone lists, empty ranges) go through the same
Arrow local relation — a list-of-tuples ``createDataFrame`` would
cost a Python-worker job of its own.  The typed parse is one
``selectExpr`` (``sources.cdx``), the key filter one parsed predicate
and the lookup's residual pipeline one SQL statement
(``operators.cdx_query``), so planning a lookup is about 50 py4j
calls, not a few thousand.

IO goes through ``pyarrow.fs`` resolved from the path URI, NOT bare
``open()``: executors have no JVM gateway, so Python-side object-store
access is Arrow's C++ filesystems — ``file://``, ``s3://`` (ranged
GETs for block reads, multipart for shard writes), ``hdfs://`` via
libhdfs.  A scheme-less path means the local filesystem; ``s3a://``
(the Hadoop spelling) is normalized to ``s3://``.
"""

from __future__ import annotations

import bisect
import operator
import posixpath
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.cdx import parse_cdx_lines, to_cdx_lines
from ..sqltext import sql_key_range


def _fs_for(path: str):
    """(FileSystem, fs-local path) for a URI or plain local path —
    callable on driver AND executors (no JVM involved)."""
    from pyarrow import fs as pafs

    if path.startswith("s3a://"):
        path = "s3://" + path[len("s3a://"):]
    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def _join(base: str, *parts: str) -> str:
    return posixpath.join(base.rstrip("/"), *parts)


LINE_SCHEMA = T.StructType([T.StructField("value", T.StringType())])

IDX_SCHEMA = T.StructType(
    [
        T.StructField("urlkey", T.StringType()),
        T.StructField("timestamp", T.StringType()),
        T.StructField("shard", T.StringType()),
        T.StructField("offset", T.LongType()),
        T.StructField("length", T.LongType()),
    ]
)


def _write_shard(out_dir: str, numlines: int):
    """Partition writer: lines (pre-sorted) → gzip-member blocks
    appended to one shard file; yields one secondary-index tuple per
    block.  Streamed: holds ≤ numlines lines in memory."""

    def fn(pid: int, rows):
        import gzip

        shard = f"cdx-{pid:05d}.gz"
        fs, path = _fs_for(_join(out_dir, shard))
        buf: list[str] = []
        first_key: tuple[str, str] | None = None
        offset = 0
        out = None
        try:
            for row in rows:
                line = row[0]
                if not buf:
                    k = line.split(" ", 2)
                    first_key = (k[0], k[1] if len(k) > 1 else "")
                buf.append(line)
                if len(buf) == numlines:
                    if out is None:
                        # compression=None: members are gzipped here;
                        # Arrow must not re-wrap based on .gz suffix
                        out = fs.open_output_stream(path, compression=None)
                    member = gzip.compress(
                        ("\n".join(buf) + "\n").encode("utf-8"), mtime=0
                    )
                    out.write(member)
                    yield (*first_key, shard, offset, len(member))
                    offset += len(member)
                    buf = []
            if buf:
                if out is None:
                    out = fs.open_output_stream(path, compression=None)
                member = gzip.compress(("\n".join(buf) + "\n").encode("utf-8"), mtime=0)
                out.write(member)
                yield (*first_key, shard, offset, len(member))
        finally:
            if out is not None:
                out.close()

    return fn


def _prepare_dir(out_dir: str):
    """Create the target dir and drop artifacts of any previous build
    (overwrite semantics: a re-run with fewer shards must leave no
    stale cdx-*.gz behind)."""
    import re

    from pyarrow import fs as pafs

    fs, local_dir = _fs_for(out_dir)
    fs.create_dir(local_dir, recursive=True)
    for info in fs.get_file_info(pafs.FileSelector(local_dir, allow_not_found=True)):
        if re.fullmatch(r"cdx-\d{5}\.gz|cluster\.(idx|loc)", info.base_name):
            fs.delete_file(info.path)
    return fs, local_dir


def _read_loc(fs, local_dir: str) -> dict[str, list[str]]:
    """Parse ``cluster.loc``: ``shard<TAB>path[<TAB>path2...]`` —
    pywb's loc format allows MULTIPLE replica locations per shard for
    failover [U pywb zipnum loc]; single-path files parse to
    one-element lists so both forms read through the same map."""
    with fs.open_input_stream(
        _join(local_dir, "cluster.loc"), compression=None
    ) as fh:
        out: dict[str, list[str]] = {}
        for line in fh.read().decode("utf-8").splitlines():
            parts = line.split("\t")
            if len(parts) >= 2:
                out[parts[0]] = parts[1:]
        return out


def _open_first_available(paths: list[str]):
    """Open the first reachable replica of a shard (executor-side
    failover: a missing/unreachable primary falls through to the next
    location; only when every replica fails does the task error)."""
    last: Exception | None = None
    for p in paths:
        try:
            bfs, bpath = _fs_for(p)
            return bfs.open_input_file(bpath)
        except (OSError, FileNotFoundError) as e:  # includes ArrowIOError
            last = e
    raise last if last is not None else FileNotFoundError("empty loc entry")


def write_zipnum(
    cdx: DataFrame,
    out_dir: str,
    *,
    shards: int = 8,
    numlines: int = 3000,
    replica_dirs: list[str] | None = None,
    line_format: str = "cdx",
) -> DataFrame:
    """Build a ZipNum cluster from a (typed) CDX DataFrame; returns the
    secondary index as a DataFrame and writes ``cluster.idx`` +
    ``cluster.loc`` beside the shard files.

    The secondary index never touches the driver: the shard-writing map
    stage feeds a repartition(1)+sort text write of ``cluster.idx`` (at
    10^9 captures / 3000-line blocks that is ~333k rows — one task, but
    ~25 MB through an executor instead of the driver heap), which is
    then renamed into place.  The whole build is ONE job; the returned
    index DataFrame re-reads the written file, so later actions on it
    never re-trigger the side-effecting shard writes."""
    fs, local_dir = _prepare_dir(out_dir)

    to_lines = _line_writer(line_format)
    lines = to_lines(
        cdx.repartitionByRange(shards, "urlkey", "timestamp").sortWithinPartitions(
            "urlkey", "timestamp"
        )
    )
    idx_rdd = lines.rdd.mapPartitionsWithIndex(_write_shard(out_dir, numlines))
    return _finalize_zipnum(
        cdx.sparkSession, fs, out_dir, local_dir, idx_rdd, replica_dirs
    )


def write_zipnum_ordered(
    cdx: DataFrame,
    out_dir: str,
    *,
    shards: int = 8,
    numlines: int = 3000,
    replica_dirs: list[str] | None = None,
    line_format: str = "cdx",
) -> DataFrame:
    """``write_zipnum`` with DETERMINISTIC shard bounds: exact global
    ranks (two-pass, operators.global_rank) replace the sampled
    RangePartitioner — the faithful successor of the reference's
    sampled-split-points file + TotalOrderPartitioner contract
    [U samplecdxjob.py → zipnumclusterjob.py], and it makes every
    block's first key / line allotment reproducible, so the build is
    oracle-checkable (queries.cdx_surface.zipnum_build_index).

    Costs one extra pass over the lines vs the sampled variant; shard
    sizes are exactly balanced (NTILE allotment).  Sorting rides the
    shuffle itself (repartitionAndSortWithinPartitions — spill-backed,
    nothing is held in memory)."""
    from ..operators.global_rank import exact_ntile

    fs, local_dir = _prepare_dir(out_dir)
    lines = _line_writer(line_format)(cdx)
    tiles = exact_ntile(lines, ["value"], shards, tile_col="shard")
    part = (
        tiles.rdd.map(lambda r: ((r["shard"] - 1, r["value"]), None))
        .repartitionAndSortWithinPartitions(shards, lambda k: k[0])
        .map(lambda kv: (kv[0][1],), preservesPartitioning=True)
    )
    idx_rdd = part.mapPartitionsWithIndex(_write_shard(out_dir, numlines))
    return _finalize_zipnum(
        cdx.sparkSession, fs, out_dir, local_dir, idx_rdd, replica_dirs
    )


def _finalize_zipnum(
    spark, fs, out_dir: str, local_dir: str, idx_rdd,
    replica_dirs: list[str] | None = None,
) -> DataFrame:
    """Common tail: distributed single-file ``cluster.idx`` write +
    rename, ``cluster.loc`` from the filesystem listing, and the
    read-back index DataFrame."""
    import re

    from pyarrow import fs as pafs

    idx = spark.createDataFrame(idx_rdd, IDX_SCHEMA)

    tmp = _join(out_dir, "_cluster_idx_tmp")
    (
        # repartition(1), NOT coalesce(1): coalesce would fuse the
        # shard-writing map stage into the single reduce task and
        # serialize every shard write; the shuffle barrier keeps the
        # writers wide and moves only the tiny index rows.
        idx.repartition(1)
        .sortWithinPartitions("urlkey", "timestamp", "shard", "offset")
        .select(
            F.concat_ws(
                "\t",
                "urlkey",
                "timestamp",
                "shard",
                F.col("offset").cast("string"),
                F.col("length").cast("string"),
            ).alias("value")
        )
        .write.mode("overwrite")
        .text(tmp)
    )
    _, tmp_local = _fs_for(tmp)
    part = next(
        i.path
        for i in fs.get_file_info(pafs.FileSelector(tmp_local))
        if i.base_name.startswith("part-")
    )
    fs.move(part, _join(local_dir, "cluster.idx"))
    fs.delete_dir(tmp_local)

    # shard names come from the filesystem (the writer only creates
    # cdx-*.gz for non-empty partitions) — no data motion needed.
    shard_names = sorted(
        i.base_name
        for i in fs.get_file_info(pafs.FileSelector(local_dir))
        if re.fullmatch(r"cdx-\d{5}\.gz", i.base_name)
    )
    # multi-path form when replicas are given: shard<TAB>primary[<TAB>replica...]
    with fs.open_output_stream(_join(local_dir, "cluster.loc"), compression=None) as fh:
        for s in shard_names:
            paths = [_join(out_dir, s)] + [
                _join(rd, s) for rd in (replica_dirs or [])
            ]
            fh.write(("\t".join([s] + paths) + "\n").encode())

    return (
        spark.read.schema(IDX_SCHEMA)
        .options(sep="\t", quote="", lineSep="\n")
        .csv(_join(out_dir, "cluster.idx"))
    )


@dataclass
class _Block:
    urlkey: str
    timestamp: str
    shard: str
    offset: int
    length: int


def _load_idx(out_dir: str) -> list[_Block]:
    fs, local_dir = _fs_for(out_dir)
    blocks: list[_Block] = []
    with fs.open_input_stream(_join(local_dir, "cluster.idx"), compression=None) as fh:
        for line in fh.read().decode("utf-8").splitlines():
            uk, ts, shard, off, ln = line.split("\t")
            blocks.append(_Block(uk, ts, shard, int(off), int(ln)))
    return blocks


def _prune(blocks: list[_Block], lo: str | None, hi: str | None) -> list[_Block]:
    """Keep blocks whose key range [first_key_i, first_key_{i+1})
    intersects [lo, hi) — the reader-side binary search (§3.3).

    ``blocks`` is in cluster.idx order (first keys non-decreasing), so
    the kept blocks are one contiguous run: it ends before the first
    block whose first key is ``>= hi`` and starts one block BEFORE the
    first block whose first key is ``>= lo`` — '<' not '<=' on the
    successor: a block whose successor STARTS at lo can still contain
    keys in [lo, nxt).  Two bisections, O(log #blocks)."""
    first_key = operator.attrgetter("urlkey")
    start, end = 0, len(blocks)
    if lo is not None:
        start = max(bisect.bisect_left(blocks, lo, key=first_key) - 1, 0)
    if hi is not None:
        end = bisect.bisect_left(blocks, hi, key=first_key)
    return blocks[start:end]


def _line_writer(line_format: str):
    """line_format → lines serializer.  "cdx" = classic 11-field;
    "cdxj" = the ``urlkey ts {json}`` form the real Common Crawl
    cluster stores (both sort identically on the leading
    ``urlkey ts`` prefix, so every block/prune invariant holds)."""
    from ..sources.cdx import to_cdxj_lines

    if line_format == "cdx":
        return to_cdx_lines
    if line_format == "cdxj":
        return to_cdxj_lines
    raise ValueError(f"unknown line_format {line_format!r}")


def local_frame(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """Driver-held rows → DataFrame through an Arrow table
    (``arrow_frame``).  It plans
    as a ``LocalTableScan`` and runs no job of its own; a
    list-of-tuples ``createDataFrame`` instead plans an RDD scan whose
    first action is a Python-worker job (~0.35 s for one row on a
    4-core host)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return arrow_frame(spark, table, schema)


def arrow_frame(spark: SparkSession, table, schema: T.StructType | None = None) -> DataFrame:
    """The one Arrow hand-off: a driver-held ``pyarrow.Table`` →
    DataFrame (a ``LocalTableScan``, no job of its own); ``schema``
    defaults to the one Spark derives from the table's Arrow types.

    The table is combined into a single chunk first.  On pyspark 4.1.2
    ``createDataFrame(pa.Table)`` silently drops every row after the
    first zero-length record batch — batches of 1, 0 and 2 rows give a
    1-row frame — and a filtered ``pyarrow.dataset`` read produces such
    empty batches whenever a file has no matching row."""
    return spark.createDataFrame(table.combine_chunks(), schema)


def _driver_read_bytes(spark: SparkSession) -> int:
    """Largest read, in parquet file bytes, that a graph walk's
    frontier or an ANN probe's cells take on the driver:
    ``spark.sql.files.maxPartitionBytes``, the most the session ever
    gives one scan task.  The distributed read splits a read this size
    over the cores, so the driver reads more than any one task would;
    the bound only caps that read.

    It is not a time crossover.  The driver's peak memory grows with
    the read: for a walk, +0.37 GB at 256 MB over 16 files and +0.9 GB
    at 128 MB in one file (64-dim vectors, degree 12).  A probe scores
    in fixed-size chunks with a running top-k, so its scoring holds one
    chunk plus k rows per request, whatever the read; what remains is
    pyarrow decoding one row group at a time.  Measured on a 4-core
    host at ~245 MB of probed cells: +0.30 GB and 8.6 s for a PQ probe
    over 45 M code rows (1 M-row row groups), +0.40 GB and 5.3 s for a
    flat cosine probe over 0.9 M unit 64-dim vectors (0.1 M-row row
    groups).  The Spark scan of the same cells took 15.9 s (PQ) and
    54 s (flat), so a probe reads on the driver up to this bound,
    except a PQ probe with a ``where`` (``ann_index._PQ_WHERE_BYTES``)."""
    return int(
        spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    )


def _block_lines(items):
    """The one block reader: work items ``(paths, offset, length[,
    tag...])`` → ``(tag..., line)`` rows, one per decompressed line.

    Runs on the driver for small block sets and inside
    ``mapPartitions`` for large ones.  One open file per distinct
    shard (blocks arrive key-sorted, so a batch usually touches 1-2
    shards), positioned ``read_at`` instead of seek+read — on S3 each
    read_at is exactly one ranged GET and the handle carries no cursor
    state.  ``paths`` is the shard's replica list: first-available
    failover."""
    import gzip

    handles: dict[tuple, object] = {}
    try:
        for paths, off, ln, *tag in items:
            fh = handles.get(paths)
            if fh is None:
                fh = handles[paths] = _open_first_available(list(paths))
            data = fh.read_at(ln, off)
            for line in gzip.decompress(data).decode("utf-8").splitlines():
                yield (*tag, line)
    finally:
        for fh in handles.values():
            fh.close()


def _lines_frame(
    spark: SparkSession,
    work: list[tuple],
    schema: T.StructType,
    parse: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """The ``work`` items' blocks as ``parse`` of their raw lines
    (``_block_lines`` rows, a DataFrame of ``schema``).

    At most ``defaultParallelism`` blocks are read right here on the
    driver into an Arrow local relation: the distributed read would
    run about one block per task, which buys no parallelism and costs
    a Python-worker job.  The driver then holds at most
    ``defaultParallelism`` decompressed blocks (``numlines`` lines
    each).  The parsed local relation is returned as ONE partition
    (``coalesce(1)``, no shuffle): every sort, window and global
    aggregate a lookup puts above it is then satisfied by
    ``SinglePartition`` and plans no Exchange, so the lookup runs one
    single-task job.  The parse projection sits below the coalesce and
    filters push through it, so the optimizer still folds the parse
    and the key filter into the local relation (``ConvertToLocalRelation``)
    and a lookup whose rows all fall outside its key range runs no job
    at all.  Larger block sets are read by a distributed
    ``mapPartitions`` over block batches."""
    n_slots = max(1, spark.sparkContext.defaultParallelism)
    if len(work) <= n_slots:
        return parse(local_frame(spark, list(_block_lines(work)), schema)).coalesce(1)
    rdd = spark.sparkContext.parallelize(work, n_slots).mapPartitions(_block_lines)
    return parse(spark.createDataFrame(rdd, schema))


def _block_work(out_dir: str, blocks: list[_Block]) -> list[tuple]:
    """``_block_lines`` work items for ``blocks``: (replica paths,
    offset, length), the paths from the cluster's ``cluster.loc``."""
    if not blocks:
        return []
    fs, local_dir = _fs_for(out_dir)
    loc = _read_loc(fs, local_dir)
    return [(tuple(loc[b.shard]), b.offset, b.length) for b in blocks]


def _read_blocks(spark: SparkSession, out_dir: str, blocks: list[_Block]) -> DataFrame:
    """Decompress exactly ``blocks`` (ranged reads; ``_lines_frame``
    picks the driver or the distributed read) → typed CDX DataFrame,
    unfiltered.  The mixed classic/CDXJ line parser types clusters in
    either (or both) formats."""
    from ..sources.cdx import parse_cdx_any_lines

    return _lines_frame(
        spark, _block_work(out_dir, blocks), LINE_SCHEMA, parse_cdx_any_lines
    )


def _range_filter(df: DataFrame, key_lo: str | None, key_hi: str | None) -> DataFrame:
    """The residual ``key_lo <= urlkey < key_hi`` as one parsed
    predicate (the boundary blocks hold out-of-range lines)."""
    if key_lo is None and key_hi is None:
        return df
    return df.filter(sql_key_range(key_lo, key_hi))


def read_zipnum(
    spark: SparkSession,
    out_dir: str,
    *,
    key_lo: str | None = None,
    key_hi: str | None = None,
) -> DataFrame:
    """Read back a ZipNum cluster as a typed CDX DataFrame, reading and
    decompressing ONLY the blocks whose key range intersects
    [key_lo, key_hi), then a residual filter for exactness."""
    blocks = _prune(_load_idx(out_dir), key_lo, key_hi)
    return _range_filter(_read_blocks(spark, out_dir, blocks), key_lo, key_hi)


def read_zipnum_tail(
    spark: SparkSession,
    out_dir: str,
    n: int,
    *,
    key_lo: str | None = None,
    key_hi: str | None = None,
) -> DataFrame:
    """IA ``fastLatest=true`` support [B IA cdx-server fastLatest]:
    return a SUFFIX of the pruned range guaranteed to contain its
    last ``n`` rows, reading as few tail blocks as possible — an
    INFORMED probe from the range's end: read 1 block, and if short,
    jump straight to the block count the observed rows-per-block
    implies (floored at doubling, so pathological boundary blocks
    still terminate in O(log) steps).  Typical cost is TWO tiny jobs
    totalling ≤2× the final read; a plain ``limit=-n`` instead
    decompresses EVERY matching block, which for a domain with
    millions of captures is the difference between touching
    O(n/numlines) blocks and touching all of them."""
    import math

    blocks = _prune(_load_idx(out_dir), key_lo, key_hi)
    if not blocks:
        return _range_filter(_read_blocks(spark, out_dir, []), key_lo, key_hi)
    k = 1
    while True:
        df = _range_filter(
            _read_blocks(spark, out_dir, blocks[-k:]), key_lo, key_hi
        )
        c = df.count()
        if k >= len(blocks) or c >= n:
            return df
        # informed jump: c rows came from k blocks, so ~n·k/c blocks
        # should hold n (+1 for the partially-matching boundary block);
        # never jump less than doubling so zero-row tails stay O(log)
        est = math.ceil(n * k / c) + 1 if c > 0 else k * 2
        k = min(len(blocks), max(k * 2, est))


def num_pages(
    out_dir: str,
    *,
    key_lo: str | None = None,
    key_hi: str | None = None,
    page_size: int = 1,
) -> int:
    """cdx-server ``showNumPages`` [B SURVEY §3.3]: pages = runs of
    ``page_size`` consecutive index blocks intersecting the query
    range.  Pure secondary-index arithmetic — no shard bytes move."""
    blocks = _prune(_load_idx(out_dir), key_lo, key_hi)
    return (len(blocks) + page_size - 1) // page_size


def read_zipnum_paged_index(
    spark: SparkSession,
    out_dir: str,
    *,
    key_lo: str | None = None,
    key_hi: str | None = None,
    page_size: int = 1,
    page: int | None = None,
) -> DataFrame:
    """pywb ``showPagedIndex=true`` [B pywb zipnum / cc-index bulk
    export]: return the SECONDARY-INDEX lines of the range-pruned,
    page-tagged block list instead of decompressed CDX lines — the
    bulk-download handshake where clients fetch idx pages first and
    then issue their own ranged block reads.  Zero shard bytes move;
    the result is metadata-sized (one row per block) by construction,
    so the driver-side build mirrors ``num_pages``.  ``page=None``
    returns every page (the batch twin); ``page=N`` one request's
    worth."""
    blocks = _prune(_load_idx(out_dir), key_lo, key_hi)
    rows = [
        (i // page_size, b.urlkey, b.timestamp, b.shard, b.offset, b.length)
        for i, b in enumerate(blocks)
    ]
    if page is not None:
        rows = [r for r in rows if r[0] == page]
    schema = T.StructType([T.StructField("page", T.IntegerType()), *IDX_SCHEMA])
    return local_frame(spark, rows, schema)


def read_zipnum_page(
    spark: SparkSession,
    out_dir: str,
    page: int,
    *,
    key_lo: str | None = None,
    key_hi: str | None = None,
    page_size: int = 1,
) -> DataFrame:
    """cdx-server ``page=N`` [B SURVEY §3.3]: the N-th run of
    ``page_size`` index blocks from the range-pruned, key-ordered
    block list — NOT row-offset pagination.  Each page decompresses
    only its own blocks (cluster.idx is the paging structure, so page
    k of a petabyte index costs page_size block reads); the residual
    key filter trims the boundary blocks' out-of-range lines.  Pages
    tile the full range query: disjoint, ordered, union = read_zipnum
    over the same range."""
    blocks = _prune(_load_idx(out_dir), key_lo, key_hi)
    chunk = blocks[page * page_size : (page + 1) * page_size]
    return _range_filter(_read_blocks(spark, out_dir, chunk), key_lo, key_hi)


def zipnum_prefix_query(
    spark: SparkSession, out_dir: str, key_prefix: str
) -> DataFrame:
    """matchType=prefix over the cluster: [prefix, prefix+'~')."""
    return read_zipnum(spark, out_dir, key_lo=key_prefix, key_hi=key_prefix + "~")


def read_zipnum_pages(
    spark: SparkSession,
    out_dir: str,
    *,
    key_lo: str | None = None,
    key_hi: str | None = None,
    page_size: int = 1,
    reverse: bool = False,
) -> DataFrame:
    """EVERY page of a range query in ONE distributed read, each row
    tagged with its ``page`` ordinal.

    ``read_zipnum_page`` is the per-REQUEST API (the cdx-server
    answers one ``page=N`` per HTTP call; one page costs ``page_size``
    block reads).  A batch consumer that wants the whole pagination —
    page-tiling verification, parallel export, page-addressed
    downstream work — must not issue N single-page reads: that is N
    driver-planned jobs, each re-loading the secondary index (measured
    8.8 s vs 1 s at sf0.1 for ~175 pages).  Here the pruned block list
    is tagged with ``ordinal // page_size`` ONCE and all blocks stream
    through the same ranged-read stage; the page column rides along
    with each decompressed line.

    ``reverse=True`` is the pywb ``sort=reverse`` pagination: page 0
    becomes the LAST block run of the range (newest keys first when
    the caller then sorts within pages descending) — page runs are
    unchanged, only their numbering flips, so forward page ``p`` ==
    reverse page ``n_pages - 1 - p``."""
    blocks = _prune(_load_idx(out_dir), key_lo, key_hi)
    last_page = (len(blocks) - 1) // page_size
    # the page ordinal rides as the work item's tag, so it comes back
    # as the leading column of every decompressed line
    work = [
        (*item, (last_page - i // page_size) if reverse else i // page_size)
        for i, item in enumerate(_block_work(out_dir, blocks))
    ]
    schema = T.StructType([T.StructField("page", T.IntegerType()), *LINE_SCHEMA])
    return _range_filter(
        _lines_frame(spark, work, schema, _parse_with_page), key_lo, key_hi
    )


def _parse_with_page(lines: DataFrame) -> DataFrame:
    """The mixed classic/CDXJ line parse with the page tag carried
    through — the batch paging API must type the same wire formats as
    the per-request readers (``_read_blocks``), or a CDXJ cluster
    read through pages would silently mis-split."""
    from ..sources.cdx import parse_cdx_any_lines

    return parse_cdx_any_lines(lines, keep=["page"])


# --- epoch clusters (incremental / LSM shape) ------------------------------
#
# A live archive doesn't rewrite its index per crawl: each ingest batch
# becomes an IMMUTABLE sorted cluster ("epoch" — pywb serves multiple
# zipnum clusters side by side the same way), readers merge across
# epochs, and a background compaction folds epochs into one cluster
# when their count hurts read amplification.  Exactly the LSM-tree
# contract: epochs are sorted runs, compaction is a leveled merge.
#
# Epoch ids come from ONE monotonic space, allocated through a tiny
# ``epochs.json`` manifest: the stream reserves ``batch:<id>`` keys
# (replaying a micro-batch reuses its mapped epoch — exactly-once),
# compaction reserves ``compact:<in_lo>-<in_hi>`` keys.  Without this,
# checkpointed batch ids (0..N-1) collide with compaction's
# max(existing)+1 (= N): the next micro-batch would overwrite the
# freshly-compacted epoch and silently drop all prior history.
#
# Compaction is crash/reader-safe via atomic rename: the merged
# cluster is built under ``compact-tmp-*`` (invisible to list_epochs),
# carries a ``compaction.inputs`` file naming the epochs it subsumes,
# and renames into its ``epoch-NNNNNN`` slot before the inputs are
# deleted.  Readers exclude subsumed inputs (transitively), so at
# every instant they see exactly one copy of each capture: before the
# rename the inputs, after it the merged epoch.
#
# Single-coordinator assumption: manifest read-modify-write and the
# rename are driver-side; one ingest stream plus one compactor per
# index root (the usage both docstrings describe), not N concurrent
# uncoordinated writers.

_EPOCH_MANIFEST = "epochs.json"
_COMPACT_INPUTS = "compaction.inputs"


def _read_epoch_manifest(out_dir: str) -> dict[str, int]:
    import json

    fs, local_dir = _fs_for(out_dir)
    try:
        with fs.open_input_stream(
            _join(local_dir, _EPOCH_MANIFEST), compression=None
        ) as fh:
            return {str(k): int(v) for k, v in json.loads(fh.read().decode()).items()}
    except (OSError, ValueError):
        return {}


def _write_epoch_manifest(out_dir: str, manifest: dict[str, int]) -> None:
    import json

    fs, local_dir = _fs_for(out_dir)
    fs.create_dir(local_dir, recursive=True)
    with fs.open_output_stream(
        _join(local_dir, _EPOCH_MANIFEST), compression=None
    ) as fh:
        fh.write(json.dumps(manifest, sort_keys=True).encode())


def reserve_epoch_id(out_dir: str, key: str) -> int:
    """Allocate (or look up) the epoch id for ``key`` in the manifest.

    Replay-safe: a key already present returns its original id, so a
    re-delivered micro-batch rewrites ITS OWN epoch instead of taking a
    fresh slot.  A fresh key gets max(manifest ids ∪ on-disk epoch
    ids) + 1 — on-disk ids are included so pre-manifest clusters (or a
    manually-dropped manifest) can never be overwritten."""
    manifest = _read_epoch_manifest(out_dir)
    if key in manifest:
        return manifest[key]
    ids = set(manifest.values())
    for e in _epoch_names(out_dir):
        ids.add(int(e.rsplit("-", 1)[1]))
    nid = max(ids, default=-1) + 1
    manifest[key] = nid
    _write_epoch_manifest(out_dir, manifest)
    return nid


def _epoch_names(out_dir: str) -> list[str]:
    """All on-disk epoch directory basenames, unfiltered, sorted."""
    import re

    from pyarrow import fs as pafs

    fs, local_dir = _fs_for(out_dir)
    infos = fs.get_file_info(pafs.FileSelector(local_dir, allow_not_found=True))
    return sorted(
        i.base_name
        for i in infos
        if i.type == pafs.FileType.Directory and re.fullmatch(r"epoch-\d{6}", i.base_name)
    )


def _epoch_id(name: str) -> int:
    return int(name.rsplit("-", 1)[1])


def _subsumed_names(out_dir: str, as_of_epoch: int | None = None) -> set[str]:
    """Epoch basenames subsumed by a COMPLETED compaction (transitive:
    an excluded epoch's own ``compaction.inputs`` still counts, so a
    chain epoch-9⊇epoch-5⊇epoch-0..4 excludes everything but 9).

    With ``as_of_epoch``, compactions NEWER than the snapshot don't
    count — a time-travel reader must see the original inputs, not a
    merge that happened after its snapshot point."""
    fs, _ = _fs_for(out_dir)
    subsumed: set[str] = set()
    for name in _epoch_names(out_dir):
        if as_of_epoch is not None and _epoch_id(name) > as_of_epoch:
            continue
        try:
            with fs.open_input_stream(
                _join(_fs_for(out_dir)[1], name, _COMPACT_INPUTS), compression=None
            ) as fh:
                subsumed.update(fh.read().decode().split())
        except OSError:
            continue
    return subsumed


def list_epochs(out_dir: str, as_of_epoch: int | None = None) -> list[str]:
    """LIVE epoch directories under ``out_dir``, oldest first —
    on-disk epochs minus those a completed compaction has subsumed
    (their data is already in the merged epoch; reading both would
    duplicate every capture during the rename→delete window).

    ``as_of_epoch`` is the snapshot knob (Iceberg-style time travel
    on the LSM): only epochs with id ≤ the snapshot count, and only
    compactions at or before it subsume — so the listing reproduces
    exactly what a reader saw the moment that epoch landed.  Caveat
    (same as any snapshot store): travel reaches only epochs whose
    directories still exist — a retention sweep that deletes
    compaction INPUTS expires the snapshots that predate the merge."""
    dead = _subsumed_names(out_dir, as_of_epoch)
    return [
        _join(out_dir, n)
        for n in _epoch_names(out_dir)
        if n not in dead
        and (as_of_epoch is None or _epoch_id(n) <= as_of_epoch)
    ]


def write_zipnum_epoch(
    cdx: DataFrame,
    out_dir: str,
    epoch_id: int,
    *,
    shards: int = 2,
    numlines: int = 3000,
) -> DataFrame:
    """One ingest batch → one immutable sorted cluster at
    ``out_dir/epoch-NNNNNN``."""
    return write_zipnum(
        cdx, _join(out_dir, f"epoch-{epoch_id:06d}"), shards=shards, numlines=numlines
    )


_TOMBSTONES = "tombstones"


def write_tombstone_epoch(
    keys: DataFrame, out_dir: str, batch_key: str
) -> int:
    """Takedown/exclusion handling through the SAME LSM protocol as
    data ingest: one immutable epoch whose payload is a sorted
    tombstone list instead of a cluster.  A tombstone row is
    ``(urlkey, timestamp)`` for one capture, or ``timestamp = NULL``
    for every capture of the urlkey (the pywb-ACL-shaped whole-URL
    takedown).  Readers hide matching captures from EVERY epoch —
    past and future crawls alike, the legal-takedown semantics — and
    compaction physically drops the excluded rows while carrying the
    tombstone list forward in the merged epoch.

    Takedown lists are metadata-sized (a court order, not a crawl), so
    the collect here and the broadcast anti-joins at read time are the
    right plan at any index size; the epoch-id comes from the shared
    manifest allocator, so tombstone writes interleave safely with
    ingest batches and compaction (same replay/idempotency contract,
    keyed on ``batch_key``)."""
    eid = reserve_epoch_id(out_dir, f"tombstone:{batch_key}")
    name = f"epoch-{eid:06d}"
    if name in _subsumed_names(out_dir):
        # late replay of an already-compacted tombstone batch: its
        # lines are durable in the merged epoch's carried list
        return eid
    rows = keys.select("urlkey", "timestamp").collect()
    lines = sorted(
        f"{r['urlkey']}\t{r['timestamp'] if r['timestamp'] is not None else '*'}"
        for r in rows
    )
    fs, local = _fs_for(out_dir)
    fs.create_dir(_join(local, name), recursive=True)
    with fs.open_output_stream(
        _join(local, name, _TOMBSTONES), compression=None
    ) as fh:
        fh.write(("\n".join(lines) + "\n").encode())
    return eid


def _read_tombstones(
    out_dir: str, as_of_epoch: int | None = None
) -> tuple[list[str], list[tuple[str, str]]]:
    """(whole-url keys, exact (urlkey, ts) pairs) across all LIVE
    epochs — tombstone-only epochs plus carried-forward lists inside
    compacted epochs.  ``as_of_epoch`` bounds the listing the same
    way as data epochs: a takedown filed after the snapshot point is
    not visible in it (the snapshot reproduces history; serving
    CURRENT data must use the latest snapshot, where every tombstone
    applies)."""
    fs, _ = _fs_for(out_dir)
    wild: list[str] = []
    exact: list[tuple[str, str]] = []
    for e in list_epochs(out_dir, as_of_epoch):
        _, local = _fs_for(e)
        try:
            with fs.open_input_stream(
                _join(local, _TOMBSTONES), compression=None
            ) as fh:
                text = fh.read().decode("utf-8")
        except OSError:
            continue
        for line in text.splitlines():
            if not line.strip():
                continue
            k, ts = line.split("\t", 1)
            if ts == "*":
                wild.append(k)
            else:
                exact.append((k, ts))
    return sorted(set(wild)), sorted(set(exact))


def _has_cluster(epoch_dir: str) -> bool:
    from pyarrow import fs as pafs

    fs, local = _fs_for(epoch_dir)
    info = fs.get_file_info(_join(local, "cluster.idx"))
    return info.type == pafs.FileType.File


def read_zipnum_epochs(
    spark: SparkSession,
    out_dir: str,
    *,
    key_lo: str | None = None,
    key_hi: str | None = None,
    as_of_epoch: int | None = None,
) -> DataFrame:
    """Merged view over every epoch: each epoch prunes its own blocks
    against [key_lo, key_hi) independently (the secondary indexes are
    per-epoch), then the survivors union, then live tombstones hide
    taken-down captures (broadcast anti-joins — exclusion lists are
    metadata-sized).  Read cost grows with epoch count — that is the
    read amplification compaction exists to bound.

    ``as_of_epoch`` gives Iceberg-style snapshot reads on the LSM:
    the view as it stood right after that epoch landed — later
    ingests, later takedowns, and later compactions are all invisible
    (epochs are immutable and ids monotonic, so a snapshot is just an
    id cutoff; see ``list_epochs`` for the retention caveat)."""
    from ..sources.cdx import parse_cdx_any_lines

    epochs = [
        e for e in list_epochs(out_dir, as_of_epoch) if _has_cluster(e)
    ]
    if not epochs:
        return parse_cdx_lines(local_frame(spark, [], LINE_SCHEMA))
    # per-epoch block prune (the secondary indexes are per-epoch),
    # then ONE line read over every epoch's surviving blocks and ONE
    # parse, not one frame per epoch: the read is driver-side or one
    # distributed stage by the blocks' total count (``_lines_frame``)
    work = [
        item
        for e in epochs
        for item in _block_work(e, _prune(_load_idx(e), key_lo, key_hi))
    ]
    out = _range_filter(
        _lines_frame(spark, work, LINE_SCHEMA, parse_cdx_any_lines), key_lo, key_hi
    )
    wild, exact = _read_tombstones(out_dir, as_of_epoch)
    str_field = T.StructField("urlkey", T.StringType())
    if wild:
        wdf = local_frame(spark, [(k,) for k in wild], T.StructType([str_field]))
        out = out.join(F.broadcast(wdf), "urlkey", "left_anti")
    if exact:
        edf = local_frame(
            spark, exact,
            T.StructType([str_field, T.StructField("timestamp", T.StringType())]),
        )
        out = out.join(F.broadcast(edf), ["urlkey", "timestamp"], "left_anti")
    return out


def expire_snapshots(out_dir: str, *, keep_last: int = 0) -> list[str]:
    """Reclaim the space a ``retain_inputs`` compaction kept: delete
    on-disk epochs a completed compaction has subsumed.  After this,
    ``as_of_epoch`` snapshots that predate the oldest surviving
    compaction are expired — readers fall back to the merged view's
    history, exactly Iceberg's expire-snapshots contract.  Deletion
    runs in ascending id order so a crash mid-sweep never breaks the
    exclusion chain (a subsuming epoch outlives what it excludes).

    ``keep_last=N`` is the Iceberg retain-last knob: the N
    HIGHEST-id subsumed epochs stay on disk, so the most recent
    pre-merge snapshots remain time-travelable while older history
    reclaims — the rolling-retention policy a production store runs
    on a schedule.  Returns the deleted basenames."""
    root_fs, root_local = _fs_for(out_dir)
    dead = sorted(_subsumed_names(out_dir) & set(_epoch_names(out_dir)))
    if keep_last > 0:
        dead = dead[: max(0, len(dead) - keep_last)]
    gone: list[str] = []
    for name in dead:
        try:
            root_fs.delete_dir(_join(root_local, name))
            gone.append(name)
        except OSError:
            pass
    return gone


def vacuum_tmp(out_dir: str, *, all_tmp: bool = False) -> list[str]:
    """Reclaim ``ingest-tmp-``/``compact-tmp-`` directories left by
    crashed runs — pure space hygiene, payload-agnostic (ZipNum and
    parquet stores share the tmp-then-rename protocol).  Correctness
    never depends on this: retries delete their own stale tmp before
    rebuilding, and ``list_epochs`` never matches tmp names.

    Default posture deletes only tmps whose ``epoch-NNNNNN`` slot
    EXISTS — the rename completed, so the tmp is provably garbage
    from an older attempt.  A tmp with no final slot might belong to
    a write in flight right now; ``all_tmp=True`` removes those too
    (for an operator who knows no job is running).  Returns deleted
    basenames."""
    import re

    from pyarrow import fs as pafs

    fs, local_dir = _fs_for(out_dir)
    infos = fs.get_file_info(
        pafs.FileSelector(local_dir, allow_not_found=True)
    )
    on_disk = {i.base_name for i in infos if i.type == pafs.FileType.Directory}
    gone: list[str] = []
    for name in sorted(on_disk):
        m = re.fullmatch(r"(?:ingest|compact)-tmp-(\d{6})", name)
        if not m:
            continue
        if all_tmp or f"epoch-{m.group(1)}" in on_disk:
            try:
                fs.delete_dir(_join(local_dir, name))
                gone.append(name)
            except OSError:
                pass
    return gone


def compact_zipnum_epochs(
    spark: SparkSession,
    out_dir: str,
    *,
    shards: int = 4,
    numlines: int = 3000,
    retain_inputs: bool = False,
) -> DataFrame:
    """Fold ALL live epochs into a single new epoch (leveled merge),
    atomically for readers and crashes:

    1. build the merged cluster under ``compact-tmp-NNNNNN`` — a name
       ``list_epochs`` never matches, so readers still see the inputs;
    2. record the input epoch names in ``compaction.inputs`` inside it;
    3. rename into the ``epoch-NNNNNN`` slot (one atomic metadata op on
       local/HDFS) — from this instant readers pick up the merged
       epoch and, via the inputs file, stop reading the inputs;
    4. delete the input directories (pure space reclaim — correctness
       no longer depends on it, so a crash here just leaves garbage
       that the next compaction's input-exclusion ignores).

    The epoch id comes from the shared manifest allocator, keyed by the
    input range so a crashed-and-rerun compaction of the same inputs is
    idempotent (same slot, rewritten).

    ``retain_inputs=True`` keeps the subsumed input directories on
    disk (steps 1-3 only): correctness never depended on the deletes,
    and retaining them keeps PRE-compaction ``as_of_epoch`` snapshots
    readable (the Iceberg retention model — compaction rewrites,
    ``expire_snapshots`` reclaims)."""
    if not retain_inputs:
        # reclaim dead epochs a crashed predecessor never deleted.
        # Ascending id order keeps the exclusion chain consistent if
        # THIS sweep crashes too: a subsuming epoch (higher id, by
        # manifest monotonicity) is only removed after everything it
        # excludes.
        expire_snapshots(out_dir)

    epochs = list_epochs(out_dir)
    if not epochs:
        raise ValueError(f"no epochs to compact under {out_dir!r}")
    merged = read_zipnum_epochs(spark, out_dir)
    in_names = [e.rsplit("/", 1)[1] for e in epochs]
    next_id = reserve_epoch_id(
        out_dir, f"compact:{in_names[0]}-{in_names[-1]}"
    )
    tmp = _join(out_dir, f"compact-tmp-{next_id:06d}")
    fs, root_local = _fs_for(out_dir)
    # stale tmp from a crashed run: rebuild from scratch
    try:
        fs.delete_dir(_join(root_local, f"compact-tmp-{next_id:06d}"))
    except OSError:
        pass
    write_zipnum(merged, tmp, shards=shards, numlines=numlines)
    _, tmp_local = _fs_for(tmp)
    with fs.open_output_stream(
        _join(tmp_local, _COMPACT_INPUTS), compression=None
    ) as fh:
        fh.write(("\n".join(in_names) + "\n").encode())
    # carry the takedown list forward: the merged cluster is already
    # physically free of excluded rows (read path applied them), but
    # FUTURE ingest epochs must stay hidden too — legal-takedown
    # semantics, so tombstones survive every compaction.
    wild, exact = _read_tombstones(out_dir)
    if wild or exact:
        lines = sorted(
            [f"{k}\t*" for k in wild] + [f"{k}\t{ts}" for k, ts in exact]
        )
        with fs.open_output_stream(
            _join(tmp_local, _TOMBSTONES), compression=None
        ) as fh:
            fh.write(("\n".join(lines) + "\n").encode())
    final = _join(root_local, f"epoch-{next_id:06d}")
    fs.move(tmp_local, final)
    # cluster.loc was written against the tmp path; repoint the shard
    # paths at the renamed slot (names are unchanged, it's pure text)
    final_uri = _join(out_dir, f"epoch-{next_id:06d}")
    with fs.open_input_stream(_join(final, "cluster.loc"), compression=None) as fh:
        names = [line.split("\t")[0] for line in fh.read().decode().splitlines()]
    with fs.open_output_stream(_join(final, "cluster.loc"), compression=None) as fh:
        for s in names:
            fh.write(f"{s}\t{_join(final_uri, s)}\n".encode())
    if not retain_inputs:
        for e in epochs:
            efs, local = _fs_for(e)
            efs.delete_dir(local)
    return (
        spark.read.schema(IDX_SCHEMA)
        .options(sep="\t", quote="", lineSep="\n")
        .csv(_join(out_dir, f"epoch-{next_id:06d}", "cluster.idx"))
    )
