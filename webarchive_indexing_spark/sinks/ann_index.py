"""Persisted IVF ANN index (SURVEY.md §2.11 L3 — the production
shape: TRAIN ONCE, STORE, PROBE MANY).

Every in-query IVF variant re-trains and re-assigns per query; a
serving system builds the index once and answers queries against the
stored artifact.  The store is two pieces:

* ``centroids.json`` — the coarse quantizer, a model artifact of
  ``n_cents × dim`` floats (driver-sized by construction);
* ``vectors/`` — the corpus hive-partitioned by ``cell=`` (the IVF
  inverted lists AS directory layout).

The payoff is that a probe reads only its ``nprobe`` cells'
directories — the other ``n_cents − nprobe`` lists' files are never
opened, the exact analogue of FAISS skipping inverted lists.  While
those files total at most ``_driver_read_bytes`` (``_PQ_WHERE_BYTES``
for a PQ probe with a ``where``) the probe reads them on the driver with
pyarrow and scores them with exact numpy twins of its SQL scores (the
way FAISS serves IVFPQ on one node), so it runs no Spark job; above
that, the same cells are a Spark scan's PartitionFilters
(plan-asserted in tests/test_plans.py, with the driver twin of each
assertion beside it).  Assignment uses the SAME ``ivf_cell_sql`` the
in-query probes use, so the stored layout and any later probe's
arithmetic can never disagree.

At 100 TB: the build is one training pass (``train_frac`` bounds it)
plus one assignment scan + hive write; each query then costs
O(corpus × nprobe / n_cents) scan bytes with zero shuffles.
"""

from __future__ import annotations

import json
import math
import posixpath
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.similarity import (
    PairError,
    _cosine6,
    _rank,
    adc_units,
    ivf_cell_sql,
    ivf_probe_cells,
    py_adc6,
    py_dot6,
    py_sqdist6_rows,
    residual_adc_expr,
    residual_query_table,
    residual_query_tables,
    spark_cosine6_sql,
    spark_dot6_sql,
    spark_sqdist6_sql,
)
from ..sqltext import require_finite, sql_double_array, sql_ident, sql_in
from .zipnum import _driver_read_bytes, _fs_for, _join, arrow_frame, local_frame

_CENTROIDS = "centroids.json"
_PQ_MODEL = "pq.json"
_TOMBSTONE_DIR = "tombstones"
_CURRENT = "CURRENT"


def read_store_pointer(root: str) -> str | None:
    """The published version name from ``root/CURRENT``, or None for
    an unversioned (in-place) store."""
    fs, local = _fs_for(root)
    try:
        with fs.open_input_stream(
            _join(local, _CURRENT), compression=None
        ) as fh:
            return fh.read().decode().strip() or None
    except (OSError, FileNotFoundError):
        return None


def _write_store_pointer(root: str, version: str) -> None:
    """Atomically repoint ``root/CURRENT``: write a tmp file, rename
    over the pointer — readers observe either the old or the new
    version name, never a torn write."""
    import uuid

    fs, local = _fs_for(root)
    tmp = _join(local, f"{_CURRENT}.tmp-{uuid.uuid4().hex}")
    with fs.open_output_stream(tmp, compression=None) as fh:
        fh.write(version.encode())
    fs.move(tmp, _join(local, _CURRENT))


_BUILDING = "BUILDING"


def new_store_version(root: str) -> tuple[str, str]:
    """A fresh, unpublished version directory under ``root`` —
    ``(name, path)``.  Nothing reads it until the CURRENT pointer
    swaps, so builds are free to take as long as they need.  A
    ``BUILDING`` sentinel file marks the directory as an in-flight
    build — ``expire_store_versions`` never deletes a sentinel'd
    version, because a directory mtime (set at creation) says nothing
    about how long the write job after it will run.  The sentinel is
    removed by ``_publish_store_version`` when the pointer swaps."""
    import uuid

    name = f"v-{uuid.uuid4().hex}"
    fs, local = _fs_for(root)
    fs.create_dir(_join(local, name), recursive=True)
    with fs.open_output_stream(
        _join(_join(local, name), _BUILDING), compression=None
    ) as fh:
        fh.write(b"")
    return name, _join(root, name)


def _publish_store_version(root: str, name: str) -> None:
    """Complete a build: drop the ``BUILDING`` sentinel (the version
    is now a finished artifact that housekeeping may retire once it
    stops being CURRENT), then atomically swap the pointer."""
    fs, local = _fs_for(root)
    try:
        fs.delete_file(_join(_join(local, name), _BUILDING))
    except OSError:
        pass  # pre-sentinel version dirs (or a retried publish)
    _write_store_pointer(root, name)


def resolve_store(out_dir: str) -> str:
    """Follow ``CURRENT`` one hop: versioned roots resolve to their
    published version directory, unversioned stores resolve to
    themselves (idempotent — a version directory has no pointer)."""
    v = read_store_pointer(out_dir)
    return _join(out_dir, v) if v else out_dir


def expire_store_versions(
    root: str,
    *,
    min_age_s: float = 3600,
    stale_building_s: float | None = None,
) -> list[str]:
    """Drop unpublished version directories (retired versions a swap
    left behind for in-flight readers).  Run it AFTER those readers'
    jobs finish — the same retention contract as ``expire_snapshots``
    on the index stores.  Two safety rails:

    * If ``root/CURRENT`` EXISTS but cannot be read (a transient IO
      error, a permission hiccup), expiry ABORTS with a RuntimeError
      instead of treating the store as unversioned — proceeding with
      ``keep=None`` would delete the PUBLISHED version.
    * An in-flight build is protected by its explicit ``BUILDING``
      sentinel (written by ``new_store_version``, removed at publish)
      — never by directory mtime, which is set at creation and says
      nothing about a build that runs longer than ``min_age_s``.

    ``min_age_s`` then only grace-periods RETIRED versions (published
    once, since superseded) for readers that resolved them before the
    swap.  Returns the removed names.

    ``stale_building_s`` (opt-in) reclaims ABANDONED builds: a crash
    between ``new_store_version`` and publish leaves the sentinel
    forever, and a crash-retry loop (e.g. a failing streaming append)
    accumulates one full clone per attempt.  When set, a sentinel'd
    directory whose BUILDING file is older than this many seconds is
    deleted — choose it longer than your longest legitimate build
    (the default ``None`` keeps the conservative never-delete
    behavior)."""
    import time

    from pyarrow import fs as pafs

    fs, local = _fs_for(root)
    ptr = fs.get_file_info(_join(local, _CURRENT))
    if ptr.type == pafs.FileType.NotFound:
        keep = None
    else:
        keep = read_store_pointer(root)
        if keep is None:
            raise RuntimeError(
                f"{root!r}: CURRENT exists but could not be read — "
                f"aborting expiry rather than risk deleting the "
                f"published version; retry when the pointer is readable"
            )
    infos = fs.get_file_info(pafs.FileSelector(local, allow_not_found=True))
    now = time.time()
    gone = []
    for info in infos:
        name = info.path.rsplit("/", 1)[-1]
        if (
            info.type != pafs.FileType.Directory
            or not name.startswith("v-")
            or name == keep
        ):
            continue
        sentinel = fs.get_file_info(_join(info.path, _BUILDING))
        if sentinel.type != pafs.FileType.NotFound:
            # in-flight build: builds may take arbitrarily long, so
            # only the explicit stale_building_s opt-in reclaims one
            if stale_building_s is None:
                continue
            smtime = (
                sentinel.mtime.timestamp() if sentinel.mtime else now
            )
            if now - smtime < stale_building_s:
                continue
        else:
            mtime = info.mtime.timestamp() if info.mtime else 0.0
            if now - mtime < min_age_s:
                continue  # retired version: grace for in-flight readers
        fs.delete_dir(info.path)
        gone.append(name)
    return sorted(gone)

#: Tombstone lists ride as ``isin`` scan-filter literals — bounded by
#: the compaction contract (metadata-sized takedown batches, cleared
#: physically by ``compact_ivf_index``).  The contract is made
#: SELF-ENFORCING here: past this many ids the probe switches to a
#: broadcast anti-join (still correct, still no full shuffle — the id
#: frame broadcasts) and warns that the store wants a compaction,
#: instead of letting a caller who never compacts grow a mega-literal
#: predicate that eventually chokes plan codegen.
TOMBSTONE_ISIN_MAX = 10_000


def _exclude_ids(
    spark: SparkSession, df: DataFrame, tombs: set[int], id_col: str
) -> DataFrame:
    """Hide tombstoned ids from a scan: inline ``isin`` literal below
    ``TOMBSTONE_ISIN_MAX`` (no join, no shuffle, plan shape
    unchanged), broadcast LEFT ANTI join above it (correctness never
    depends on the caller compacting on schedule)."""
    if not tombs:
        return df
    if len(tombs) <= TOMBSTONE_ISIN_MAX:
        return df.filter(f"NOT {sql_in(id_col, sorted(tombs))}")
    import warnings

    warnings.warn(
        f"ANN store carries {len(tombs)} tombstoned ids "
        f"(> TOMBSTONE_ISIN_MAX={TOMBSTONE_ISIN_MAX}); probing via "
        f"broadcast anti-join — run compact_ivf_index to purge",
        RuntimeWarning,
        stacklevel=3,
    )
    ids = local_frame(
        spark,
        [(int(i),) for i in sorted(tombs)],
        T.StructType([T.StructField(id_col, T.LongType())]),
    )
    return df.join(F.broadcast(ids), on=id_col, how="left_anti")


#: the footer key under which Spark's parquet writer records the row
#: schema — the key Spark's own schema inference reads first
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _spark_schema(metadata: dict | None):
    """The Spark data schema a parquet footer's key-value metadata
    records, or None for a file Spark did not write."""
    raw = (metadata or {}).get(_SPARK_ROW_METADATA)
    if raw is None:
        return None
    return T.StructType.fromJson(json.loads(raw))


def _first_data_file(fs, d: str) -> str | None:
    """The first data file under ``d`` in path order, found one
    directory level at a time (no recursive listing of the store).
    Names starting with ``_`` or ``.`` are skipped, as Spark skips
    them."""
    from pyarrow import fs as pafs

    infos = sorted(
        (
            i
            for i in fs.get_file_info(pafs.FileSelector(d, allow_not_found=True))
            if not posixpath.basename(i.path).startswith(("_", "."))
        ),
        key=lambda i: i.path,
    )
    for i in infos:
        if i.type == pafs.FileType.File:
            return i.path
    for i in infos:
        if i.type == pafs.FileType.Directory:
            found = _first_data_file(fs, i.path)
            if found is not None:
                return found
    return None


def _data_files(fs, d: str, *, recursive: bool = False) -> list:
    """The data files under directory ``d`` as pyarrow ``FileInfo``s,
    listed as Spark lists them: names starting with ``_`` or ``.`` are
    skipped, and a missing directory has none."""
    from pyarrow import fs as pafs

    sel = pafs.FileSelector(d, allow_not_found=True, recursive=recursive)
    return [
        i
        for i in fs.get_file_info(sel)
        if i.type == pafs.FileType.File
        and not posixpath.basename(i.path).startswith(("_", "."))
    ]


def _driver_read(
    fs,
    table_dir: str,
    files: list,
    columns: list[str] | None = None,
    *,
    isin: tuple[str, list[int]] | None = None,
    cell: bool = False,
    batch_rows: int | None = None,
):
    """The one driver read of a store table's parquet ``files``
    (``FileInfo``s under ``table_dir``), shared by graph-walk frontiers
    and probe cells: a ``pyarrow.dataset`` scanner over ``columns``
    (all of them by default), keeping the rows whose ``isin[0]`` is in
    ``isin[1]``, with the hive ``cell`` column from the paths when
    ``cell`` is set.  No files give an empty scan typed from the
    footer of the table's first data file.  Returns the scanner and
    the Spark schema of its columns, from the footer Spark wrote
    (None for a file Spark did not write)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    if files:
        part = (
            ds.partitioning(pa.schema([("cell", pa.int32())]), flavor="hive")
            if cell
            else None
        )
        data = ds.dataset(
            [f.path for f in files], format="parquet", filesystem=fs,
            partitioning=part, partition_base_dir=table_dir if cell else None,
        )
    else:
        first = _first_data_file(fs, table_dir)
        if first is None:
            raise FileNotFoundError(f"no data file under {table_dir}")
        schema = pq.read_schema(first, filesystem=fs)
        if cell:
            schema = schema.append(pa.field("cell", pa.int32()))
        data = ds.InMemoryDataset(schema.empty_table())
    columns = list(data.schema.names if columns is None else columns)
    pred = None
    if isin is not None:
        key, ids = isin
        pred = pc.field(key).isin(pa.array(ids).cast(data.schema.field(key).type))
    kw = {} if batch_rows is None else {
        # chunked reads keep one chunk in flight, not the readahead
        "batch_size": batch_rows, "batch_readahead": 1, "fragment_readahead": 1,
    }
    scanner = data.scanner(columns=columns, filter=pred, **kw)
    spark_schema = _spark_schema(data.schema.metadata)
    if spark_schema is not None:
        by_name = {f.name: f for f in spark_schema.fields}
        by_name["cell"] = T.StructField("cell", T.IntegerType())
        spark_schema = T.StructType([by_name[c] for c in columns])
    return scanner, spark_schema


def _store_scan(spark: SparkSession, store: str, sub: str) -> DataFrame:
    """``spark.read.parquet`` of a store subdirectory with the data
    schema read from one data file's footer on the driver.  Without a
    schema the read runs a Spark job to infer it from the footers —
    the one job every probe paid before its own action.  Partition
    columns (``cell``, ``id_bucket``, …) stay inferred from the paths,
    so the schema and the FileScan plan equal the plain read's.  A
    file without Spark's schema key, or an empty directory, falls back
    to the plain read."""
    import pyarrow.parquet as pq

    path = _join(store, sub)
    fs, local = _fs_for(path)
    first = _first_data_file(fs, local)
    schema = (
        None
        if first is None
        else _spark_schema(pq.read_metadata(first, filesystem=fs).metadata)
    )
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def write_ivf_index(
    embeddings: DataFrame,
    out_dir: str,
    *,
    n_cents: int = 8,
    train_iters: int = 2,
    dim: int = 64,
    train_frac: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict[int, list[float]]:
    """Train the coarse quantizer (Lloyd), assign every vector to its
    cell, and write the hive-partitioned store.  Returns the trained
    centroids (also persisted as ``centroids.json``).

    The build is NOT reader-atomic (mode=overwrite in place): for live
    serving use ``write_ivf_index_versioned`` — it builds into a fresh
    version directory and atomically swaps the ``CURRENT`` pointer;
    index rebuilds are rare, scheduled events, the same posture as any
    search-index deployment."""
    from ..operators.kmeans import lloyd_train
    from ..queries.helpers import widen_narrow

    cents = lloyd_train(
        embeddings, k=n_cents, iters=train_iters, dim=dim,
        id_col=id_col, vec_col=vec_col, train_frac=train_frac,
    )
    (
        # widen a narrow scan so the k×dim-decimal cell argmin runs at
        # full width; cluster by cell before the hive write so the
        # file count stays one per inverted list (the Iceberg
        # write.distribution-mode=hash posture)
        widen_narrow(embeddings)
        .withColumn("cell", F.expr(ivf_cell_sql(cents, vec_col)))
        .repartition("cell")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(_join(out_dir, "vectors"))
    )
    fs, local = _fs_for(out_dir)
    with fs.open_output_stream(
        _join(local, _CENTROIDS), compression=None
    ) as fh:
        fh.write(
            json.dumps({str(c): v for c, v in cents.items()}).encode()
        )
    return cents


def write_ivfsq_index(
    embeddings: DataFrame,
    out_dir: str,
    *,
    n_cents: int = 8,
    train_iters: int = 2,
    dim: int = 64,
    train_frac: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    attrs: list[str] | None = None,
) -> dict[int, list[float]]:
    """IVF-SQ8 store — the FAISS IndexIVFScalarQuantizer middle ground
    between the flat store (exact, dim×4 bytes/row) and the PQ store
    (n_sub bytes, lossiest): the same Lloyd coarse quantizer and
    ``cell=`` hive layout as the flat store, but each inverted list
    stores the symmetric-SQ form — one double scale + dim tinyints
    (~4× smaller scans) — and probes rank by the cosine of the
    DEQUANTIZED vectors.  Quantize algebra shared with the int8 refine
    sidecar (``_int8_frame``), so the two representations can never
    drift.  Returns the trained centroids (persisted as
    ``centroids.json`` — same model file as the flat store)."""
    from ..operators.kmeans import lloyd_train
    from ..queries.helpers import widen_narrow

    cents = lloyd_train(
        embeddings, k=n_cents, iters=train_iters, dim=dim,
        id_col=id_col, vec_col=vec_col, train_frac=train_frac,
    )
    (
        # same widen + cell-clustered write as the flat store (file
        # count stays one per inverted list)
        _int8_frame(
            widen_narrow(embeddings), F.expr(ivf_cell_sql(cents, vec_col)),
            id_col, vec_col, attrs=attrs,
        )
        .repartition("cell")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(_join(out_dir, "sq"))
    )
    fs, local = _fs_for(out_dir)
    with fs.open_output_stream(
        _join(local, _CENTROIDS), compression=None
    ) as fh:
        fh.write(
            json.dumps({str(c): v for c, v in cents.items()}).encode()
        )
    return cents


def write_ivfsq_index_versioned(
    embeddings: DataFrame, root: str, **kw
) -> str:
    """Versioned twin of ``write_ivfsq_index`` — see
    ``write_ivf_index_versioned`` for the publish contract."""
    name, path = new_store_version(root)
    write_ivfsq_index(embeddings, path, **kw)
    _publish_store_version(root, name)
    return path


def append_ivfsq_index(
    embeddings: DataFrame,
    out_dir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Add NEW vectors to an SQ8 store: assignment uses the STORED
    quantizer and the shared ``_int8_frame`` encode, appending into
    the existing ``cell=`` directories — the same absorb-a-new-crawl
    contract as the flat/PQ appends (model drift = scheduled rebuild,
    never in-place mutation).  The CURRENT pointer resolves ONCE and
    both the model read and the data write use that pinned version —
    resolving twice would let a concurrent pointer swap pair the old
    version's centroids with the new version's data directory
    (silently wrong cell assignments).  Attribute columns are
    discovered from the EXISTING store schema (one footer read), so
    appends carry exactly the columns the build carried."""
    store = resolve_store(out_dir)
    cents = read_ivf_centroids(store)
    fixed = {id_col, "cell", "scale", "q"}
    attrs = [
        c
        for c in _store_scan(embeddings.sparkSession, store, "sq").schema.names
        if c not in fixed
    ]
    (
        _int8_frame(
            embeddings, F.expr(ivf_cell_sql(cents, vec_col)), id_col, vec_col,
            attrs=attrs,
        )
        # cluster by cell like the build writer: one new file per
        # touched inverted list per append, instead of one per task
        # partition per list (the shuffle moves a batch, not a corpus)
        .repartition("cell")
        .write.partitionBy("cell")
        .mode("append")
        .parquet(_join(store, "sq"))
    )


_APPLIED = "applied_batches.json"


def _applied_batches(store: str) -> set[str]:
    """Micro-batch keys already folded into a version (replay ledger —
    carried forward by the clone, so a redelivered foreachBatch batch
    is a no-op instead of a duplicate append).  Keys are
    ``"<stream_id>:<batch_id>"``: Spark batch ids are only unique PER
    CHECKPOINT, so an unscoped ledger would silently skip the first
    batches of a NEW stream incarnation (fresh checkpoint, ids restart
    at 0) as phantom replays — scoping by the stream identity keeps
    dedup exact within a checkpoint and lets a new incarnation append
    (at-least-once across incarnations, the standard Spark contract).
    Bare integers from pre-scoping ledgers read as ``default:<n>``.
    A MISSING ledger is an empty set (a store that never streamed); a
    ledger that EXISTS but cannot be read or parsed RAISES — treating
    corruption as "nothing applied" would silently degrade
    exactly-once to at-least-once and duplicate vectors on the next
    redelivery (the same abort-don't-guess rail as
    ``expire_store_versions``' pointer read)."""
    from pyarrow import fs as pafs

    fs, local = _fs_for(store)
    path = _join(local, _APPLIED)
    if fs.get_file_info(path).type == pafs.FileType.NotFound:
        return set()
    try:
        with fs.open_input_stream(path, compression=None) as fh:
            raw = json.loads(fh.read().decode())
        out = set()
        for b in raw:
            if isinstance(b, str) and ":" in b:
                out.add(b)
            else:
                out.add(f"default:{int(b)}")
        return out
    except (OSError, ValueError, TypeError) as e:
        raise RuntimeError(
            f"{store!r}: replay ledger {_APPLIED} exists but could not "
            f"be read ({e}) — refusing to append (a guessed-empty "
            f"ledger would re-apply delivered batches); restore the "
            f"ledger or rebuild the version"
        ) from e


def clone_store_version(root: str) -> tuple[str, str]:
    """A fresh UNPUBLISHED version that starts as a snapshot of the
    published one: every file of CURRENT hard-links into the new
    directory (O(number of files) metadata ops, zero data bytes —
    the filesystem-snapshot trick; non-local filesystems fall back to
    a byte copy, where a manifest-based layout would be the 100 TB
    answer).  The caller appends into the clone and publishes with
    one pointer swap — readers pinned on the old version see a
    frozen store; immutable data files are SHARED between versions,
    which is safe precisely because appends only ever add files."""
    import os

    from pyarrow import fs as pafs

    cur = resolve_store(root)
    if cur == root:
        raise ValueError(
            f"{root!r} is not a versioned store — publish with "
            f"write_iv*_index_versioned first"
        )
    name, path = new_store_version(root)
    fs, cur_local = _fs_for(cur)
    _fs2, dst_local = _fs_for(path)
    local_fs = isinstance(fs, pafs.LocalFileSystem)
    infos = fs.get_file_info(
        pafs.FileSelector(cur_local, recursive=True, allow_not_found=True)
    )
    for info in infos:
        if info.type != pafs.FileType.File:
            continue
        rel = info.path[len(cur_local):].lstrip("/")
        dst = _join(dst_local, rel)
        parent = dst.rsplit("/", 1)[0]
        fs.create_dir(parent, recursive=True)
        if local_fs:
            os.link(info.path, dst)
        else:  # pragma: no cover - object-store fallback
            with fs.open_input_stream(info.path) as src, fs.open_output_stream(
                dst, compression=None
            ) as out:
                out.write(src.read())
    return name, path


def _record_applied_batch(store: str, applied: set[str]) -> None:
    fs, local = _fs_for(store)
    tmp = _join(local, f"{_APPLIED}.tmp")
    with fs.open_output_stream(tmp, compression=None) as fh:
        fh.write(json.dumps(sorted(applied)).encode())
    fs.move(tmp, _join(local, _APPLIED))


_APPEND_BY_KIND = {
    "flat": "append_ivf_index",
    "pq": "append_ivfpq_index",
    "sq": "append_ivfsq_index",
}


def stream_append_batch(
    batch_df: DataFrame, batch_id: int, root: str, *, kind: str = "flat",
    stream_id: str = "default",
    **append_kw,
) -> bool:
    """ONE micro-batch of the streaming ANN ingest (the foreachBatch
    body — see ``streaming.incremental.stream_ann_appends``): clone
    the published version (hard links), append the batch with the
    STORED model (``append_*_index`` — assignment math never shifts
    under a serving index), record ``stream_id:batch_id`` in the
    replay ledger, and publish with one atomic ``CURRENT`` swap.
    Redelivered batches (crash between publish and the stream
    checkpoint commit) are no-ops via the ledger; a NEW stream
    incarnation (fresh checkpoint → fresh ``stream_id``) is never
    mistaken for a replay of the old one (see ``_applied_batches``).
    Returns True when the batch was applied, False when skipped as a
    replay."""
    if kind not in _APPEND_BY_KIND:
        raise ValueError(f"unknown store kind {kind!r}")
    key = f"{stream_id}:{int(batch_id)}"
    cur = resolve_store(root)
    if key in _applied_batches(cur):
        return False
    name, path = clone_store_version(root)
    append = globals()[_APPEND_BY_KIND[kind]]
    append(batch_df, path, **append_kw)
    _record_applied_batch(path, _applied_batches(path) | {key})
    _publish_store_version(root, name)
    return True


def write_ivf_index_versioned(
    embeddings: DataFrame, root: str, **kw
) -> str:
    """ALWAYS-ON publish of a flat IVF store: the build lands in a
    fresh unpublished version directory, then one atomic ``CURRENT``
    pointer swap makes it live — a reader never sees a half-written
    or briefly-absent store (the in-place writer's documented race).
    Every read/append/delete path resolves the pointer, so the root
    IS the store handle.  Returns the version directory."""
    name, path = new_store_version(root)
    write_ivf_index(embeddings, path, **kw)
    _publish_store_version(root, name)
    return path


def write_ivfpq_index_versioned(
    embeddings: DataFrame, root: str, **kw
) -> str:
    """Versioned twin of ``write_ivfpq_index`` — see
    ``write_ivf_index_versioned`` for the publish contract."""
    name, path = new_store_version(root)
    write_ivfpq_index(embeddings, path, **kw)
    _publish_store_version(root, name)
    return path


def append_ivf_index(
    embeddings: DataFrame,
    out_dir: str,
    *,
    vec_col: str = "embedding",
) -> None:
    """Add NEW vectors to an existing store: assignment uses the
    STORED quantizer (centroids are fixed once trained — probe math
    never shifts under a serving index), and the write APPENDS files
    into the ``cell=`` directories — no rewrite of existing lists,
    which is how an embedding index absorbs a new crawl's vectors at
    100 TB.  Quantizer drift (enough new data that the cells no
    longer fit) is a scheduled REBUILD, never an in-place mutation.
    One pointer resolve pins model + data to the SAME version (see
    ``append_ivfsq_index``)."""
    store = resolve_store(out_dir)
    cents = read_ivf_centroids(store)
    (
        embeddings.withColumn("cell", F.expr(ivf_cell_sql(cents, vec_col)))
        # cluster by cell like the build writer: one new file per
        # touched inverted list per append (batch-sized shuffle)
        .repartition("cell")
        .write.partitionBy("cell")
        .mode("append")
        .parquet(_join(store, "vectors"))
    )


def compact_ivf_index(
    spark: SparkSession, out_dir: str, *, subdir: str = "vectors"
) -> None:
    """Small-file hygiene + PHYSICAL PURGE for an append-heavy store:
    every append adds files to each touched ``cell=`` directory, and
    probe cost is per-file open/footer overhead × files — so
    periodically rewrite each inverted list to one file
    (``repartition("cell")`` puts each cell in one task; a cell too
    big for one file belongs in a store with more cells, i.e. a
    quantizer rebuild).  Tombstoned rows (``delete_from_ann_index``)
    are dropped from the rewrite and the tombstone list cleared AFTER
    the swap lands — the same LSM purge contract as the index stores
    (sinks/zipnum.py compact): a crash between swap and clear leaves
    tombstones that re-apply over already-purged rows, a no-op, so
    replay is idempotent.  Staged through a tmp directory + renames —
    a reader never sees a HALF-WRITTEN store, though one racing the
    two metadata ops can catch the data directory briefly absent
    (generic filesystems have no atomic dir swap); schedule
    compaction off-peak, or publish versioned store paths for
    always-on serving.  The quantizer is untouched, so no surviving
    row's score can change.  ``subdir`` selects the payload: the flat
    store's ``vectors`` or the PQ store's ``codes`` — compacting a PQ
    store that carries a refine sidecar rewrites the sidecar too,
    with the SAME tombstone set, before the list is cleared (codes
    and refine source must purge together or a re-rank could touch a
    taken-down vector's bytes)."""
    if read_store_pointer(out_dir) is not None:
        # a versioned root never mutates its published version in
        # place: compaction becomes a fresh version + pointer swap
        compact_ivf_index_versioned(spark, out_dir, subdir=subdir)
        return
    # record WHICH tombstone files this compaction read — a delete
    # batch filed while the (long) rewrite jobs run below is NOT in
    # `tombs`, so clearing the whole directory afterwards would drop
    # it unapplied and silently resurrect a taken-down vector; only
    # the files actually folded into the rewrites may be deleted.
    tombs, tomb_files = _read_ann_tombstone_files(out_dir)
    targets = _compact_targets(out_dir, subdir)
    for sd in targets:
        _compact_partition_dir(spark, out_dir, sd, tombs)
    # purge is now physical; clearing LAST keeps the crash window
    # safe (tombstones over purged rows filter nothing).  Delete ONLY
    # the batches read before the rewrite — batches filed mid-
    # compaction stay behind to be honored by probes and the next
    # compaction (they were not folded into this rewrite).
    fs, _local = _fs_for(out_dir)
    for path in tomb_files:
        try:
            fs.delete_file(path)
        except OSError:
            pass


def _compact_targets(out_dir: str, subdir: str) -> list[str]:
    """Payload directories one compaction must rewrite together: the
    PQ store's codes AND its refine sidecar share the tombstone set."""
    targets = [subdir]
    if subdir == "codes":
        try:
            meta = read_ivfpq_model(out_dir)[2]
        except OSError:
            meta = {}
        if meta.get("refine"):
            targets.append("refine")
    return targets


def compact_ivf_index_versioned(
    spark: SparkSession, root: str, *, subdir: str = "vectors"
) -> str:
    """ALWAYS-ON compaction for a versioned store: rewrite the
    published version's payload(s) — tombstones folded in — into a
    FRESH version directory alongside the copied model artifacts,
    then one atomic ``CURRENT`` swap publishes it.  In-flight readers
    keep their already-resolved version directory (left intact until
    ``expire_store_versions``); new probes resolve the purged
    version.  Only the tombstone batches read BEFORE the rewrite are
    cleared — deletes filed mid-compaction survive at the root and
    apply to the new version immediately.  Returns the new version
    path."""
    cur = resolve_store(root)
    if cur == root:
        raise ValueError(
            f"{root!r} is not a versioned store — use compact_ivf_index, "
            f"or publish with write_iv*_index_versioned first"
        )
    tombs, tomb_files = _read_ann_tombstone_files(root)
    name, path = new_store_version(root)
    fs, local = _fs_for(root)
    for sd in _compact_targets(root, subdir):
        df = spark.read.parquet(_join(cur, sd))
        df = _exclude_ids(spark, df, tombs, "vec_id")
        (
            df.repartition("cell")
            .write.partitionBy("cell")
            .mode("overwrite")
            .parquet(_join(path, sd))
        )
    for model in (_CENTROIDS, _PQ_MODEL):
        src = _join(_join(local, cur.rsplit("/", 1)[-1]), model)
        try:
            with fs.open_input_stream(src, compression=None) as fh:
                data = fh.read()
        except (OSError, FileNotFoundError):
            continue
        with fs.open_output_stream(
            _join(_join(local, name), model), compression=None
        ) as fh:
            fh.write(data)
    _publish_store_version(root, name)
    for p in tomb_files:
        try:
            fs.delete_file(p)
        except OSError:
            pass
    return path


def _compact_partition_dir(
    spark: SparkSession, out_dir: str, subdir: str, tombs: set[int]
) -> None:
    """One payload directory's rewrite + swap (see compact_ivf_index
    for the staging/recovery contract)."""
    from pyarrow import fs as pafs

    data_dir = _join(out_dir, subdir)
    tmp = _join(out_dir, f"{subdir}-compact-tmp")
    fs, local = _fs_for(out_dir)
    try:
        fs.delete_dir(_join(local, f"{subdir}-compact-tmp"))
    except OSError:
        pass
    df = spark.read.parquet(data_dir)
    df = _exclude_ids(spark, df, tombs, "vec_id")
    (
        df.repartition("cell")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(tmp)
    )
    old = _join(local, f"{subdir}-old")
    try:
        fs.delete_dir(old)
    except OSError:
        pass
    fs.move(_join(local, subdir), old)
    fs.move(_join(local, f"{subdir}-compact-tmp"), _join(local, subdir))
    # sanity BEFORE dropping the recovery copy, and an explicit raise
    # (a bare assert compiles out under -O): a filesystem move that
    # misbehaved without raising leaves the -old copy intact to
    # recover from instead of silently deleting the only good copy.
    if fs.get_file_info(_join(local, subdir)).type != pafs.FileType.Directory:
        raise RuntimeError(
            f"compact_ivf_index: rename did not land at {data_dir!r}; "
            f"recovery copy retained at {old!r}"
        )
    fs.delete_dir(old)


def delete_from_ann_index(out_dir: str, ids: list[int]) -> None:
    """Tombstone vectors out of a served store (flat OR PQ): the LSM
    delete contract the index stores already carry (sinks/zipnum.py
    takedowns) applied to the vector index — a document removed from
    the corpus by takedown or dedup keep-list must stop being
    retrievable by vector search too.  Deletes are a metadata write
    (one small JSON file per batch, uuid-named so CONCURRENT delete
    callers can never observe the same name and clobber each other —
    a count-based name would race two callers onto one filename);
    probes honor them immediately via an id-exclusion scan filter,
    and ``compact_ivf_index`` makes the purge physical.  Data files
    are never mutated in place."""
    import uuid

    fs, local = _fs_for(out_dir)
    tdir = _join(local, _TOMBSTONE_DIR)
    fs.create_dir(tdir, recursive=True)
    with fs.open_output_stream(
        _join(tdir, f"t-{uuid.uuid4().hex}.json"), compression=None
    ) as fh:
        fh.write(json.dumps(sorted(int(i) for i in ids)).encode())


def read_ann_tombstones(out_dir: str) -> set[int]:
    """Union of every tombstone batch — metadata-sized by contract
    (explicit takedowns / keep-list drops; a mass delete is a store
    REBUILD, not a tombstone pile)."""
    return _read_ann_tombstone_files(out_dir)[0]


def _read_ann_tombstone_files(out_dir: str) -> tuple[set[int], list[str]]:
    """Tombstone union PLUS the batch files it came from, so
    ``compact_ivf_index`` can clear exactly the batches it applied
    (never one filed while its rewrite was running)."""
    from pyarrow import fs as pafs

    fs, local = _fs_for(out_dir)
    tdir = _join(local, _TOMBSTONE_DIR)
    infos = fs.get_file_info(pafs.FileSelector(tdir, allow_not_found=True))
    out: set[int] = set()
    files: list[str] = []
    for info in infos:
        if info.type != pafs.FileType.File:
            continue
        with fs.open_input_stream(info.path, compression=None) as fh:
            out.update(int(i) for i in json.loads(fh.read().decode()))
        files.append(info.path)
    return out, files


def write_ivfpq_index(
    embeddings: DataFrame,
    out_dir: str,
    *,
    n_cells: int = 8,
    n_sub: int = 4,
    k_codes: int = 8,
    train_iters: int = 2,
    dim: int = 64,
    train_frac: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine: str | None = None,
    attrs: list[str] | None = None,
    opq_iters: int | None = None,
) -> None:
    """PQ-CODED persisted index — the FAISS IVFPQ storage shape
    (Jégou et al. 2011): instead of flat float vectors (16-32× the
    bytes at 100 TB of embeddings), each cell stores only the
    residual-PQ CODES ``j0..j{n_sub-1}`` per vector — ``n_sub`` bytes
    of payload against ``dim × 4`` for floats.  Train = Lloyd coarse
    cells on whole vectors + one sub-codebook per subspace (the ONE
    trainer ``operators.kmeans.train_ivfpq`` that
    ``operators.similarity.ivfadc_residual_topk`` also runs, so the
    persisted answers hash-match the in-query twin), encode = the
    SHARED ``residual_encode_exprs`` algebra over combined codewords
    (one scan, map-side), layout = hive ``cell=`` partitions (the
    inverted lists as directories).  Model artifacts (centroids +
    codebooks) persist as ``pq.json``; probes never re-train.

    ``refine`` optionally stores a vector SIDECAR under the same hive
    layout (``refine/cell=``) so the exact re-rank stage cannot be
    pointed at a stale corpus (the FAISS IndexRefineFlat deployment
    shape — the refine source ships WITH the index):

    * ``"flat"`` — the raw vectors (exact re-rank, dim×4 bytes/row);
    * ``"int8"`` — symmetric scalar quantization (the
      ``emb_quantize_int8`` algebra: scale = max |x|, q_i =
      floor(x_i/scale·127 + .5) stored as tinyint + one double scale
      — ~4× smaller, re-rank on the dequantized vectors).

    The kind persists in ``pq.json`` so ``ivfpq_refined_topk`` knows
    how to read it back; ``append_ivfpq_index`` keeps the sidecar in
    step with the codes.

    ``attrs`` (round 12 — filtered vector search) selects metadata
    columns of the input frame to CARRY on the code rows (the flat
    store carries every input column for free; codes are an explicit
    projection, so attributes must opt in).  The list persists in
    ``pq.json`` so appends carry the same columns and a probe's
    ``where`` predicate can never reference a column half the store
    lacks.

    ``opq_iters`` (round 12 — the FAISS OPQ preconditioning rung,
    one-reflector form): train the power-iteration leading direction
    for that many rounds, build the Householder reflector H mapping
    it onto e1, and ROTATE every vector map-side before coarse
    training + residual encode — energy compaction that aligns the
    dominant variance direction with the first subspace, cutting PQ
    quantization error at equal code budget (Ge et al. 2013).  The
    reflector vector persists in ``pq.json`` (``opq_u``); appends
    rotate with the stored reflector, probes rotate the query vector
    driver-side — rotation is orthogonal, so cosine/L2 semantics are
    unchanged and the refine sidecar re-ranks identically."""
    from ..operators.kmeans import train_ivfpq
    from ..operators.similarity import (
        nearest_sqdist6_expr,
        pq_sub_dim,
        residual_codeword_tables,
        residual_encode_exprs,
    )

    sub_dim = pq_sub_dim(dim, n_sub)
    # widen once up front: rotation, coarse/sub-codebook training and
    # the residual encode are all k×dim-decimal-heavy map stages that
    # would otherwise run at a narrow fixture scan's width (the
    # repartition("cell") below keeps the file count = n_cells)
    from ..queries.helpers import widen_narrow

    embeddings = widen_narrow(embeddings)
    opq_u: list[float] | None = None
    if opq_iters is not None:
        from ..operators.pca import (
            householder_rotation,
            power_iteration_direction,
            rotate_frame,
        )

        v = power_iteration_direction(
            embeddings, opq_iters, dim, vec_col=vec_col
        )
        opq_u, opq_k = householder_rotation(v)
        embeddings = rotate_frame(embeddings, opq_u, opq_k, vec_col=vec_col)
    cents, cbooks = train_ivfpq(
        embeddings, n_cells, n_sub, k_codes, train_iters, dim,
        id_col=id_col, vec_col=vec_col, train_frac=train_frac,
    )
    ct_sql = residual_codeword_tables(cents, cbooks)
    cell = nearest_sqdist6_expr(vec_col, cents, id_field="cid")
    extra = [F.col(a) for a in (attrs or [])]
    coded = embeddings.select(
        F.col(id_col), cell.getField("cid").alias("cell"), F.col(vec_col),
        *extra,
    ).selectExpr(
        id_col, "cell",
        *residual_encode_exprs(ct_sql, vec_col, sub_dim),
        *[f"`{a}`" for a in (attrs or [])],
    )
    def _write_codes() -> None:
        (
            # cluster by cell before the hive write (the
            # write_ivf_index convention): one file per inverted list
            # regardless of how wide the encode stage ran — the
            # shuffle moves code rows (n_sub bytes + id), never
            # vectors
            coded.repartition("cell")
            .write.partitionBy("cell")
            .mode("overwrite")
            .parquet(_join(out_dir, "codes"))
        )

    def _write_refine() -> None:
        (
            _refine_sidecar_frame(embeddings, cell, refine, id_col, vec_col)
            .repartition("cell")
            .write.partitionBy("cell")
            .mode("overwrite")
            .parquet(_join(out_dir, "refine"))
        )

    if refine is not None:
        # codes/ and refine/ are independent outputs — overlap the two
        # write jobs (guide §2.6) so the second's scan back-fills the
        # first's write tail
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            for f in [pool.submit(_write_codes), pool.submit(_write_refine)]:
                f.result()
    else:
        _write_codes()
    fs, local = _fs_for(out_dir)
    with fs.open_output_stream(
        _join(local, _PQ_MODEL), compression=None
    ) as fh:
        fh.write(
            json.dumps(
                {
                    "cents": {str(c): v for c, v in cents.items()},
                    "cbooks": [
                        {str(j): v for j, v in cb.items()} for cb in cbooks
                    ],
                    "dim": dim,
                    "n_sub": n_sub,
                    "k_codes": k_codes,
                    "refine": refine,
                    "attrs": attrs or [],
                    "opq_u": opq_u,
                }
            ).encode()
        )


def _refine_sidecar_frame(
    embeddings: DataFrame, cell, kind: str, id_col: str, vec_col: str
) -> DataFrame:
    """The refine sidecar rows for one (re)encode pass: same ``cell``
    assignment as the codes (shared quantizer expression), payload =
    flat vectors or int8-SQ (scale + tinyint codes)."""
    if kind == "flat":
        return embeddings.select(
            F.col(id_col), cell.getField("cid").alias("cell"), F.col(vec_col)
        )
    if kind != "int8":
        raise ValueError(f"unknown refine sidecar kind {kind!r}")
    return _int8_frame(
        embeddings, cell.getField("cid"), id_col, vec_col
    )


def _int8_frame(
    embeddings: DataFrame, cell_col, id_col: str, vec_col: str,
    attrs: list[str] | None = None,
) -> DataFrame:
    """(id, cell, scale, q[, *attrs]) rows in the symmetric-SQ form —
    shared by the refine sidecar and the IVF-SQ store so the quantize
    algebra (scale = max |x|, q_i = floor(x_i/scale·127 + .5) as
    tinyint) exists exactly once.  ``attrs`` carries metadata columns
    onto the quantized rows for filtered search."""
    extra = list(attrs or [])
    xd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return (
        embeddings.select(
            F.col(id_col),
            cell_col.alias("cell"),
            xd.alias("_xd"),
            *[F.col(a) for a in extra],
        )
        .select(
            id_col,
            "cell",
            F.array_max(F.transform(F.col("_xd"), F.abs)).alias("scale"),
            F.col("_xd"),
            *extra,
        )
        .select(
            id_col,
            "cell",
            "scale",
            F.transform(
                F.col("_xd"),
                lambda x: F.floor(
                    x / F.col("scale") * 127 + F.lit(0.5)
                ).cast("tinyint"),
            ).alias("q"),
            *extra,
        )
    )


def append_ivfpq_index(
    embeddings: DataFrame,
    out_dir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Add NEW vectors to a PQ-coded store: cell assignment AND
    residual encoding both use the STORED model (quantizer + codebooks
    fixed once trained — a serving index's scores never shift under
    append), writing code files into the existing ``cell=``
    directories.  A refine sidecar, when present, receives the same
    vectors under the same layout — codes and refine source can never
    drift apart.  Same contract as ``append_ivf_index``: model drift
    means a scheduled REBUILD, never an in-place mutation; one
    pointer resolve pins model + data to the SAME version."""
    from ..operators.similarity import (
        nearest_sqdist6_expr,
        residual_codeword_tables,
        residual_encode_exprs,
    )

    store = resolve_store(out_dir)
    cents, cbooks, meta = read_ivfpq_model(store)
    sub_dim = meta["dim"] // meta["n_sub"]
    attrs = meta.get("attrs") or []
    if meta.get("opq_u"):
        # an OPQ store's model lives in ROTATED space: append rotates
        # with the STORED reflector (never retrains it — same fixed-
        # model contract as the centroids/codebooks)
        from ..operators.pca import householder_k, rotate_frame

        u = [float(x) for x in meta["opq_u"]]
        embeddings = rotate_frame(
            embeddings, u, householder_k(u), vec_col=vec_col
        )
    ct_sql = residual_codeword_tables(cents, cbooks)
    cell = nearest_sqdist6_expr(vec_col, cents, id_field="cid")
    coded = embeddings.select(
        F.col(id_col), cell.getField("cid").alias("cell"), F.col(vec_col),
        *[F.col(a) for a in attrs],
    ).selectExpr(
        id_col, "cell",
        *residual_encode_exprs(ct_sql, vec_col, sub_dim),
        *[f"`{a}`" for a in attrs],
    )
    data_dir = store
    # cluster by cell like the build writers: one new file per touched
    # inverted list per append — the shuffle moves code/id rows (and
    # batch-sized refine vectors), never the corpus
    (
        coded.repartition("cell")
        .write.partitionBy("cell")
        .mode("append")
        .parquet(_join(data_dir, "codes"))
    )
    if meta.get("refine"):
        (
            _refine_sidecar_frame(
                embeddings, cell, meta["refine"], id_col, vec_col
            )
            .repartition("cell")
            .write.partitionBy("cell")
            .mode("append")
            .parquet(_join(data_dir, "refine"))
        )


def read_ivfpq_model(
    out_dir: str,
) -> tuple[dict[int, list[float]], list[dict[int, list[float]]], dict]:
    fs, local = _fs_for(resolve_store(out_dir))
    with fs.open_input_stream(
        _join(local, _PQ_MODEL), compression=None
    ) as fh:
        raw = json.loads(fh.read().decode())
    cents = {int(c): v for c, v in raw["cents"].items()}
    cbooks = [
        {int(j): v for j, v in cb.items()} for cb in raw["cbooks"]
    ]
    return cents, cbooks, raw


def _opq_rotate_query(meta: dict, qv: list[float]) -> list[float]:
    """H·qv for an OPQ store (identity otherwise): the stored model
    lives in rotated space, so every probe's query vector must enter
    it through the SAME reflector — driver-side float math whose op
    order matches the executor/oracle algebra exactly."""
    u = meta.get("opq_u")
    if not u:
        return qv
    from ..operators.pca import householder_k, py_rotate

    u = [float(x) for x in u]
    return py_rotate(qv, u, householder_k(u))


def read_ivf_centroids(out_dir: str) -> dict[int, list[float]]:
    fs, local = _fs_for(resolve_store(out_dir))
    with fs.open_input_stream(
        _join(local, _CENTROIDS), compression=None
    ) as fh:
        raw = json.loads(fh.read().decode())
    return {int(c): v for c, v in raw.items()}


# ---------------------------------------------------------------------------
# Probes: one kernel for every layout (flat, SQ8, PQ), single and batch,
# top-k and range, with or without the refine stage
# ---------------------------------------------------------------------------

#: the symmetric-SQ payload's dequantized vector ``q·scale/127``
#: (exact-IEEE, the oracle twin) — the SQ8 store and the int8 refine
#: sidecar store the same ``_int8_frame`` form
_DEQ = "transform(q, v -> CAST(v AS DOUBLE) * scale / 127.0D)"

#: flat-store metric → (score column, descending?, score SQL, its exact
#: driver twin).  FAISS METRIC_* parity on the query side: cosine and
#: inner product rank descending, squared L2 ascending.
_METRICS = {
    "cosine": ("cos_sim", True, spark_cosine6_sql, _cosine6),
    "ip": ("dot", True, spark_dot6_sql, py_dot6),
    "l2": ("sq_dist", False, spark_sqdist6_sql, py_sqdist6_rows),
}

#: float64 payload bytes a driver-read probe decodes per chunk: 8192
#: rows of 64-dim vectors, 131072 rows of 4 PQ codes
_CHUNK_BYTES = 1 << 22

#: the most probed-cell bytes a PQ probe with a ``where`` reads on the
#: driver, below ``_driver_read_bytes``.  The driver evaluates a
#: ``where`` as a projection over each chunk's Arrow local relation,
#: ~8 µs a row (the collected mask dominates), where the Spark scan
#: filters inside its tasks, and a PQ row is cheap for the scan to
#: score.  ann_serve-shaped PQ stores (6.3 bytes a code row), single
#: top-k with ``label = x``, median ms driver vs scan on a 4-core host:
#: 17 KB 90 vs 179, 57 KB 123 vs 155, 105 KB 170 vs 178, 225 KB 329 vs
#: 173, 837 KB 991 vs 325; at ~245 MB 310 s vs 14 s.  The flat and SQ8
#: scans score a row in decimal cosine, which costs more than the
#: mask, so their ``where`` probes read on the driver up to the bound:
#: ~6 MB of flat vectors 316 vs 640 ms, ~1.8 MB of SQ8 rows 322 vs
#: 739 ms, ~245 MB of flat vectors 16.6 vs 40 s.
_PQ_WHERE_BYTES = 64 << 10


class _Chunk:
    """One record batch of a driver read: ids (and cells) as numpy, the
    payload decoded once per shape for the score twins."""

    def __init__(self, batch, id_col: str):
        self.batch = batch
        self.ids = batch.column(id_col).to_numpy(zero_copy_only=False)
        if "cell" in batch.schema.names:
            self.cell = batch.column("cell").to_numpy(zero_copy_only=False)
        self._memo: dict = {}

    def codes(self, n_sub: int):
        """The ``j0..`` code matrix, NULL as -1 (out of range)."""
        import numpy as np

        if "codes" not in self._memo:
            self._memo["codes"] = np.column_stack(
                [
                    self.batch.column(f"j{m}").fill_null(-1).to_numpy(
                        zero_copy_only=False
                    )
                    for m in range(n_sub)
                ]
            ).astype(np.int64)
        return self._memo["codes"]

    def vectors(self, col: str, dim: int, scale: str | None = None):
        """List column ``col`` as a rows × ``dim`` float64 matrix
        (dequantized ``v·scale/127`` when ``scale`` names the SQ scale
        column), and {row: why} of the rows Spark could not score
        against a ``dim``-long query."""
        import numpy as np
        import pyarrow.compute as pc

        key = (col, dim)
        if key in self._memo:
            return self._memo[key]
        vals = self.batch.column(col)
        flat = vals.flatten()
        bad: dict[int, str] = {}
        if (
            vals.null_count == 0
            and flat.null_count == 0
            and pc.all(pc.equal(pc.list_value_length(vals), dim)).as_py() is not False
        ):
            mat = flat.to_numpy(zero_copy_only=False).astype(np.float64)
            mat = mat.reshape(len(vals), dim)
        else:
            mat = np.zeros((len(vals), dim))
            for i, v in enumerate(vals.to_pylist()):
                if v is None:
                    bad[i] = "the stored vector is NULL"
                elif len(v) != dim:
                    bad[i] = f"the stored vector has {len(v)} elements, the query {dim}"
                elif None in v:
                    bad[i] = "an element or product is NULL or not finite"
                else:
                    mat[i] = v
        if scale is not None:
            s = self.batch.column(scale)
            for i in np.flatnonzero(s.is_null().to_numpy(zero_copy_only=False)):
                bad.setdefault(int(i), "the scale is NULL")
            mat = mat * s.to_numpy(zero_copy_only=False)[:, None] / 127.0
        self._memo[key] = mat, bad
        return mat, bad


def _vector_twin(col: str, scale: str | None, fn: Callable) -> Callable:
    """The driver twin of a whole-vector score: ``fn`` (``_cosine6``,
    ``py_dot6`` or ``py_sqdist6_rows``) of payload column ``col``
    against the query."""

    def twin(q: list[float], _cells: list[int]) -> Callable:
        import numpy as np

        qa = np.asarray(q, np.float64)[None]

        def score(chunk: _Chunk, rows):
            mat, bad = chunk.vectors(col, qa.shape[1], scale)
            if bad:
                for i in rows[np.isin(rows, list(bad))][:1]:
                    raise PairError(int(i), bad[int(i)])
            return fn(mat[rows], qa, rows)

        return score

    return twin


def _adc_twin(cents: dict[int, list[float]], cbooks: list[dict[int, list[float]]]):
    """The driver twin of ``residual_adc_expr``: the query's ADC table
    for its probed cells only (``residual_query_table``), cast to exact
    1e-6 units once (``adc_units``), summed per row (``py_adc6``)."""

    def twin(q: list[float], cells: list[int]) -> Callable:
        import numpy as np

        units, ok = adc_units(residual_query_table(cents, cbooks, q, cells))
        at = np.asarray(cells)

        def score(chunk: _Chunk, rows):
            pos = np.searchsorted(at, chunk.cell[rows])
            return py_adc6(units, ok, pos, chunk.codes(len(cbooks))[rows], rows)

        return score

    return twin


class _Layout(NamedTuple):
    """What one store layout supplies to the probe kernel, bound to the
    model it read; scan, fan-out and select are the kernel's."""

    sub: str  # payload subdirectory
    score: tuple[str, bool]  # score column, descending?
    cells: Callable[[list[float], int], list[int]]  # driver-side ranking
    sql: Callable[[list[float]], str]  # a query's score as SQL text
    payload: tuple[str, ...]  # the columns a score reads, besides id and cell
    twin: Callable  # (query, its cells) → exact score of chunk rows
    rotate: Callable[[list[float]], list[float]] = lambda q: q
    where_bytes: float = math.inf  # driver-read cap for a probe with a where
    prep: str | None = None  # payload vector, projected once as __v
    meta: dict | None = None  # pq.json


def _layout(store: str, kind: str, metric: str, vec_col: str) -> _Layout:
    """Read ``store``'s model once and bind the ``kind`` layout to it.
    The flat store serves any ``metric`` from whole vectors: its
    coarse assignment stays the build-time cosine argmax, and recall
    under another metric degrades with nprobe like any IVF probe."""
    if kind == "pq":
        cents, cbooks, meta = read_ivfpq_model(store)
        return _Layout(
            "codes",
            ("approx_dist", False),
            lambda q, n: ivf_probe_cells(cents, q, n, metric="l2"),
            lambda q: residual_adc_expr(residual_query_tables(cents, cbooks, q)),
            tuple(f"j{m}" for m in range(len(cbooks))),
            _adc_twin(cents, cbooks),
            rotate=lambda q: _opq_rotate_query(meta, q),
            meta=meta,
            where_bytes=_PQ_WHERE_BYTES,
        )
    cents = read_ivf_centroids(store)

    def cells(q: list[float], n: int) -> list[int]:
        return ivf_probe_cells(cents, q, n, metric=metric)

    sq = kind == "sq"
    return _vector_layout("sq" if sq else "vectors", cells, metric, vec_col, int8=sq)


def _vector_layout(
    sub: str, cells: Callable | None, metric: str, vec_col: str, *, int8: bool
) -> _Layout:
    """A layout scoring whole vectors in ``sub``: ``metric`` over
    ``vec_col``, or, for ``int8`` rows, 6dp cosine over the dequantized
    ``q·scale/127`` (projected once as ``__v``).  The flat and SQ
    stores, and the refine sidecar (``cells`` None: refine reads the
    candidates' cells)."""
    if int8:
        return _Layout(
            sub, ("cos_sim", True), cells,
            lambda q: spark_cosine6_sql("__v", sql_double_array(q)),
            ("scale", "q"), _vector_twin("q", "scale", _cosine6), prep=_DEQ,
        )
    name, desc, score, twin = _METRICS[metric]
    vec = sql_ident(vec_col)
    return _Layout(
        sub, (name, desc), cells,
        lambda q: score(vec, sql_double_array(q)),
        (vec_col,), _vector_twin(vec_col, None, twin),
    )


def _pruned(
    df: DataFrame, scan: list[str], conds: list[list[str]]
) -> tuple[DataFrame, list[list[str]]]:
    """Filter ``df`` once by the ``scan`` conditions plus every
    condition all requests share (pushed into the pruned FileScan);
    returns the frame and the conditions each request still carries."""
    shared = [c for c in conds[0] if all(c in ci for ci in conds)]
    df = df.filter(" AND ".join(dict.fromkeys(scan + shared)))
    return df, [[c for c in ci if c not in shared] for ci in conds]


def _top(parts: list[tuple], desc: bool, k: int | None = None) -> tuple:
    """``parts`` — (ids, …, scores) array tuples — concatenated and
    ordered by (score, id), score descending if ``desc``; the first
    ``k`` when ``k`` is given.  The select of ``_rank``, on the
    driver."""
    import numpy as np

    cols = [np.concatenate(c) for c in zip(*parts)]
    key = -cols[-1] if desc else cols[-1]
    if k is not None and 0 < k < len(key):
        # only rows scoring at least the k-th best (ties included) can rank
        keep = np.flatnonzero(key <= np.partition(key, k - 1)[k - 1])
        cols, key = [c[keep] for c in cols], key[keep]
    order = np.lexsort((cols[0], key))
    if k is not None:
        order = order[: max(int(k), 0)]
    return tuple(c[order] for c in cols)


def _local_frame_of(
    spark: SparkSession, got: tuple, score: str, batch: bool, *, cell: bool
) -> DataFrame:
    """``_local_probe``'s ranked (ids, cells, scores) per request as one
    local relation of the Spark select's columns — ``request_no`` for
    a batch, id, ``cell`` when ``cell``, ``score`` — rows in request
    then rank order: collecting it runs no job."""
    ranked, id_field = got
    cols = (0, 1, 2) if cell else (0, 2)
    rows = [
        ((r,) if batch else ()) + tuple(h[c][i].item() for c in cols)
        for r, h in enumerate(ranked)
        if h is not None
        for i in range(len(h[0]))
    ]
    fields = [T.StructField("request_no", T.IntegerType(), False)] if batch else []
    fields.append(id_field)
    if cell:
        fields.append(T.StructField("cell", T.IntegerType()))
    fields.append(T.StructField(score, T.DoubleType()))
    return local_frame(spark, rows, T.StructType(fields))


def _id_field(scanner, schema, id_col: str):
    """The output field of ``id_col``: its Spark type from the store's
    footer schema, or the one its Arrow type maps to."""
    if schema is not None:
        return T.StructField(id_col, schema[id_col].dataType)
    from pyspark.sql.pandas.types import from_arrow_type

    return T.StructField(
        id_col, from_arrow_type(scanner.projected_schema.field(id_col).type)
    )


def _where_masks(spark: SparkSession, table, conds: list[str], schema) -> dict:
    """Each distinct ``where`` over the rows of Arrow ``table``, as the
    Spark scan's filter keeps them: a projection over an Arrow local
    relation of every column that scan exposes, so any ``where`` that
    parses there parses here; ``ConvertToLocalRelation`` evaluates it
    in the JVM, so collecting it runs no job.  {where: bool mask}."""
    import numpy as np

    got = (
        arrow_frame(spark, table, schema)
        .selectExpr(
            *[
                f"CASE WHEN ({w}) THEN true ELSE false END AS __w{j}"
                for j, w in enumerate(conds)
            ]
        )
        .collect()
    )
    return {
        w: np.array([r[j] for r in got], bool).reshape(len(got))
        for j, w in enumerate(conds)
    }


def _chunks(scanner, rows: int):
    """The scanner's non-empty rows as record batches of about ``rows``
    rows: per-file batches are combined first, so a per-chunk step
    (a ``where`` projection) runs once per chunk, not once per file."""
    import pyarrow as pa

    buf, n = [], 0
    for b in scanner.to_batches():
        if b.num_rows:
            buf.append(b)
            n += b.num_rows
        if n >= rows:
            yield from pa.Table.from_batches(buf).combine_chunks().to_batches()
            buf, n = [], 0
    if buf:
        yield from pa.Table.from_batches(buf).combine_chunks().to_batches()


def _score(twin: Callable, chunk: _Chunk, rows, r: int, op: str, id_col: str):
    """``twin``'s scores of ``rows`` of ``chunk`` for request ``r``; a row
    Spark could not score is a ``ValueError`` naming op, request and
    id."""
    try:
        return twin(chunk, rows)
    except PairError as e:
        raise ValueError(
            f"{op}: request {r}, {id_col} {chunk.ids[e.pair]}: {e.why}"
        ) from None


def _local_probe(
    spark: SparkSession,
    store: str,
    lay: _Layout,
    rot: list[list[float]],
    cells: list[list[int]],
    excl: list[int | None],
    whs: list[str | None],
    tombs: set[int],
    *,
    k: int | None,
    radii: list[float] | None,
    id_col: str,
    op: str,
    bound: int,
    ids: list[list[int]] | None = None,
):
    """Generate and verify on the driver: the probed cells' payload
    files read with ``_driver_read`` in fixed-size chunks, each
    request's rows (its cells, among its ``ids`` when given, not
    tombstoned, not its ``exclude_id``, passing its ``where``) scored
    by the layout's exact twin and kept as a running top-k or cut at
    the radius — the driver holds one chunk plus k rows per request,
    not the cells.  Returns each request's ranked (ids, cells, scores)
    (None for no row) and the id field, or None when the files total
    more than ``bound`` bytes (the layout's ``where_bytes`` with a
    ``where``)."""
    import numpy as np

    fs, local = _fs_for(store)
    table_dir = _join(local, lay.sub)
    files = [
        f
        for c in sorted({c for cs in cells for c in cs})
        for f in _data_files(fs, _join(table_dir, f"cell={c}"))
    ]
    conds = sorted({w for w in whs if w is not None})
    limit = min(bound, lay.where_bytes) if conds else bound
    if sum(f.size for f in files) > limit:
        return None
    width = len(lay.payload) if lay.meta else len(rot[0])
    chunk_rows = max(1024, _CHUNK_BYTES // (8 * width))
    scanner, schema = _driver_read(
        fs, table_dir, files, None if conds else [id_col, *lay.payload, "cell"],
        isin=None if ids is None else (id_col, sorted({i for p in ids for i in p})),
        cell=True, batch_rows=chunk_rows,
    )
    desc = lay.score[1]
    twins = [lay.twin(q, cs) for q, cs in zip(rot, cells)]
    tomb = np.fromiter(tombs, np.int64, len(tombs))
    hits: list[list[tuple]] = [[] for _ in rot]
    evaluated = False
    for batch in _chunks(scanner, chunk_rows):
        chunk = _Chunk(batch, id_col)
        if conds:
            import pyarrow as pa

            passing = _where_masks(spark, pa.Table.from_batches([batch]), conds, schema)
            evaluated = True
        live = ~np.isin(chunk.ids, tomb)
        for r, (cs, x, w) in enumerate(zip(cells, excl, whs)):
            m = live & np.isin(chunk.cell, cs)
            if ids is not None:
                m &= np.isin(chunk.ids, ids[r])
            if x is not None:
                m &= chunk.ids != int(x)
            if w is not None:
                m &= passing[w]
            rows = np.flatnonzero(m)
            if not len(rows):
                continue
            s = _score(twins[r], chunk, rows, r, op, id_col)
            if radii is not None:
                cut = s >= radii[r] if desc else s <= radii[r]
                rows, s = rows[cut], s[cut]
            hits[r].append((chunk.ids[rows], chunk.cell[rows], s))
            if radii is None:
                hits[r] = [_top(hits[r], desc, k)]
    if conds and not evaluated:
        # no row to filter, but the where must parse as the scan's does
        _where_masks(spark, scanner.projected_schema.empty_table(), conds, schema)
    ranked = [_top(h, desc, k if radii is None else None) if h else None for h in hits]
    return ranked, _id_field(scanner, schema, id_col)


def _refine(
    spark: SparkSession,
    store: str,
    lay: _Layout,
    per: list[list[int]],
    cells: set[int],
    qvs: list[list[float]],
    src: DataFrame | None,
    *,
    k: int,
    batch: bool,
    id_col: str,
    op: str,
    bound: int,
) -> DataFrame:
    """The refine step over each request's ADC candidate ids ``per``
    (from ``cells``), re-ranked by the refine layout ``lay``.  The
    store's sidecar is a driver probe of the candidate cells limited
    to each request's ids (``_local_probe``) while those cells' files
    fit ``bound``; otherwise, and for ``src`` (an external vector
    frame), ONE scan of it pruned to the candidates' cells plus a
    pushed-down id ``IN`` (``src`` by id alone) goes through the
    kernel's select."""
    n = len(qvs)
    if src is None:
        got = _local_probe(
            spark, store, lay, qvs, [sorted(cells)] * n, [None] * n, [None] * n,
            set(), k=k, radii=None, id_col=id_col, op=op, bound=bound, ids=per,
        )
        if got is not None:
            return _local_frame_of(spark, got, lay.score[0], batch, cell=False)
    scan = [sql_in(id_col, sorted({i for p in per for i in p}))]
    if src is None:
        src = _store_scan(spark, store, lay.sub)
        scan.insert(0, sql_in("cell", sorted(cells)))
    df, own = _pruned(src, scan, [[sql_in(id_col, sorted(p))] for p in per])
    return _rank(
        df, own, [lay.sql(q) for q in qvs], lay.score, [id_col], batch=batch, k=k,
        prep=lay.prep,
    )


def _probe(
    spark: SparkSession,
    out_dir: str,
    kind: str,
    qvs: list[list[float]],
    *,
    op: str,
    batch: bool,
    nprobe: int,
    k: int | None = None,
    radii: list[float] | None = None,
    exclude_ids: list[int | None] | None = None,
    wheres: list[str | None] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
    refine: tuple[int, DataFrame | None] | None = None,
) -> DataFrame:
    """The probe kernel behind every public probe (generate candidates
    → verify → select; only the select step differs between top-k
    ``k`` and range ``radii``).

    1. Validate once: a non-empty batch, aligned per-request lists,
       finite query vectors and radii (a ``ValueError`` naming the
       request).
    2. Resolve ``CURRENT`` once and read the model once, so model and
       data come from the SAME version even if a swap lands mid-call;
       OPQ stores rotate each query with the stored reflector.  Rank
       each request's probe cells (the FAISS inverted-list skip).
    3. While the probed cells' payload files total at most
       ``_driver_read_bytes`` (``_PQ_WHERE_BYTES`` for a PQ probe with
       a ``where``), read them on the driver and score each
       request's rows with the layout's exact twin of its SQL score
       (``_local_probe``), tombstones (read from the ROOT, where they
       span versions), exclusions and ``where`` applied first; the
       ranked rows are one local relation, so collecting them runs no
       Spark job.
    4. Otherwise one payload scan pruned to the union of the requests'
       probe cells (partition pruning); a condition every request
       shares (cells, exclusion, ``where``) is pushed into it,
       tombstones are excluded scan-side, and ``_rank`` scores and
       selects.
    5. ``refine = (k_factor, src)`` over-fetches ``k·k_factor`` ADC
       candidates and re-ranks them (``_refine``) from the same store
       and model; an external ``src`` frame takes step 4."""
    n = len(qvs)
    if not n:
        raise ValueError("probe batch needs at least one query vector")
    excl, whs = exclude_ids or [None] * n, wheres or [None] * n
    for name, vals in (("radii", radii), ("exclude_ids", excl), ("wheres", whs)):
        if vals is not None and len(vals) != n:
            raise ValueError(f"{name} must align with query_vecs")
    if metric not in _METRICS:
        raise ValueError(f"unknown metric {metric!r}")
    require_finite(qvs, op)
    for i, r in enumerate(radii or ()):
        if not math.isfinite(float(r)):
            raise ValueError(f"{op}: request {i} has a non-finite radius ({r!r})")
    store = resolve_store(out_dir)
    lay = _layout(store, kind, metric, vec_col)
    if refine is not None and refine[1] is None and not lay.meta.get("refine"):
        raise ValueError(
            f"store {store!r} has no refine sidecar — rebuild with "
            f"write_ivfpq_index(refine='flat'|'int8') or pass "
            f"vectors_src explicitly"
        )
    rot = [lay.rotate(q) for q in qvs]
    cells = [sorted(lay.cells(q, nprobe)) for q in rot]
    tombs = read_ann_tombstones(out_dir)
    fetch = k if refine is None else k * refine[0]
    got = None
    if refine is None or refine[1] is None:
        bound = _driver_read_bytes(spark)
        got = _local_probe(
            spark, store, lay, rot, cells, excl, whs, tombs, k=fetch,
            radii=radii, id_col=id_col, op=op, bound=bound,
        )
    if got is not None and refine is None:
        return _local_frame_of(spark, got, lay.score[0], batch, cell=True)
    if got is not None:
        per = [[] if h is None else h[0].tolist() for h in got[0]]
        cand = {int(c) for h in got[0] if h is not None for c in h[1]}
    else:
        idc = sql_ident(id_col)
        df, own = _pruned(
            _store_scan(spark, store, lay.sub),
            [sql_in("cell", sorted({c for cs in cells for c in cs}))],
            [
                [sql_in("cell", cs)]
                + ([] if x is None else [f"{idc} <> {int(x)}"])
                + ([] if w is None else [f"({w})"])
                for cs, x, w in zip(cells, excl, whs)
            ],
        )
        df = _exclude_ids(spark, df, tombs, id_col)
        scores = [lay.sql(q) for q in rot]
        if refine is None:
            return _rank(
                df, own, scores, lay.score, [id_col, "cell"], batch=batch, k=k,
                radii=radii, prep=lay.prep,
            )
        per, cand, bound = [[] for _ in qvs], set(), 0
        for r in _rank(
            df, own, scores, lay.score, [id_col, "cell"], batch=True, k=fetch,
        ).collect():
            per[r["request_no"]].append(int(r[id_col]))
            cand.add(int(r["cell"]))
    src = refine[1]
    int8 = src is None and lay.meta.get("refine") == "int8"
    # an OPQ sidecar holds ROTATED vectors; an external source does not
    return _refine(
        spark, store, _vector_layout("refine", None, "cosine", vec_col, int8=int8),
        per, cand, rot if src is None else qvs, src, k=k, batch=batch,
        id_col=id_col, op=op, bound=bound,
    )


def ivf_index_probe_topk(
    spark: SparkSession,
    out_dir: str,
    qv: list[float],
    *,
    k: int = 10,
    nprobe: int = 2,
    exclude_id: int | None = None,
    where: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Top-k neighbors from the STORED flat index: rank the probe cells
    on the driver (quantizer-sized math), then read ONLY those
    ``cell=`` directories — the inverted-list skip, no assignment
    recompute — and rank (score desc, id).  Below the driver-read
    bound that is no Spark job (``_probe``); above it, partition
    pruning and TakeOrderedAndProject, no shuffle.

    ``where`` (FAISS IDSelector / filtered vector search) is a SQL
    predicate over the store's ATTRIBUTE columns (any extra column of
    the frame ``write_ivf_index`` was given rides the store rows, e.g.
    ``"label = 2"``).  It applies BEFORE top-k, pushed into the pruned
    scan, so k SURVIVORS are returned with recall intact.

    ``metric`` (FAISS METRIC_INNER_PRODUCT / METRIC_L2 parity):
    ``cosine`` (default, ``cos_sim`` DESC), ``ip`` (``dot`` DESC),
    ``l2`` (``sq_dist`` ASC); it selects both the probe-cell ranking
    and the score."""
    return _probe(
        spark, out_dir, "flat", [qv], op="ivf_index_probe_topk", batch=False,
        nprobe=nprobe, k=k, exclude_ids=[exclude_id], wheres=[where],
        id_col=id_col, vec_col=vec_col, metric=metric,
    )


def ivf_index_probe_range(
    spark: SparkSession,
    out_dir: str,
    qv: list[float],
    radius: float,
    *,
    nprobe: int = 2,
    exclude_id: int | None = None,
    where: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """RANGE search over the flat store (FAISS ``range_search``): every
    stored vector in the probed cells past the radius — no k, the
    result size is data-dependent.  Same pruned read, tombstones and
    ``where`` as the top-k probe; the cut applies to the 6dp-rounded
    score (engine-portable boundary): ``score >= radius`` under
    ``cosine``/``ip``, ``sq_dist <= radius`` under ``l2``.  Ordered
    (score, id) for determinism (on the Spark path, one ordering
    exchange)."""
    return _probe(
        spark, out_dir, "flat", [qv], op="ivf_index_probe_range",
        batch=False, nprobe=nprobe, radii=[radius], exclude_ids=[exclude_id],
        wheres=[where], id_col=id_col, vec_col=vec_col, metric=metric,
    )


def ivf_index_probe_batch_topk(
    spark: SparkSession,
    out_dir: str,
    query_vecs: list[list[float]],
    *,
    k: int = 10,
    nprobe: int = 2,
    exclude_ids: list[int | None] | None = None,
    wheres: list[str | None] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch serving over the flat store: one read of the UNION of the
    requests' probe cells, each request scored only on its own cells,
    per-request top-k, rows in (request_no, rank) order.  On the Spark
    path the scores ride map-side struct arms and the top-k is one
    ``request_no`` window — the plan's only Exchange; a predicate
    shared by EVERY request is pushed scan-side.  Each request's rows
    hash-match its one-at-a-time ``ivf_index_probe_topk``."""
    return _probe(
        spark, out_dir, "flat", query_vecs, op="ivf_index_probe_batch_topk",
        batch=True, nprobe=nprobe, k=k, exclude_ids=exclude_ids,
        wheres=wheres, id_col=id_col, vec_col=vec_col,
    )


def ivf_index_probe_batch_range(
    spark: SparkSession,
    out_dir: str,
    query_vecs: list[list[float]],
    radii: list[float],
    *,
    nprobe: int = 2,
    exclude_ids: list[int | None] | None = None,
    wheres: list[str | None] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch RANGE serving over the flat store: N (query, radius)
    requests from ONE union-pruned read, each request cut at its
    radius.  Range needs no per-request top-k, so the Spark path has
    NO window — its only exchange is the output ordering.  Each
    request's rows hash-match its ``ivf_index_probe_range`` answer."""
    return _probe(
        spark, out_dir, "flat", query_vecs, op="ivf_index_probe_batch_range",
        batch=True, nprobe=nprobe, radii=radii, exclude_ids=exclude_ids,
        wheres=wheres, id_col=id_col, vec_col=vec_col,
    )


def ivfsq_index_probe_topk(
    spark: SparkSession,
    out_dir: str,
    qv: list[float],
    *,
    k: int = 10,
    nprobe: int = 2,
    exclude_id: int | None = None,
    where: str | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k from the SQ8 store: a read of the nprobe ``cell=``
    directories, dequantize ``q·scale/127`` + 6dp cosine, top-k — ~4×
    fewer bytes than the flat store at a small recall cost; no Spark
    job below the driver-read bound, TakeOrderedAndProject with zero
    shuffles above it.  ``where`` filters on stored attribute columns
    (``write_ivfsq_index(attrs=...)``) BEFORE top-k."""
    return _probe(
        spark, out_dir, "sq", [qv], op="ivfsq_index_probe_topk", batch=False,
        nprobe=nprobe, k=k, exclude_ids=[exclude_id], wheres=[where],
        id_col=id_col,
    )


def ivfsq_index_probe_range(
    spark: SparkSession,
    out_dir: str,
    qv: list[float],
    radius: float,
    *,
    nprobe: int = 2,
    exclude_id: int | None = None,
    where: str | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """RANGE search over the SQ8 store (FAISS
    ``IndexIVFScalarQuantizer.range_search``): every stored vector in
    the probed cells whose DEQUANTIZED 6dp cosine is ``>= radius``,
    ordered (sim DESC, id)."""
    return _probe(
        spark, out_dir, "sq", [qv], op="ivfsq_index_probe_range",
        batch=False, nprobe=nprobe, radii=[radius], exclude_ids=[exclude_id],
        wheres=[where], id_col=id_col,
    )


def ivfsq_index_probe_batch_topk(
    spark: SparkSession,
    out_dir: str,
    query_vecs: list[list[float]],
    *,
    k: int = 10,
    nprobe: int = 2,
    exclude_ids: list[int | None] | None = None,
    wheres: list[str | None] | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """Batch serving over the SQ8 store: one union-pruned ``sq`` read,
    the dequantize done ONCE per row and shared by every request,
    per-request top-k (one ``request_no`` window on the Spark path).
    Each request's rows hash-match its one-at-a-time
    ``ivfsq_index_probe_topk``."""
    return _probe(
        spark, out_dir, "sq", query_vecs, op="ivfsq_index_probe_batch_topk",
        batch=True, nprobe=nprobe, k=k, exclude_ids=exclude_ids,
        wheres=wheres, id_col=id_col,
    )


def ivfsq_index_probe_batch_range(
    spark: SparkSession,
    out_dir: str,
    query_vecs: list[list[float]],
    radii: list[float],
    *,
    nprobe: int = 2,
    exclude_ids: list[int | None] | None = None,
    wheres: list[str | None] | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """Batch RANGE serving over the SQ8 store: one union-pruned ``sq``
    read, per-request radius floors on the dequantized 6dp cosine, no
    window.  Each request's rows hash-match its one-at-a-time
    ``ivfsq_index_probe_range``."""
    return _probe(
        spark, out_dir, "sq", query_vecs, op="ivfsq_index_probe_batch_range",
        batch=True, nprobe=nprobe, radii=radii, exclude_ids=exclude_ids,
        wheres=wheres, id_col=id_col,
    )


def ivfpq_index_probe_topk(
    spark: SparkSession,
    out_dir: str,
    qv: list[float],
    *,
    k: int = 10,
    nprobe: int = 3,
    exclude_id: int | None = None,
    where: str | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k approximate neighbors from the PQ-coded store: rank probe
    cells driver-side, read ONLY those ``cell=`` directories — and read
    CODES, not vectors (the 16-32× byte saving) — then rank rows by the
    ADC table sum.  Below the driver-read bound the table covers the
    probed cells only and the exact integer twin scores on the driver
    (no Spark job); above it, a codes-only pruned scan,
    TakeOrderedAndProject, zero shuffles.  ``where`` filters on stored
    attribute columns (``write_ivfpq_index(attrs=...)``) BEFORE
    top-k."""
    return _probe(
        spark, out_dir, "pq", [qv], op="ivfpq_index_probe_topk", batch=False,
        nprobe=nprobe, k=k, exclude_ids=[exclude_id], wheres=[where],
        id_col=id_col,
    )


def ivfpq_index_probe_range(
    spark: SparkSession,
    out_dir: str,
    qv: list[float],
    radius: float,
    *,
    nprobe: int = 3,
    exclude_id: int | None = None,
    where: str | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """RANGE search over the PQ-coded store (FAISS
    ``IndexIVFPQ.range_search``): every probed-cell code whose ADC
    DISTANCE is ``<= radius`` (FAISS's L2 range semantics on quantized
    indexes), from the same codes-only read; ordered (dist ASC, id)."""
    return _probe(
        spark, out_dir, "pq", [qv], op="ivfpq_index_probe_range",
        batch=False, nprobe=nprobe, radii=[radius], exclude_ids=[exclude_id],
        wheres=[where], id_col=id_col,
    )


def ivfpq_index_probe_batch_topk(
    spark: SparkSession,
    out_dir: str,
    query_vecs: list[list[float]],
    *,
    k: int = 10,
    nprobe: int = 3,
    exclude_ids: list[int | None] | None = None,
    wheres: list[str | None] | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """N query vectors answered from ONE read over the PQ-coded store —
    the FAISS batched ``search()`` (``cdx_query_batch`` applied to
    vector search): the codes of the UNION of the requests' probe
    cells, per-request ADC distances (exclusions and per-request
    ``wheres`` applied per request), per-request top-k.  No Spark job
    below the driver-read bound; above it, map-side struct arms and
    ONE ``request_no`` window — the only shuffle.  Returns
    ``request_no`` (the position in ``query_vecs``) + the single
    probe's columns, in (request_no, rank) order, each request's rows
    hash-matching its one-at-a-time twin."""
    return _probe(
        spark, out_dir, "pq", query_vecs, op="ivfpq_index_probe_batch_topk",
        batch=True, nprobe=nprobe, k=k, exclude_ids=exclude_ids,
        wheres=wheres, id_col=id_col,
    )


def ivfpq_index_probe_batch_range(
    spark: SparkSession,
    out_dir: str,
    query_vecs: list[list[float]],
    radii: list[float],
    *,
    nprobe: int = 3,
    exclude_ids: list[int | None] | None = None,
    wheres: list[str | None] | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """Batch RANGE serving over the PQ-coded store: N (query, radius)
    requests from ONE union-pruned CODES read, each request's ADC
    ceiling applied per request, no window.  Each request's rows
    hash-match its ``ivfpq_index_probe_range``."""
    return _probe(
        spark, out_dir, "pq", query_vecs, op="ivfpq_index_probe_batch_range",
        batch=True, nprobe=nprobe, radii=radii, exclude_ids=exclude_ids,
        wheres=wheres, id_col=id_col,
    )


def ivfpq_refined_topk(
    spark: SparkSession,
    out_dir: str,
    vectors_src: DataFrame | None,
    qv: list[float],
    *,
    k: int = 10,
    k_factor: int = 4,
    nprobe: int = 3,
    exclude_id: int | None = None,
    where: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """REFINE stage over the PQ store — the FAISS IndexRefineFlat
    pattern: over-fetch ``k × k_factor`` ADC candidates (tombstones and
    ``where`` applied there, before the over-fetch), then re-rank just
    those by exact (or dequantized-int8) 6dp cosine.

    ``vectors_src=None`` reads the STORE-RESIDENT refine sidecar
    written by ``write_ivfpq_index(refine=...)``, only the candidates'
    cells and ids, from the same version as the codes; below the
    driver-read bound both stages run on the driver, no Spark job.  A
    DataFrame re-ranks against that external vector source instead, on
    the Spark path: one job to collect the candidates, one to re-rank.
    Refined recall can only match or beat the raw ADC top-k (pinned in
    tests/test_scale.py)."""
    return _probe(
        spark, out_dir, "pq", [qv], op="ivfpq_refined_topk", batch=False,
        nprobe=nprobe, k=k, exclude_ids=[exclude_id], wheres=[where],
        id_col=id_col, vec_col=vec_col, refine=(k_factor, vectors_src),
    )


def ivfpq_refined_batch_topk(
    spark: SparkSession,
    out_dir: str,
    query_vecs: list[list[float]],
    *,
    k: int = 10,
    k_factor: int = 4,
    nprobe: int = 3,
    exclude_ids: list[int | None] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch serving COMPOSED with the refine stage: the batch ADC
    probe over-fetches ``k·k_factor`` candidates per request, then ONE
    sidecar read of the union of candidate cells and ids re-ranks
    every (request, candidate) pair, with per-request top-k (one
    ``request_no`` window on the Spark path).  Per-request rows
    hash-match the one-at-a-time ``ivfpq_refined_topk`` loop."""
    return _probe(
        spark, out_dir, "pq", query_vecs, op="ivfpq_refined_batch_topk",
        batch=True, nprobe=nprobe, k=k, exclude_ids=exclude_ids,
        id_col=id_col, vec_col=vec_col, refine=(k_factor, None),
    )
