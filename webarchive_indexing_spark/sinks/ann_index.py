"""Persisted IVF ANN index (SURVEY.md §2.11 L3 — the production
shape: TRAIN ONCE, STORE, PROBE MANY).

Every in-query IVF variant re-trains and re-assigns per query; a
serving system builds the index once and answers queries against the
stored artifact.  The store is two pieces:

* ``centroids.json`` — the coarse quantizer, a model artifact of
  ``n_cents × dim`` floats (driver-sized by construction);
* ``vectors/`` — the corpus hive-partitioned by ``cell=`` (the IVF
  inverted lists AS directory layout).

The payoff is that a probe becomes PARTITION PRUNING: reading
``nprobe`` cells lists and scans only those directories — Spark never
touches the other ``n_cents − nprobe`` lists' files, the exact
analogue of FAISS skipping inverted lists (plan-asserted in
tests/test_plans.py: the probe scan shows ``cell`` PartitionFilters
and no full-corpus scan).  Assignment uses the SAME
``ivf_cell_expr`` the in-query probes use, so the stored layout and
any later probe's arithmetic can never disagree.

At 100 TB: the build is one training pass (``train_frac`` bounds it)
plus one assignment scan + hive write; each query then costs
O(corpus × nprobe / n_cents) scan bytes with zero shuffles.
"""

from __future__ import annotations

import json
import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.similarity import require_finite
from .zipnum import _fs_for, _join, local_frame

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
        from ..operators.similarity import sql_isin

        return df.filter(~sql_isin(id_col, sorted(tombs)))
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
    from ..operators.similarity import ivf_cell_expr

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
        .withColumn("cell", ivf_cell_expr(cents, vec_col))
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
    from ..operators.similarity import ivf_cell_expr
    from ..queries.helpers import widen_narrow

    cents = lloyd_train(
        embeddings, k=n_cents, iters=train_iters, dim=dim,
        id_col=id_col, vec_col=vec_col, train_frac=train_frac,
    )
    (
        # same widen + cell-clustered write as the flat store (file
        # count stays one per inverted list)
        _int8_frame(
            widen_narrow(embeddings), ivf_cell_expr(cents, vec_col),
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
    from ..operators.similarity import ivf_cell_expr

    store = resolve_store(out_dir)
    cents = read_ivf_centroids(store)
    fixed = {id_col, "cell", "scale", "q"}
    attrs = [
        c
        for c in embeddings.sparkSession.read.parquet(
            _join(store, "sq")
        ).schema.names
        if c not in fixed
    ]
    (
        _int8_frame(
            embeddings, ivf_cell_expr(cents, vec_col), id_col, vec_col,
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
    """Top-k from the SQ8 store: partition pruning to the nprobe
    ``cell=`` directories (FAISS inverted-list skip), map-side
    dequantize ``q·scale/127`` + 6dp cosine against the inlined query
    literal, TakeOrderedAndProject — zero shuffles, ~4× fewer scan
    bytes than the flat store at a small recall cost.  Tombstones
    (root-level) and the CURRENT pointer behave exactly like the
    sibling probes (one resolve per request); ``where`` filters on
    stored attribute columns (``write_ivfsq_index(attrs=...)``)
    BEFORE top-k, pushed into the pruned scan."""
    out = _ivfsq_scored_frame(
        spark, out_dir, qv, nprobe=nprobe, exclude_id=exclude_id,
        where=where, id_col=id_col,
    )
    return out.orderBy(F.col("cos_sim").desc(), F.col(id_col).asc()).limit(k)


def _ivfsq_scored_frame(
    spark: SparkSession,
    out_dir: str,
    qv: list[float],
    *,
    nprobe: int,
    exclude_id: int | None,
    where: str | None,
    id_col: str,
) -> DataFrame:
    """Shared SQ8 probe body: pruned ``cell=`` scan → tombstone/attr
    filters → dequantized 6dp cosine.  Both the top-k probe and the
    range probe rank THIS frame, so the two serving modes can never
    score a vector differently."""
    from ..operators.similarity import (
        cosine,
        ivf_probe_cells,
        lit_double_array,
    )
    from ..queries.helpers import hround

    require_finite([qv], "ivfsq_index_probe")
    store = resolve_store(out_dir)
    cents = read_ivf_centroids(store)
    probe = ivf_probe_cells(cents, qv, nprobe)
    df = _store_scan(spark, store, "sq").filter(
        F.col("cell").isin(probe)
    )
    if exclude_id is not None:
        df = df.filter(F.col(id_col) != exclude_id)
    if where is not None:
        df = df.filter(where)
    df = _exclude_ids(spark, df, read_ann_tombstones(out_dir), id_col)
    deq = F.transform(
        F.col("q"),
        lambda v: v.cast("double") * F.col("scale") / F.lit(127.0),
    )
    return df.select(
        F.col(id_col),
        F.col("cell"),
        hround(cosine(deq, lit_double_array(qv)), 6).alias("cos_sim"),
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
    ``IndexIVFScalarQuantizer.range_search`` semantics): every stored
    vector in the probed cells whose DEQUANTIZED cosine similarity is
    ``>= radius`` — no k, the result size is data-dependent.  Same
    pruned scan / tombstone / ``where`` path as the top-k probe (one
    shared scored frame); the radius cut applies to the 6dp-rounded
    score so Spark and the DuckDB twin agree at the boundary.  FAISS
    returns range hits unordered; we order by (sim DESC, id) for
    determinism.  Plan: pruned FileScan → map-side score → filter →
    sort, zero joins, one final ordering exchange."""
    out = _ivfsq_scored_frame(
        spark, out_dir, qv, nprobe=nprobe, exclude_id=exclude_id,
        where=where, id_col=id_col,
    )
    return out.filter(F.col("cos_sim") >= radius).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
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
    """Batch serving over the SQ8 store — completes the batch parity
    across all three payload layouts (flat / SQ8 / PQ): one ``sq``
    scan pruned to the UNION of the requests' probe cells, per-row
    dequantize ``q·scale/127`` ONCE (shared by every request's arm),
    per-request 6dp cosine against the inlined query literal (struct
    fan-out, NULL = not this request's cell / filtered), per-request
    top-k via one ``request_no`` window — the plan's only Exchange.
    ``wheres`` carries per-request attribute predicates exactly like
    the flat batch (uniform predicate pushes scan-side).  Each
    request's rows hash-match its one-at-a-time
    ``ivfsq_index_probe_topk``."""
    from ..operators.similarity import (
        cosine,
        ivf_probe_cells,
        lit_double_array,
    )
    from ..queries.helpers import hround

    if not query_vecs:
        raise ValueError("probe batch needs at least one query vector")
    require_finite(query_vecs, "ivfsq_index_probe_batch_topk")
    excl = exclude_ids or [None] * len(query_vecs)
    if len(excl) != len(query_vecs):
        raise ValueError("exclude_ids must align with query_vecs")
    whs = wheres or [None] * len(query_vecs)
    if len(whs) != len(query_vecs):
        raise ValueError("wheres must align with query_vecs")
    store = resolve_store(out_dir)
    cents = read_ivf_centroids(store)
    probes = [ivf_probe_cells(cents, qv, nprobe) for qv in query_vecs]
    union_cells = sorted({c for p in probes for c in p})

    df = _store_scan(spark, store, "sq").filter(
        F.col("cell").isin(union_cells)
    )
    if whs[0] is not None and all(w == whs[0] for w in whs):
        df = df.filter(whs[0])
        whs = [None] * len(query_vecs)
    df = _exclude_ids(spark, df, read_ann_tombstones(out_dir), id_col)
    deq = F.transform(
        F.col("q"),
        lambda v: v.cast("double") * F.col("scale") / F.lit(127.0),
    )
    df = df.withColumn("__deq", deq)
    entries = []
    for i, qv in enumerate(query_vecs):
        member = F.col("cell").isin(sorted(probes[i]))
        if excl[i] is not None:
            member = member & (F.col(id_col) != int(excl[i]))
        if whs[i] is not None:
            member = member & F.expr(whs[i])
        sim = hround(cosine(F.col("__deq"), lit_double_array(qv)), 6)
        entries.append(
            F.struct(
                F.lit(i).alias("request_no"),
                F.when(member, sim).alias("cos_sim"),
            )
        )
    hits = (
        df.select(
            F.col(id_col),
            F.col("cell"),
            F.explode(F.array(*entries)).alias("e"),
        )
        .select(
            F.col("e.request_no").alias("request_no"),
            F.col(id_col),
            F.col("cell"),
            F.col("e.cos_sim").alias("cos_sim"),
        )
        .filter(F.col("cos_sim").isNotNull())
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("request_no").orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        hits.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("request_no", id_col, "cell", "cos_sim")
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
    """Batch RANGE serving over the SQ8 store — the last cell of the
    layout × mode serving matrix (flat/SQ8/PQ, single/batch,
    top-k/range): one union-pruned ``sq`` scan, per-row dequantize
    ONCE shared by every request's arm, per-request radius floors on
    the dequantized 6dp cosine applied map-side in the struct arms —
    no window (range needs no per-request top-k), one output-ordering
    exchange, ~4× fewer scan bytes than the flat batch.  Each
    request's rows hash-match its one-at-a-time
    ``ivfsq_index_probe_range``."""
    from ..operators.similarity import (
        cosine,
        ivf_probe_cells,
        lit_double_array,
    )
    from ..queries.helpers import hround

    if not query_vecs:
        raise ValueError("probe batch needs at least one query vector")
    require_finite(query_vecs, "ivfsq_index_probe_batch_range")
    if len(radii) != len(query_vecs):
        raise ValueError("radii must align with query_vecs")
    excl = exclude_ids or [None] * len(query_vecs)
    if len(excl) != len(query_vecs):
        raise ValueError("exclude_ids must align with query_vecs")
    whs = wheres or [None] * len(query_vecs)
    if len(whs) != len(query_vecs):
        raise ValueError("wheres must align with query_vecs")
    store = resolve_store(out_dir)
    cents = read_ivf_centroids(store)
    probes = [ivf_probe_cells(cents, qv, nprobe) for qv in query_vecs]
    union_cells = sorted({c for p in probes for c in p})

    df = _store_scan(spark, store, "sq").filter(
        F.col("cell").isin(union_cells)
    )
    if whs[0] is not None and all(w == whs[0] for w in whs):
        df = df.filter(whs[0])
        whs = [None] * len(query_vecs)
    df = _exclude_ids(spark, df, read_ann_tombstones(out_dir), id_col)
    deq = F.transform(
        F.col("q"),
        lambda v: v.cast("double") * F.col("scale") / F.lit(127.0),
    )
    df = df.withColumn("__deq", deq)
    entries = []
    for i, qv in enumerate(query_vecs):
        member = F.col("cell").isin(sorted(probes[i]))
        if excl[i] is not None:
            member = member & (F.col(id_col) != int(excl[i]))
        if whs[i] is not None:
            member = member & F.expr(whs[i])
        sim = hround(cosine(F.col("__deq"), lit_double_array(qv)), 6)
        member = member & (sim >= F.lit(float(radii[i])))
        entries.append(
            F.struct(
                F.lit(i).alias("request_no"),
                F.when(member, sim).alias("cos_sim"),
            )
        )
    return (
        df.select(
            F.col(id_col),
            F.col("cell"),
            F.explode(F.array(*entries)).alias("e"),
        )
        .select(
            F.col("e.request_no").alias("request_no"),
            F.col(id_col),
            F.col("cell"),
            F.col("e.cos_sim").alias("cos_sim"),
        )
        .filter(F.col("cos_sim").isNotNull())
        .orderBy(
            F.col("request_no").asc(),
            F.col("cos_sim").desc(),
            F.col(id_col).asc(),
        )
    )


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
    from ..operators.similarity import ivf_cell_expr

    store = resolve_store(out_dir)
    cents = read_ivf_centroids(store)
    (
        embeddings.withColumn("cell", ivf_cell_expr(cents, vec_col))
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
    cells on whole vectors + one sub-codebook per subspace (identical
    chains to ``operators.similarity.ivfadc_residual_topk``, so the
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
    from ..operators.kmeans import lloyd_train
    from ..operators.similarity import (
        nearest_sqdist6_expr,
        residual_codeword_tables,
        residual_encode_exprs,
    )

    assert dim % n_sub == 0
    sub_dim = dim // n_sub
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
    # The coarse quantizer and the n_sub sub-codebooks are INDEPENDENT
    # Lloyd chains over the same (rotated) frame — train them from a
    # small driver thread pool (guide §2.6) so each training's
    # kilobyte-scale update actions overlap instead of paying
    # (1 + n_sub) sequential seed-collect + update walls.  Each chain
    # is internally sequential (Lloyd is a barrier per iteration);
    # only the chains interleave, and each returns a plain dict, so
    # results are deterministic regardless of completion order.
    from concurrent.futures import ThreadPoolExecutor

    def _train_coarse() -> dict[int, list[float]]:
        return lloyd_train(
            embeddings, k=n_cells, iters=train_iters, dim=dim,
            id_col=id_col, vec_col=vec_col, train_frac=train_frac,
        )

    def _train_sub(m: int) -> dict[int, list[float]]:
        sub = embeddings.select(
            F.col(id_col),
            F.slice(F.col(vec_col), m * sub_dim + 1, sub_dim).alias("subvec"),
        )
        return lloyd_train(
            sub, k=k_codes, iters=train_iters, dim=sub_dim,
            id_col=id_col, vec_col="subvec", train_frac=train_frac,
        )

    with ThreadPoolExecutor(max_workers=3) as pool:
        coarse_fut = pool.submit(_train_coarse)
        sub_futs = [pool.submit(_train_sub, m) for m in range(n_sub)]
        cents = coarse_fut.result()
        cbooks: list[dict[int, list[float]]] = [f.result() for f in sub_futs]
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
    _store: str | None = None,
    _rotated: bool = False,
    _model: tuple | None = None,
) -> DataFrame:
    """Top-k approximate neighbors from the PQ-coded store: rank probe
    cells driver-side (quantizer math), scan ONLY those ``cell=``
    directories — and the scan reads CODES, not vectors (the 16-32×
    byte saving is the whole point; plan-asserted: ReadSchema carries
    ``j0..``, no embedding column exists to read) — then the ADC
    literal-table sum ranks rows map-side.  Zero shuffles,
    TakeOrderedAndProject.  Honors tombstones like the flat probe.
    ``where`` filters on stored attribute columns (built with
    ``write_ivfpq_index(attrs=...)``) BEFORE top-k, pushed into the
    pruned scan — see ``ivf_index_probe_topk``.

    The CURRENT pointer resolves ONCE (``_store`` lets a composing
    caller pin the version): model and data must come from the SAME
    version or a concurrent pointer swap could pair v1 centroids with
    v2 partitions — silently wrong cells.  Tombstones read from the
    ROOT, where they span versions."""
    out = _ivfpq_scored_frame(
        spark, out_dir, qv, nprobe=nprobe, exclude_id=exclude_id,
        where=where, id_col=id_col, _store=_store, _rotated=_rotated,
        _model=_model,
    )
    return out.orderBy(F.col("approx_dist").asc(), F.col(id_col).asc()).limit(k)


def _ivfpq_scored_frame(
    spark: SparkSession,
    out_dir: str,
    qv: list[float],
    *,
    nprobe: int,
    exclude_id: int | None,
    where: str | None,
    id_col: str,
    _store: str | None,
    _rotated: bool,
    _model: tuple | None = None,
) -> DataFrame:
    """Shared PQ-store probe body: pruned CODES scan → tombstone/attr
    filters → map-side ADC distance.  The top-k and range probes both
    rank THIS frame — one scoring path for both serving modes.
    ``_model`` lets a composing caller that already read the pinned
    version's model (for query rotation) hand it through instead of
    paying a second pq.json + codebook parse per request."""
    from ..operators.similarity import (
        py_sqdist6,
        residual_adc_expr,
        residual_query_tables,
    )

    require_finite([qv], "ivfpq_index_probe")
    store = _store or resolve_store(out_dir)
    cents, cbooks, _meta = _model or read_ivfpq_model(store)
    if not _rotated:
        qv = _opq_rotate_query(_meta, qv)
    probe = sorted(cents, key=lambda c: (py_sqdist6(qv, cents[c]), c))[:nprobe]
    qd_sql = residual_query_tables(cents, cbooks, qv)
    df = _store_scan(spark, store, "codes").filter(
        F.col("cell").isin(probe)
    )
    if exclude_id is not None:
        df = df.filter(F.col(id_col) != exclude_id)
    if where is not None:
        df = df.filter(where)
    df = _exclude_ids(spark, df, read_ann_tombstones(out_dir), id_col)
    return df.selectExpr(
        id_col, "cell", residual_adc_expr(qd_sql) + " AS approx_dist"
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
    DISTANCE is ``<= radius`` — a distance threshold, matching
    FAISS's L2-metric range semantics on quantized indexes, where the
    cut applies to the approximate (ADC) distance the scan can
    compute from codes alone.  Same pruned codes-only scan (no vector
    bytes), tombstones, and pushed ``where`` as the top-k probe via
    one shared scored frame; ordered (dist ASC, id) for determinism.
    OPQ-preconditioned stores rotate the query with the stored
    reflector exactly like top-k."""
    out = _ivfpq_scored_frame(
        spark, out_dir, qv, nprobe=nprobe, exclude_id=exclude_id,
        where=where, id_col=id_col, _store=None, _rotated=False,
    )
    return out.filter(F.col("approx_dist") <= radius).orderBy(
        F.col("approx_dist").asc(), F.col(id_col).asc()
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
    _store: str | None = None,
    _rotated: bool = False,
    _model: tuple | None = None,
) -> DataFrame:
    """N query vectors answered in ONE job over the PQ-coded store —
    the FAISS batched ``search()`` / cc-index-server amortization
    (``cdx_query_batch`` applied to vector search): a serving system
    answers request BATCHES, not one driver-scheduled job per vector.

    Plan, in order:

    1. ONE codes scan whose partition filter is the UNION of every
       request's probe cells — block IO is bounded by the union, not
       N × nprobe directory reads re-opening shared cells
       (plan-asserted: single FileScan, ``cell`` PartitionFilters).
    2. Per-request ADC distances from the per-query literal lookup
       tables (the ``cdx_query_batch`` CASE-chain slot): each row
       emits a struct per request whose probe set contains the row's
       cell — ``inline(filter(array(...)))``, map-side, built as ONE
       SQL string (BASELINE.md: py4j Column-building cost).
    3. Per-request top-k via ONE window over ``request_no`` — the
       only shuffle in the plan, carrying k-bounded candidate rows
       per (request, cell) rather than the corpus.

    Exclusions (each request hiding its own query row) ride inside
    the per-request arm; ``wheres`` adds a per-request ATTRIBUTE
    predicate to the same arm (round 12 filtered search — columns
    stored via ``write_ivfpq_index(attrs=...)``; a predicate shared
    by every request is pushed scan-side instead); tombstones apply
    once, scan-side, shared by every request.  Returns ``request_no``
    (the position in ``query_vecs``) + the same columns as the single
    probe, each request's rows hash-matching its one-at-a-time twin.
    Pointer resolution happens once (see ``ivfpq_index_probe_topk``)."""
    from ..operators.similarity import (
        py_sqdist6,
        residual_adc_expr,
        residual_query_tables,
    )

    if not query_vecs:
        raise ValueError("probe batch needs at least one query vector")
    require_finite(query_vecs, "ivfpq_index_probe_batch_topk")
    excl = exclude_ids or [None] * len(query_vecs)
    if len(excl) != len(query_vecs):
        raise ValueError("exclude_ids must align with query_vecs")
    whs = wheres or [None] * len(query_vecs)
    if len(whs) != len(query_vecs):
        raise ValueError("wheres must align with query_vecs")
    store = _store or resolve_store(out_dir)
    cents, cbooks, _meta = _model or read_ivfpq_model(store)
    if not _rotated:
        query_vecs = [_opq_rotate_query(_meta, q) for q in query_vecs]

    scan_where = None
    if whs[0] is not None and all(w == whs[0] for w in whs):
        scan_where, whs = whs[0], [None] * len(query_vecs)

    union_cells: set[int] = set()
    arms: list[str] = []
    for i, qv in enumerate(query_vecs):
        probe = sorted(
            cents, key=lambda c: (py_sqdist6(qv, cents[c]), c)
        )[:nprobe]
        union_cells.update(probe)
        adc = residual_adc_expr(residual_query_tables(cents, cbooks, qv))
        cond = f"cell IN ({','.join(str(c) for c in probe)})"
        if excl[i] is not None:
            cond += f" AND {id_col} <> {int(excl[i])}"
        if whs[i] is not None:
            cond += f" AND ({whs[i]})"
        arms.append(
            f"named_struct('request_no', {i}, 'approx_dist', "
            f"CASE WHEN {cond} THEN {adc} END)"
        )

    df = _store_scan(spark, store, "codes").filter(
        F.col("cell").isin(sorted(union_cells))
    )
    if scan_where is not None:
        df = df.filter(scan_where)
    df = _exclude_ids(spark, df, read_ann_tombstones(out_dir), id_col)
    hits = df.selectExpr(
        id_col,
        "cell",
        "inline(filter(array("
        + ",".join(arms)
        + "), s -> s.approx_dist IS NOT NULL))",
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("request_no").orderBy(
        F.col("approx_dist").asc(), F.col(id_col).asc()
    )
    return (
        hits.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("request_no", id_col, "cell", "approx_dist")
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
    requests from ONE union-pruned CODES scan, per-request ADC in the
    struct arms, each request's DISTANCE ceiling applied map-side via
    a request_no CASE — like the flat batch range there is NO window
    (range needs no per-request top-k), so the only exchange is the
    final output ordering, and no vector bytes are read.  Each
    request's rows hash-match its one-at-a-time
    ``ivfpq_index_probe_range`` answer; OPQ stores rotate every query
    with the stored reflector."""
    from ..operators.similarity import (
        py_sqdist6,
        residual_adc_expr,
        residual_query_tables,
    )

    if not query_vecs:
        raise ValueError("probe batch needs at least one query vector")
    require_finite(query_vecs, "ivfpq_index_probe_batch_range")
    if len(radii) != len(query_vecs):
        raise ValueError("radii must align with query_vecs")
    excl = exclude_ids or [None] * len(query_vecs)
    if len(excl) != len(query_vecs):
        raise ValueError("exclude_ids must align with query_vecs")
    whs = wheres or [None] * len(query_vecs)
    if len(whs) != len(query_vecs):
        raise ValueError("wheres must align with query_vecs")
    store = resolve_store(out_dir)
    cents, cbooks, _meta = read_ivfpq_model(store)
    query_vecs = [_opq_rotate_query(_meta, q) for q in query_vecs]

    scan_where = None
    if whs[0] is not None and all(w == whs[0] for w in whs):
        scan_where, whs = whs[0], [None] * len(query_vecs)

    union_cells: set[int] = set()
    arms: list[str] = []
    for i, qv in enumerate(query_vecs):
        probe = sorted(
            cents, key=lambda c: (py_sqdist6(qv, cents[c]), c)
        )[:nprobe]
        union_cells.update(probe)
        adc = residual_adc_expr(residual_query_tables(cents, cbooks, qv))
        cond = f"cell IN ({','.join(str(c) for c in probe)})"
        if excl[i] is not None:
            cond += f" AND {id_col} <> {int(excl[i])}"
        if whs[i] is not None:
            cond += f" AND ({whs[i]})"
        arms.append(
            f"named_struct('request_no', {i}, 'approx_dist', "
            f"CASE WHEN {cond} THEN {adc} END)"
        )

    df = _store_scan(spark, store, "codes").filter(
        F.col("cell").isin(sorted(union_cells))
    )
    if scan_where is not None:
        df = df.filter(scan_where)
    df = _exclude_ids(spark, df, read_ann_tombstones(out_dir), id_col)
    hits = df.selectExpr(
        id_col,
        "cell",
        "inline(filter(array("
        + ",".join(arms)
        + "), s -> s.approx_dist IS NOT NULL))",
    )
    cut = "CASE request_no " + " ".join(
        f"WHEN {i} THEN {float(r)!r}D" for i, r in enumerate(radii)
    ) + " END"
    return (
        hits.filter(F.expr(f"approx_dist <= {cut}"))
        .select("request_no", id_col, "cell", "approx_dist")
        .orderBy(
            F.col("request_no").asc(),
            F.col("approx_dist").asc(),
            F.col(id_col).asc(),
        )
    )


def _refine_source(
    spark: SparkSession,
    store: str,
    cells: list[int],
    ids: list[int],
    id_col: str,
    vec_col: str,
):
    """The refine sidecar scan + its vector expression, shared by the
    single and batch refine paths so the dequantize algebra and the
    no-sidecar error can never diverge: prune to the CANDIDATES' cells
    + a pushed-down id In filter; flat sidecars re-rank on the raw
    vectors, int8 on the dequantized ``q·scale/127`` (exact-IEEE,
    oracle twin).  ``store`` is an already-resolved version path."""
    from ..operators.similarity import sql_isin

    kind = read_ivfpq_model(store)[2].get("refine")
    if not kind:
        raise ValueError(
            f"store {store!r} has no refine sidecar — rebuild with "
            f"write_ivfpq_index(refine='flat'|'int8') or pass "
            f"vectors_src explicitly"
        )
    side = (
        _store_scan(spark, store, "refine")
        .filter(F.col("cell").isin(sorted(cells)))
        # the candidate list is k·k_factor·N ids: one parsed IN, and
        # FALSE when the probe returned no candidate
        .filter(sql_isin(id_col, sorted(ids)))
    )
    if kind == "flat":
        vec = F.col(vec_col)
    else:  # int8: dequantize q·scale/127 (exact-IEEE, oracle twin)
        vec = F.transform(
            F.col("q"),
            lambda v: v.cast("double") * F.col("scale") / F.lit(127.0),
        )
    return side, vec


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
    """Batch serving COMPOSED with the refine stage — the full
    production request path in two jobs for N queries: (1) the batch
    ADC probe over-fetches ``k·k_factor`` candidates per request from
    one union-of-cells pruned codes scan; (2) ONE sidecar scan, pruned
    to the union of candidate cells + a pushed-down union-of-ids In
    filter, re-ranks every (request, candidate) pair exactly — each
    row fans out to the requests it is a candidate for via a struct
    array (NULL cos_sim = not this request's candidate, filtered), and
    per-request top-k is one ``request_no`` window.  Per-request rows
    hash-match the one-at-a-time ``ivfpq_refined_topk`` loop: batching
    changes the job count (2 vs 2·N), never the answer."""
    from ..operators.similarity import cosine, lit_double_array, sql_isin
    from ..queries.helpers import hround

    require_finite(query_vecs, "ivfpq_refined_batch_topk")
    # resolve the CURRENT pointer ONCE: the ADC probe and the refine
    # sidecar must read the SAME version even if a swap lands mid-way
    store = resolve_store(out_dir)
    model = read_ivfpq_model(store)
    query_vecs = [_opq_rotate_query(model[2], q) for q in query_vecs]
    cand = ivfpq_index_probe_batch_topk(
        spark, out_dir, query_vecs, k=k * k_factor, nprobe=nprobe,
        exclude_ids=exclude_ids, id_col=id_col, _store=store,
        _rotated=True, _model=model,
    )
    rows = cand.select("request_no", id_col, "cell").collect()
    per_req: dict[int, list[int]] = {}
    cells: set[int] = set()
    all_ids: set[int] = set()
    for r in rows:
        per_req.setdefault(int(r["request_no"]), []).append(int(r[id_col]))
        cells.add(int(r["cell"]))
        all_ids.add(int(r[id_col]))
    side, vec = _refine_source(
        spark, store, sorted(cells), sorted(all_ids), id_col, vec_col
    )
    entries = []
    for i, qv in enumerate(query_vecs):
        ids_i = sorted(per_req.get(i, []))
        sim = hround(cosine(vec, lit_double_array(qv)), 6)
        member = sql_isin(id_col, ids_i)
        entries.append(
            F.struct(
                F.lit(i).alias("request_no"),
                F.when(member, sim).alias("cos_sim"),
            )
        )
    hits = (
        side.select(F.col(id_col), F.explode(F.array(*entries)).alias("e"))
        .select(
            F.col("e.request_no").alias("request_no"),
            F.col(id_col),
            F.col("e.cos_sim").alias("cos_sim"),
        )
        .filter(F.col("cos_sim").isNotNull())
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("request_no").orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        hits.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("request_no", id_col, "cos_sim")
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
    serving pattern: the quantized ADC ranking is cheap but lossy, so
    production probes over-fetch ``k × k_factor`` candidates from the
    codes and re-rank just those with exact (or dequantized-int8)
    distances.

    ``vectors_src=None`` reads the STORE-RESIDENT refine sidecar
    written by ``write_ivfpq_index(refine=...)`` — the deployment
    default: the refine source ships with the index under the same
    ``cell=`` hive layout, so re-ranking cannot be pointed at a stale
    or mismatched corpus, and the sidecar scan prunes to the
    CANDIDATES' cells + a pushed-down id In filter (plan-asserted:
    only the candidate rows' files/row groups are touched).  Passing
    a DataFrame re-ranks against that external vector source instead
    (the pre-round-11 shape, kept for corpora indexed elsewhere).

    Cost model at 100 TB: the ADC pass reads nprobe/n_cents of the
    CODES bytes (the PQ saving); the refine pass touches exactly
    ``k·k_factor`` vectors via a driver-sized id list inlined as a
    pushed-down In filter — no join, no shuffle, two jobs total.
    Accuracy: the output is by construction the exact-cosine order of
    the candidate set, so refined recall can only match or beat the
    raw ADC top-k (pinned in tests/test_scale.py).  Tombstones are
    honored upstream: the candidate list comes from the probe, which
    excludes them — a deleted id can never reach the re-rank.
    ``where`` (round 12 filtered search) applies at the SAME place:
    the candidate probe's pushed-down predicate runs before the
    over-fetch, so the re-rank only ever sees k·k_factor
    predicate-passing candidates — filtered refined top-k with
    recall intact."""
    from ..operators.similarity import cosine, lit_double_array, sql_isin
    from ..queries.helpers import hround

    require_finite([qv], "ivfpq_refined_topk")
    # one pointer resolve pins probe + sidecar to the same version
    store = resolve_store(out_dir)
    # an OPQ store's sidecar holds ROTATED vectors: rotate qv once
    # here, share it with the probe (_rotated), and keep the RAW qv
    # for an external vectors_src (which holds unrotated vectors)
    model = read_ivfpq_model(store)
    qv_rot = _opq_rotate_query(model[2], qv)
    cand = ivfpq_index_probe_topk(
        spark, out_dir, qv_rot, k=k * k_factor, nprobe=nprobe,
        exclude_id=exclude_id, where=where, id_col=id_col, _store=store,
        _rotated=True, _model=model,
    )
    rows = cand.select(id_col, "cell").collect()
    ids = [r[id_col] for r in rows]
    if vectors_src is None:
        cells = sorted({int(r["cell"]) for r in rows})
        side, vec = _refine_source(
            spark, store, cells, ids, id_col, vec_col
        )
        out = side.select(
            F.col(id_col),
            hround(cosine(vec, lit_double_array(qv_rot)), 6).alias("cos_sim"),
        )
    else:
        out = vectors_src.filter(sql_isin(id_col, ids)).select(
            F.col(id_col),
            hround(cosine(F.col(vec_col), lit_double_array(qv)), 6).alias(
                "cos_sim"
            ),
        )
    return out.orderBy(F.col("cos_sim").desc(), F.col(id_col).asc()).limit(k)


def read_ivf_centroids(out_dir: str) -> dict[int, list[float]]:
    fs, local = _fs_for(resolve_store(out_dir))
    with fs.open_input_stream(
        _join(local, _CENTROIDS), compression=None
    ) as fh:
        raw = json.loads(fh.read().decode())
    return {int(c): v for c, v in raw.items()}


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
    """Batch serving over the FLAT store — ``ivfpq_index_probe_batch_
    topk``'s exact-cosine twin: one vectors scan pruned to the UNION
    of the requests' probe cells, per-request 6dp cosine against the
    inlined query literal (struct fan-out, NULL = not this request's
    cell), per-request top-k via one ``request_no`` window.  Each
    request's rows hash-match its one-at-a-time probe.

    ``wheres`` carries a PER-REQUEST attribute predicate (round 12
    filtered search — see ``ivf_index_probe_topk``): each request's
    predicate rides inside its struct arm, map-side, so it filters
    BEFORE that request's top-k while every request still shares the
    one union-pruned scan; a predicate shared by EVERY request is
    additionally pushed scan-side (PushedFilters), shrinking the scan
    itself."""
    from ..operators.similarity import (
        cosine,
        ivf_probe_cells,
        lit_double_array,
    )
    from ..queries.helpers import hround

    if not query_vecs:
        raise ValueError("probe batch needs at least one query vector")
    require_finite(query_vecs, "ivf_index_probe_batch_topk")
    excl = exclude_ids or [None] * len(query_vecs)
    if len(excl) != len(query_vecs):
        raise ValueError("exclude_ids must align with query_vecs")
    whs = wheres or [None] * len(query_vecs)
    if len(whs) != len(query_vecs):
        raise ValueError("wheres must align with query_vecs")
    store = resolve_store(out_dir)
    cents = read_ivf_centroids(store)
    probes = [ivf_probe_cells(cents, qv, nprobe) for qv in query_vecs]
    union_cells = sorted({c for p in probes for c in p})

    df = _store_scan(spark, store, "vectors").filter(
        F.col("cell").isin(union_cells)
    )
    if whs[0] is not None and all(w == whs[0] for w in whs):
        # uniform predicate: push it into the scan once and skip the
        # per-arm copies (common serving shape — one tenant filter)
        df = df.filter(whs[0])
        whs = [None] * len(query_vecs)
    df = _exclude_ids(spark, df, read_ann_tombstones(out_dir), id_col)
    entries = []
    for i, qv in enumerate(query_vecs):
        member = F.col("cell").isin(sorted(probes[i]))
        if excl[i] is not None:
            member = member & (F.col(id_col) != int(excl[i]))
        if whs[i] is not None:
            member = member & F.expr(whs[i])
        sim = hround(cosine(F.col(vec_col), lit_double_array(qv)), 6)
        entries.append(
            F.struct(
                F.lit(i).alias("request_no"),
                F.when(member, sim).alias("cos_sim"),
            )
        )
    hits = (
        df.select(
            F.col(id_col),
            F.col("cell"),
            F.explode(F.array(*entries)).alias("e"),
        )
        .select(
            F.col("e.request_no").alias("request_no"),
            F.col(id_col),
            F.col("cell"),
            F.col("e.cos_sim").alias("cos_sim"),
        )
        .filter(F.col("cos_sim").isNotNull())
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("request_no").orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        hits.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("request_no", id_col, "cell", "cos_sim")
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
    requests answered by ONE vectors scan pruned to the union of
    their probe cells, each request's radius cut applied map-side
    inside its struct arm.  Range needs no per-request top-k, so
    unlike the batch top-k probes there is NO window — the plan's
    only exchange is the final output ordering; batch range serving
    is shuffle-free ranking at any request count.  Per-request
    ``exclude_ids``/``wheres`` compose exactly like the top-k batch;
    each request's rows hash-match its one-at-a-time
    ``ivf_index_probe_range`` answer."""
    from ..operators.similarity import (
        cosine,
        ivf_probe_cells,
        lit_double_array,
    )
    from ..queries.helpers import hround

    if not query_vecs:
        raise ValueError("probe batch needs at least one query vector")
    require_finite(query_vecs, "ivf_index_probe_batch_range")
    if len(radii) != len(query_vecs):
        raise ValueError("radii must align with query_vecs")
    excl = exclude_ids or [None] * len(query_vecs)
    if len(excl) != len(query_vecs):
        raise ValueError("exclude_ids must align with query_vecs")
    whs = wheres or [None] * len(query_vecs)
    if len(whs) != len(query_vecs):
        raise ValueError("wheres must align with query_vecs")
    store = resolve_store(out_dir)
    cents = read_ivf_centroids(store)
    probes = [ivf_probe_cells(cents, qv, nprobe) for qv in query_vecs]
    union_cells = sorted({c for p in probes for c in p})

    df = _store_scan(spark, store, "vectors").filter(
        F.col("cell").isin(union_cells)
    )
    if whs[0] is not None and all(w == whs[0] for w in whs):
        df = df.filter(whs[0])
        whs = [None] * len(query_vecs)
    df = _exclude_ids(spark, df, read_ann_tombstones(out_dir), id_col)
    entries = []
    for i, qv in enumerate(query_vecs):
        member = F.col("cell").isin(sorted(probes[i]))
        if excl[i] is not None:
            member = member & (F.col(id_col) != int(excl[i]))
        if whs[i] is not None:
            member = member & F.expr(whs[i])
        sim = hround(cosine(F.col(vec_col), lit_double_array(qv)), 6)
        member = member & (sim >= F.lit(float(radii[i])))
        entries.append(
            F.struct(
                F.lit(i).alias("request_no"),
                F.when(member, sim).alias("cos_sim"),
            )
        )
    return (
        df.select(
            F.col(id_col),
            F.col("cell"),
            F.explode(F.array(*entries)).alias("e"),
        )
        .select(
            F.col("e.request_no").alias("request_no"),
            F.col(id_col),
            F.col("cell"),
            F.col("e.cos_sim").alias("cos_sim"),
        )
        .filter(F.col("cos_sim").isNotNull())
        .orderBy(
            F.col("request_no").asc(),
            F.col("cos_sim").desc(),
            F.col(id_col).asc(),
        )
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
    """Top-k neighbors from the STORED index: rank the probe cells on
    the driver (quantizer-sized math), then scan ONLY those ``cell=``
    directories — partition pruning does the inverted-list skip, no
    assignment recompute, no shuffle, top-k as TakeOrderedAndProject.

    ``where`` (round 12 — FAISS IDSelector / filtered vector search)
    is a SQL predicate over the store's ATTRIBUTE columns (any extra
    column of the frame ``write_ivf_index`` was given rides the store
    rows, e.g. ``"label = 2"`` or ``"lang = 'en' AND quality > 0.5"``).
    It applies BEFORE top-k, inside the same pruned scan — Catalyst
    pushes it into the parquet FileScan (plan-asserted), so k
    SURVIVORS are returned with recall intact, never k results
    post-filtered down to fewer.

    ``metric`` (round 12 — FAISS METRIC_INNER_PRODUCT / METRIC_L2
    parity): ``cosine`` (default, score column ``cos_sim`` DESC),
    ``ip`` (``dot`` DESC), ``l2`` (``sq_dist`` ASC) — see
    ``_ivf_scored_frame`` for the one-store-many-metrics contract."""
    out = _ivf_scored_frame(
        spark, out_dir, qv, nprobe=nprobe, exclude_id=exclude_id,
        where=where, id_col=id_col, vec_col=vec_col, metric=metric,
    )
    col, desc = _METRIC_COLS[metric]
    order = F.col(col).desc() if desc else F.col(col).asc()
    return out.orderBy(order, F.col(id_col).asc()).limit(k)


#: metric → (score column name, descending?) for the flat-store
#: probes.  FAISS METRIC_* parity on the QUERY side: cosine and inner
#: product rank descending, squared L2 ascending.
_METRIC_COLS = {
    "cosine": ("cos_sim", True),
    "ip": ("dot", True),
    "l2": ("sq_dist", False),
}


def _ivf_scored_frame(
    spark: SparkSession,
    out_dir: str,
    qv: list[float],
    *,
    nprobe: int,
    exclude_id: int | None,
    where: str | None,
    id_col: str,
    vec_col: str,
    metric: str = "cosine",
) -> DataFrame:
    """Shared flat-store probe body: pruned ``cell=`` scan →
    tombstone/attr filters → exact 6dp score under ``metric``.  The
    top-k and range probes both rank THIS frame — the two serving
    modes share one scoring path by construction.

    ``metric`` (round 12 — serving-side FAISS METRIC_* parity over
    ONE stored index): ``cosine``/``ip``/``l2`` select both the
    probe-cell ranking and the survivor score.  The store's coarse
    ASSIGNMENT stays the build-time cosine argmax — the flat store
    keeps whole vectors, so any metric can be served from the same
    parquet without a rebuild (a flexibility FAISS, whose quantizer
    owns one metric, does not have; recall under a non-build metric
    degrades gracefully with nprobe exactly like any IVF probe)."""
    from ..operators.similarity import (
        cosine,
        dot6,
        ivf_probe_cells,
        lit_double_array,
        sqdist6,
    )
    from ..queries.helpers import hround

    if metric not in _METRIC_COLS:
        raise ValueError(f"unknown metric {metric!r}")
    require_finite([qv], "ivf_index_probe")
    store = resolve_store(out_dir)
    cents = read_ivf_centroids(store)
    probe = ivf_probe_cells(cents, qv, nprobe, metric=metric)
    df = _store_scan(spark, store, "vectors").filter(
        F.col("cell").isin(probe)
    )
    if exclude_id is not None:
        df = df.filter(F.col(id_col) != exclude_id)
    if where is not None:
        df = df.filter(where)
    # deleted vectors never surface at ANY nprobe: the exclusion list
    # is metadata-sized (LSM contract), inlined as a scan filter — no
    # join, no shuffle, plan shape unchanged (broadcast anti-join
    # fallback past TOMBSTONE_ISIN_MAX keeps a never-compacted store
    # correct)
    df = _exclude_ids(spark, df, read_ann_tombstones(out_dir), id_col)
    q = lit_double_array(qv)
    if metric == "cosine":
        score = hround(cosine(F.col(vec_col), q), 6)
    elif metric == "ip":
        score = dot6(F.col(vec_col), q)
    else:
        score = sqdist6(F.col(vec_col), q)
    col, _desc = _METRIC_COLS[metric]
    return df.select(F.col(id_col), F.col("cell"), score.alias(col))


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
    """RANGE search over the flat store (FAISS ``range_search``
    semantics, the serving mode ``search``/top-k cannot express):
    every stored vector in the probed cells past the radius — no k,
    result size is data-dependent (duplicate sweeps, recall audits,
    similar-content takedowns all want *all* hits past a threshold,
    not the nearest k).  Shares the scored frame with
    ``ivf_index_probe_topk`` (same pruned scan, tombstones, pushed
    ``where``); the cut applies to the 6dp-rounded score so the
    boundary is engine-portable.  Under ``cosine``/``ip`` the cut is
    ``score >= radius``; under ``l2`` it is ``sq_dist <= radius``
    (FAISS's distance-threshold convention).  FAISS returns range
    hits unordered; we order (score, id) for determinism.  Plan:
    pruned FileScan → map-side score → filter → sort; zero joins, no
    shuffle beyond the final ordering."""
    out = _ivf_scored_frame(
        spark, out_dir, qv, nprobe=nprobe, exclude_id=exclude_id,
        where=where, id_col=id_col, vec_col=vec_col, metric=metric,
    )
    col, desc = _METRIC_COLS[metric]
    cut = F.col(col) >= radius if desc else F.col(col) <= radius
    order = F.col(col).desc() if desc else F.col(col).asc()
    return out.filter(cut).orderBy(order, F.col(id_col).asc())
