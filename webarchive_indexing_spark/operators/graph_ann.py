"""Graph-based ANN store (rounds 13–14): a persisted kNN
NEIGHBOR-GRAPH with the full store lifecycle (bucketed layout,
candidate-driven builds, LSM append/delete/compact, versioned
publish) and a bounded BEAM-SEARCH probe over it.

Production vector stores reach their highest recall-per-candidate
with navigable small-world graphs (HNSW): serving walks the graph
greedily from entry points, scoring only the frontier's neighbors.
The Spark-native rendering keeps the exact cost model while staying
fully relational and oracle-checkable:

* **Store** = two hive-bucketed tables: ``vectors/`` partitioned by
  ``id_bucket = id % n_buckets`` and ``graph/`` — the SYMMETRIZED kNN
  edge table, partitioned by ``src_bucket = src % n_buckets``.  Each
  node keeps its top ``k_neighbors`` by 6dp-rounded cosine
  (deterministic ties by id), union reverse edges.  Symmetrization is
  load-bearing, not cosmetic: a directed kNN graph is weakly
  navigable (hub nodes collect in-edges and dead-end the walk —
  measured recall 0.48 vs 0.87 on the fixture at equal budget), and
  reverse edges are exactly the long-range escape routes NSW-family
  graphs rely on.  The bucket partitioning is what makes SERVING
  independent of corpus size: a frontier of B ids touches at most B
  ``src_bucket=`` directories, never the whole edge table.
* **Builds** are candidate-driven: the default is the exact all-pairs
  self-join (right for a bounded fixture base), and ``candidates=``
  accepts any generator with the ``operators/similarity.py``
  ``blocked_pairs`` contract — LSH/grid blocking, quantizer-cell
  blocking, or an NN-descent refinement loop — so a 100 TB corpus
  never pays O(n²) (round-13 verdict task 1).
* **Probe** = H best-first rounds with a fixed beam width B: score
  the entry points; each round expands the current beam's
  out-neighbors MINUS the visited set, scores only those, and
  re-ranks the beam over everything visited; the answer is top-k of
  the visited set.  Each hop reads only the beam ids' bucket files of
  the edge store and the fresh ids' bucket files of ``vectors/`` (or
  pushes the ids into the same buckets as STATIC partition + id
  filters, ``PartitionFilters: src_bucket IN (…)``, ``PushedFilters:
  In(src, …)``, when the frontier is large).  Neither table is ever
  broadcast or fully scanned (round-13 verdict: broadcasting the
  corpus-sized edge table was the one scale-killer in the module).

**On the per-hop driver round-trips**: the walk state (visited id →
score) lives DRIVER-SIDE for the whole walk — bounded by the serving
parameters (|entries| + H·B·degree, the HNSW cost shape), never by
the corpus; exactly the candidate set ANY graph-ANN server holds in
memory per request.  The walk generates candidates from the graph and
verifies them on the driver: beams, scores and the final ranking are
all computed in Python.  Each hop makes two bounded frontier reads,
the beam's edges (≤ B·k_neighbors rows) and the fresh ids' vectors,
and scores the fresh (request, id) pairs with ``py_cosine6``, the
exact numpy twin of the ``hround(cosine, 6)`` Spark expression every
other path scores with, so rows are bit-identical to the oracle's.
While a frontier's bucket files total at most
``spark.sql.files.maxPartitionBytes`` it is read on the driver with
``pyarrow.dataset``; a larger frontier reads through the
frontier-pruned Spark scans, one job per read.  The ranked top-k is
returned as one local relation, so collecting a walk runs no Spark
job.  A greedy graph walk is inherently sequential in hops; trading
the previous "one static plan" unrolling for per-hop static pruning
is what lets the scan read B buckets instead of broadcasting billions
of edges.

**LSM lifecycle** (round-14 — parity with the ZipNum / parquet-index
/ IVF stores): ``append_knn_graph`` adds vectors + their symmetrized
edges as new parquet files under the same bucket layout (old nodes
keep their edge lists; reverse edges give them routes INTO the new
batch); ``delete_from_knn_graph`` files metadata-sized tombstone
batches (the shared ``sinks/ann_index.py`` contract) — deleted ids
are excluded from RESULTS but remain navigable stepping stones (the
standard graph-store semantics: cutting a hub out of the topology
would orphan its neighborhood; physical removal is compaction's
job); ``compact_knn_graph`` re-trims every node to its true top-k
over the accumulated edges and purges tombstoned NODES (and their
edges) physically; ``write_knn_graph_versioned`` /
``append_knn_graph_versioned`` build into an unpublished version
directory (hard-link clone for appends) and atomically swap the
``CURRENT`` pointer — all via the shared version machinery.
"""

from __future__ import annotations

import json
import posixpath
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..queries.helpers import hround, sql_hround
from ..sinks.zipnum import _driver_read_bytes
from ..sqltext import require_finite, sql_isin
from .similarity import (
    PairError,
    _dec_dot,
    cosine,
    cosine_from_parts,
    py_cosine6,
    sql_cosine,
)

META = "_graph.json"

#: fixture-scale default; a production store sizes this so one bucket
#: holds a few HDFS-block-sized files (thousands of buckets at 10^9
#: vectors) — serving cost is per-FRONTIER buckets touched, so more
#: buckets only sharpen the pruning
N_BUCKETS = 16

#: the walks' results, ranked on the driver
_TOPK = T.StructType(
    [T.StructField("vec_id", T.LongType()), T.StructField("cos_sim", T.DoubleType())]
)
_BATCH_TOPK = T.StructType(
    [T.StructField("request_no", T.IntegerType()), *_TOPK.fields]
)


def grid_threshold_candidates(
    threshold: float,
    *,
    n_proj: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> Callable[[DataFrame], DataFrame]:
    """The canonical SCALE-PATH candidate generator for graph builds:
    the lossless ε-grid from ``operators/similarity.py``
    (``grid_blocked_pairs`` over a single trivial block, so the grid
    cells alone bound the candidates), symmetrized to both directions
    for the per-src top-k.  Pair it with ``min_sim=threshold`` on the
    build: the grid guarantees every pair with cos ≥ threshold is a
    candidate, so the resulting edge set is EXACTLY "top-k among
    pairs with cos ≥ threshold" — a logical contract independent of
    the grid, which is what keeps the DuckDB oracle a plain
    ``cos(a,b) >= t`` join while the physical plan's candidate count
    is bounded by grid-cell occupancy instead of corpus²."""
    from .similarity import grid_blocked_pairs

    def gen(emb: DataFrame) -> DataFrame:
        base = emb.withColumn("__one", F.lit(0))
        pairs = grid_blocked_pairs(
            base, threshold, id_col=id_col, vec_col=vec_col,
            block_col="__one", n_proj=n_proj,
        )
        rev = pairs.select(
            F.col("b_id").alias("a_id"),
            F.col("b_v").alias("a_v"),
            F.col("b_nrm").alias("a_nrm"),
            F.col("a_id").alias("b_id"),
            F.col("a_v").alias("b_v"),
            F.col("a_nrm").alias("b_nrm"),
        )
        return pairs.unionByName(rev)

    return gen


def hash_ring_seed(
    ids: DataFrame,
    *,
    k_neighbors: int,
    id_col: str = "vec_id",
    salt: str = "ring",
) -> DataFrame:
    """NN-descent seed graph over an ARBITRARY id domain (round-15 —
    the round-14 verdict's "production-id builds" gap): place every id
    on a ring ordered by ``(md5-hash(salt:id), id)``, and give each
    node its ``k_neighbors`` ring SUCCESSORS as seed edges.  The hash
    order is a deterministic pseudo-random permutation, so the seed
    has the same "uniformly scrambled" character as the WWW'11 random
    seed while needing NO assumption about the ids — sparse, hashed,
    or contiguous domains all work (the arithmetic ring's
    ``0..n_base-1`` precondition is gone).

    Scale shape: ring positions come from the two-pass range-
    partitioned rank (``operators/global_rank.py`` — no single-
    partition window), successors from ONE position-keyed equi-join
    after a k-way explode: O(n·k) rows through key-partitioned
    shuffles, nothing corpus-sized on the driver or broadcast.

    Cross-engine determinism: the ring key is the md5-based
    ``functions/text.token_hash`` (NOT xxhash64, which DuckDB cannot
    reproduce), so ``sql_nnd_knn_cte(seed="hash_ring")`` re-derives
    the identical ring with ``ROW_NUMBER() OVER (ORDER BY hash, id)``.
    """
    from ..functions.text import token_hash
    from .global_rank import global_row_number_and_total

    base = ids.select(F.col(id_col).alias("__rid")).withColumn(
        "__h",
        token_hash(F.concat(F.lit(salt + ":"), F.col("__rid").cast("string"))),
    )
    ring, n = global_row_number_and_total(
        base, ["__h", "__rid"], rank_col="__pos"
    )
    ring = ring.select("__rid", (F.col("__pos") - 1).alias("__pos"))
    js = F.explode(F.array(*[F.lit(j) for j in range(1, k_neighbors + 1)]))
    targets = ring.select(
        F.col("__rid").alias("src"), F.col("__pos"), js.alias("__j")
    ).select(
        "src", F.pmod(F.col("__pos") + F.col("__j"), F.lit(n)).alias("__tpos")
    )
    succ = ring.select(
        F.col("__rid").alias("dst"), F.col("__pos").alias("__tpos")
    )
    return (
        targets.join(succ, "__tpos")
        .select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def nn_descent_knn_graph(
    emb: DataFrame,
    *,
    k_neighbors: int = 12,
    rounds: int = 3,
    stride: int = 37,
    n_base: int = 500,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "arith",
    salt: str = "ring",
) -> DataFrame:
    """NN-DESCENT graph build (Dong et al., WWW'11 — the standard
    HNSW/NSG construction primitive): start from a deterministic
    seed graph and iteratively replace each node's edge list with the
    top-k of {current edges} ∪ {neighbors-of-neighbors over the
    SYMMETRIZED adjacency}, for a BOUNDED number of rounds (the
    kmeans/logreg bounded-iteration pattern — what keeps the build
    one deterministic plan per round AND re-derivable as chained SQL
    CTEs, ``sql_nnd_knn_cte``).

    This is the 100 TB build path: per-round candidates are
    n·(2k)² — LINEAR in corpus size — vs the exact build's n².  Each
    round is two self-joins on node id plus two vector lookups, all
    key-partitioned shuffles; no broadcast of anything corpus-sized.

    Determinism: two seed modes.  ``seed="arith"`` is the arithmetic
    ring ``dst = (src + j·stride) % n_base`` for j=1..k — REQUIRES
    contiguous ids 0..n_base-1 (the fixture layout).
    ``seed="hash_ring"`` (round-15, the production path) seeds from
    ``hash_ring_seed`` — a deterministic hash-ordered ring over the
    ACTUAL id domain, so sparse/hashed doc ids build without
    re-keying; ``n_base``/``stride`` are ignored in that mode.  Ties
    break by dst asc on 6dp-rounded sims either way.

    Convergence caveat (measured, tests/test_graph_ann.py):
    UNIFORM random vectors are NND's worst case — neighbor-of-
    neighbor transitivity needs manifold structure, so the fixture
    needs many rounds to approach the exact graph, while real
    embedding corpora converge in a handful.  The per-round
    improvement (not the absolute level) is the pinned invariant."""
    spark = emb.sparkSession
    v = emb.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        F.sqrt(_dec_dot(F.col(vec_col), F.col(vec_col)).cast("double")).alias(
            "__nrm"
        ),
    ).localCheckpoint()

    def score(pairs: DataFrame) -> DataFrame:
        # pairs: distinct (src, dst) — two id-keyed vector lookups,
        # the same hround(cosine) expression as every other build
        a = v.select(
            F.col("__id").alias("src"), F.col("__v").alias("a_v"),
            F.col("__nrm").alias("a_nrm"),
        )
        b = v.select(
            F.col("__id").alias("dst"), F.col("__v").alias("b_v"),
            F.col("__nrm").alias("b_nrm"),
        )
        w = Window.partitionBy("src").orderBy(
            F.col("sim").desc(), F.col("dst").asc()
        )
        # dst lookup FIRST, src lookup LAST: at cluster scale both
        # lookups are shuffle joins, and joining src last leaves the
        # frame hash-partitioned by src — exactly the distribution the
        # per-src top-k window requires, so the window adds a sort but
        # no exchange (guide §2.4).  At fixture scale both lookups
        # broadcast and the order is neutral.
        return (
            pairs.join(b, "dst")
            .join(a, "src")
            .select(
                "src", "dst",
                hround(
                    cosine_from_parts(
                        F.col("a_v"), F.col("b_v"),
                        F.col("a_nrm"), F.col("b_nrm"),
                    ),
                    6,
                ).alias("sim"),
            )
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k_neighbors)
            .drop("__rn")
        )

    if seed == "hash_ring":
        init = hash_ring_seed(
            v.select(F.col("__id").alias(id_col)),
            k_neighbors=k_neighbors, id_col=id_col, salt=salt,
        )
    elif seed == "arith":
        js = F.explode(
            F.array(*[F.lit(j) for j in range(1, k_neighbors + 1)])
        )
        init = (
            v.select(F.col("__id").alias("src"), js.alias("__j"))
            .select(
                "src",
                F.pmod(
                    F.col("src") + F.col("__j") * stride, F.lit(n_base)
                ).alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
    else:
        raise ValueError(f"nn_descent_knn_graph: unknown seed mode {seed!r}")
    g = score(init).localCheckpoint()
    for _ in range(rounds):
        sym = g.select("src", "dst").union(
            g.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
        nn = (
            sym.alias("e1")
            .join(sym.alias("e2"), F.col("e1.dst") == F.col("e2.src"))
            .select(
                F.col("e1.src").alias("src"), F.col("e2.dst").alias("dst")
            )
            .filter(F.col("src") != F.col("dst"))
        )
        cand = nn.union(g.select("src", "dst")).distinct()
        g = score(cand).localCheckpoint()
    return g


def sql_nnd_knn_cte(
    *,
    n_base: int,
    k_neighbors: int,
    rounds: int,
    stride: int = 37,
    dim: int = 64,
    seed: str = "arith",
    salt: str = "ring",
) -> str:
    """The NN-descent build as chained CTEs ending in ``knn(src,
    dst)`` — plug into ``sql_graph_beam_topk(knn_cte=...)`` so the
    DuckDB oracle re-derives seed → bounded rounds → final edges
    exactly like ``nn_descent_knn_graph``.  ``seed="hash_ring"``
    re-derives ``hash_ring_seed``'s md5-ordered ring (the md5 hash is
    the cross-engine ``functions/text.token_hash`` contract) instead
    of the arithmetic ring, matching the production-id build path."""
    cos = sql_hround(sql_cosine("a.embedding", "b.embedding", dim), 6)

    def topk(cand: str, name: str) -> str:
        return f"""{name} AS MATERIALIZED (
      SELECT src, dst, sim FROM (
        SELECT c.src, c.dst, {cos} AS sim,
               ROW_NUMBER() OVER (
                 PARTITION BY c.src ORDER BY {cos} DESC, c.dst
               ) AS rn
        FROM {cand} c
        JOIN base a ON a.vec_id = c.src
        JOIN base b ON b.vec_id = c.dst
      ) WHERE rn <= {k_neighbors}
    )"""

    if seed == "hash_ring":
        from ..functions.text import sql_token_hash

        hk = sql_token_hash(f"'{salt}:' || v.vec_id")
        parts = [
            f"""ring AS MATERIALIZED (
      SELECT v.vec_id, ROW_NUMBER() OVER (
        ORDER BY {hk}, v.vec_id
      ) - 1 AS pos
      FROM base v
    )""",
            """ringn AS (SELECT COUNT(*) AS n FROM ring)""",
            f"""seed AS MATERIALIZED (
      SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
      FROM ring a
      CROSS JOIN (SELECT unnest(generate_series(1, {k_neighbors})) AS j) j
      CROSS JOIN ringn
      JOIN ring b ON b.pos = (a.pos + j.j) % ringn.n
      WHERE a.vec_id <> b.vec_id
    )""",
            topk("seed", "g0"),
        ]
    else:
        parts = [
            f"""seed AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT v.vec_id AS src,
               (v.vec_id + j.j * {stride}) % {n_base} AS dst
        FROM base v,
             (SELECT unnest(generate_series(1, {k_neighbors})) AS j) j
      ) WHERE src <> dst
    )""",
            topk("seed", "g0"),
        ]
    for r in range(rounds):
        parts.append(
            f"""s{r} AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM g{r}
        UNION ALL
        SELECT dst AS src, src AS dst FROM g{r}
      )
    )"""
        )
        parts.append(
            f"""c{r} AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT e1.src AS src, e2.dst AS dst
        FROM s{r} e1 JOIN s{r} e2 ON e1.dst = e2.src
        UNION ALL
        SELECT src, dst FROM g{r}
      ) WHERE src <> dst
    )"""
        )
        parts.append(topk(f"c{r}", f"g{r + 1}"))
    parts.append(
        f"""knn AS (
      SELECT src, dst FROM g{rounds}
    )"""
    )
    return ",\n    ".join(parts)


def build_knn_graph(
    emb: DataFrame,
    *,
    k_neighbors: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: Callable[[DataFrame], DataFrame] | None = None,
    min_sim: float | None = None,
) -> DataFrame:
    """Directed kNN edges ``(src, dst, sim)`` over ``emb``.

    ``candidates=None`` scores every pair exactly (one broadcast
    self-join — right for a bounded fixture base, O(n²) otherwise).
    Any callable with the ``blocked_pairs`` contract (takes the
    vector frame, returns ``a_id/a_v/a_nrm/b_id/b_v/b_nrm`` candidate
    rows, BOTH directions) swaps in a scale-safe generator:
    ``grid_threshold_candidates`` (the lossless ε-grid — the default
    100 TB path), ``operators/similarity.blocked_pairs`` (coarse /
    quantizer-cell blocks), or an NN-descent refinement loop —
    candidates stay proportional to block occupancy, not corpus².
    ``min_sim`` drops sub-threshold pairs BEFORE the top-k (the
    logical contract that makes a grid-generated build exact — see
    ``grid_threshold_candidates``).  Per-vector norms are precomputed
    map-side either way (O(n) decimal work, not O(pairs)); one
    shuffle groups candidates per src for the window top-k."""
    if candidates is None:
        from ..queries.helpers import widen_narrow

        nrm = F.sqrt(_dec_dot(F.col(vec_col), F.col(vec_col)).cast("double"))
        # widen the STREAM side before the pair fan-out: a bounded
        # fixture base scans as ONE partition, so all n² decimal
        # cosines would run on one core (round-15 profiling: the
        # 500-vector exact build was a single 10+ s task).  The
        # round-robin shuffle moves n rows; the n² scoring then runs
        # at full width.  The broadcast side is unchanged.
        a = widen_narrow(
            emb.select(
                F.col(id_col).alias("src"), F.col(vec_col).alias("a_v"),
                nrm.alias("a_nrm"),
            )
        )
        b = emb.select(
            F.col(id_col).alias("dst"), F.col(vec_col).alias("b_v"),
            nrm.alias("b_nrm"),
        )
        pairs = a.join(F.broadcast(b), F.col("src") != F.col("dst"))
    else:
        pairs = candidates(emb).select(
            F.col("a_id").alias("src"),
            F.col("b_id").alias("dst"),
            "a_v", "b_v", "a_nrm", "b_nrm",
        )
    scored = pairs.select(
        "src",
        "dst",
        hround(
            cosine_from_parts(
                F.col("a_v"), F.col("b_v"), F.col("a_nrm"), F.col("b_nrm")
            ),
            6,
        ).alias("sim"),
    )
    if min_sim is not None:
        scored = scored.filter(F.col("sim") >= float(min_sim))
    w = Window.partitionBy("src").orderBy(F.col("sim").desc(), F.col("dst").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k_neighbors)
        .drop("__rn")
    )


#: the md5-based ``token_hash`` yields the first 8 hex chars as an
#: integer — uniform in [0, 2^32); hash-VALUE strata are equal-width
#: cuts of that range
_HASH_SPACE = 1 << 32


def _top_degree_entries(graph: DataFrame, n_entries: int) -> list[int]:
    """The persisted entry-point selection: the top-DEGREE node inside
    each of ``n_entries`` equal-width hash strata of the node set —
    ties by id asc.  Stratifying by a deterministic md5 hash of the
    id (the cross-engine ``token_hash``, salt ``entries:``) forces
    the chosen hubs APART: global top-degree picks correlated
    near-centroid nodes (measured recall@10 0.66 over 20 queries on
    the fixture store), while one hub per hash stratum reads ~0.70 —
    beating both the global-hub and the legacy static-tuple (0.64)
    selections.  Strata are VALUE cuts of the uniform 32-bit hash
    space (``floor(h·n/2^32)``), not rank quartiles, so the whole
    selection is one degree aggregate + one per-stratum window + an
    n_entries-sized collect — no global rank pass over the node
    set."""
    from ..functions.text import token_hash

    deg = (
        graph.groupBy("src")
        .agg(F.count(F.lit(1)).alias("__deg"))
        .withColumn(
            "__strat",
            F.floor(
                token_hash(
                    F.concat(
                        F.lit("entries:"), F.col("src").cast("string")
                    )
                )
                * n_entries
                / F.lit(_HASH_SPACE)
            ),
        )
    )
    w = Window.partitionBy("__strat").orderBy(
        F.col("__deg").desc(), F.col("src").asc()
    )
    return sorted(
        int(r.src)
        for r in deg.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("src")
        .collect()
    )


def _resolve_entries(
    entries: tuple[int, ...] | None, meta: dict, op: str
) -> list[int]:
    """``entries=None`` → the store's persisted entry points (see
    ``write_knn_graph``); an explicit tuple always wins (benchmark /
    legacy callers).  Pre-r15 stores carry no entries — fail with the
    remedy rather than guessing ids."""
    if entries is not None:
        return [int(e) for e in entries]
    stored = meta.get("entries")
    if not stored:
        raise ValueError(
            f"{op}: entries=None but the store predates persisted "
            "entry points — rebuild with write_knn_graph or pass "
            "entries explicitly"
        )
    return [int(e) for e in stored]


def _symmetrize(graph: DataFrame) -> DataFrame:
    # cosine is symmetric and hround deterministic, so the reversed
    # edge carries the identical sim — plain distinct dedupes
    # mutual-kNN pairs
    return graph.unionByName(
        graph.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "sim"
        )
    ).distinct()


def _bucketed(df: DataFrame, col: str, n_buckets: int, name: str) -> DataFrame:
    return df.withColumn(name, F.pmod(F.col(col), F.lit(n_buckets)))


def write_knn_graph(
    emb: DataFrame,
    out_dir: str,
    *,
    k_neighbors: int = 12,
    n_base: int = 500,
    symmetric: bool = True,
    n_buckets: int = N_BUCKETS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    attrs: tuple[str, ...] = (),
    candidates: Callable[[DataFrame], DataFrame] | None = None,
    min_sim: float | None = None,
    edges: DataFrame | None = None,
    n_entries: int = 4,
) -> dict:
    """Persist the graph store: ``vectors/id_bucket=`` (the bounded
    base, plus any ``attrs`` columns for filtered serving — the
    ann_index convention), ``graph/src_bucket=`` (the edge table —
    symmetrized by default, see module docstring), and a
    ``_graph.json`` recipe sidecar (via the shared pyarrow-fs seam,
    so s3://hdfs:// roots work).  ``candidates`` selects the edge
    build (exact fixture self-join vs a blocked generator — see
    ``build_knn_graph``); ``edges`` skips the build entirely and
    persists a pre-built DIRECTED per-src top-k edge frame (the
    ``nn_descent_knn_graph`` hand-off — its iterations don't fit the
    one-shot candidates contract).  The recipe records which so
    ``append`` re-derives edges the same way.

    ENTRY POINTS (round 15 — the round-14 verdict's "fixture-shaped
    magic ids" gap): the store persists its own walk entry points in
    the recipe — the top-DEGREE node within each of ``n_entries``
    hash-value strata of the final (symmetrized) edge table's node
    set, ties by id asc (``_top_degree_entries``: hubs for
    reachability — the HNSW top-layer role — stratified apart so they
    don't all sit near the centroid).  The selection is deterministic
    and purely relational (degree aggregate + two-pass rank), and the
    DuckDB twin re-derives it from its own graph CTE
    (``sql_graph_beam_topk(entries_from_graph=…)``).  Serving calls
    with ``entries=None`` read them from the meta; ``append`` leaves
    them (still-valid hubs), ``compact_knn_graph`` recomputes them
    (tombstoned nodes are physically purged there)."""
    from ..sinks.zipnum import _fs_for, _join

    base = emb.filter(F.col(id_col) < n_base).select(
        id_col, vec_col, *attrs
    )
    if edges is None:
        graph = build_knn_graph(
            base.select(id_col, vec_col, *attrs),
            k_neighbors=k_neighbors, id_col=id_col, vec_col=vec_col,
            candidates=candidates, min_sim=min_sim,
        )
    else:
        graph = edges
    if symmetric:
        graph = _symmetrize(graph)
    # the vectors/ and graph/ writes are independent jobs over
    # different outputs — submit them from two driver threads so the
    # edge build's stage tail back-fills with the vector write's tasks
    # (guide §2.6) instead of paying both write walls in sequence
    def _write_vectors() -> None:
        (
            _bucketed(base, id_col, n_buckets, "id_bucket")
            .write.partitionBy("id_bucket")
            .mode("overwrite")
            .parquet(posixpath.join(out_dir, "vectors"))
        )

    def _write_graph() -> None:
        (
            _bucketed(graph, "src", n_buckets, "src_bucket")
            .write.partitionBy("src_bucket")
            .mode("overwrite")
            .parquet(posixpath.join(out_dir, "graph"))
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(_write_vectors), pool.submit(_write_graph)]
        for f in futs:
            f.result()
    entries = _top_degree_entries(
        emb.sparkSession.read.parquet(posixpath.join(out_dir, "graph")),
        n_entries,
    )
    meta = {
        "k_neighbors": k_neighbors,
        "n_base": n_base,
        "symmetric": symmetric,
        "n_buckets": n_buckets,
        "build": (
            "prebuilt" if edges is not None
            else "exact" if candidates is None
            else "candidates"
        ),
        "min_sim": min_sim,
        "id_col": id_col,
        "vec_col": vec_col,
        "attrs": list(attrs),
        "entries": entries,
    }
    fs, local = _fs_for(out_dir)
    with fs.open_output_stream(_join(local, META)) as fh:
        fh.write(json.dumps(meta).encode())
    return meta


def write_knn_graph_versioned(emb: DataFrame, root: str, **kw) -> dict:
    """Reader-atomic build: construct the store in a fresh unpublished
    version directory, then one atomic ``CURRENT`` pointer swap — the
    shared ``sinks/ann_index.py`` version machinery."""
    from ..sinks.ann_index import _publish_store_version, new_store_version

    name, path = new_store_version(root)
    meta = write_knn_graph(emb, path, **kw)
    _publish_store_version(root, name)
    return meta


def _require_bucketed(meta: dict, op: str) -> int:
    """Lifecycle ops (append/compact) rewrite the store under its
    bucket layout, so a store written before the bucketed format is
    not safely mutable in place — fail with the remedy instead of a
    bare KeyError (round-14 ADVICE; the read-only probe path stays
    tolerant via ``meta.get``)."""
    nb = meta.get("n_buckets")
    if nb is None:
        raise ValueError(
            f"{op}: store predates the bucketed graph layout "
            "(no n_buckets in _graph.json) — rebuild it with "
            "write_knn_graph before appending/compacting"
        )
    return int(nb)


def read_graph_meta(store: str) -> dict:
    from ..sinks.ann_index import resolve_store
    from ..sinks.zipnum import _fs_for, _join

    fs, local = _fs_for(resolve_store(store))
    with fs.open_input_file(_join(local, META)) as fh:
        return json.loads(fh.read().decode())


def append_knn_graph(
    emb_new: DataFrame,
    store: str,
    *,
    candidates: Callable[[DataFrame], DataFrame] | None = None,
) -> int:
    """LSM append: add a vector batch and its symmetrized edges as
    NEW parquet files under the store's bucket layout — no existing
    file is rewritten (the ZipNum-epoch / IVF ``stream_append_batch``
    posture).  Each new vector gets its top ``k_neighbors`` edges
    over the UNION of existing base and the batch; reverse edges give
    existing nodes routes INTO the batch (without them the batch
    would be unreachable — the same navigability argument as the
    build-time symmetrization).  Existing nodes' edge lists are NOT
    re-trimmed: degree grows past k until ``compact_knn_graph``,
    which is exactly the LSM read-amplification-until-compaction
    trade.  Returns the number of vectors appended.

    Refuses id collisions: an append that reuses a served id would
    make the walk's visited-set semantics ambiguous (update = delete
    + append under a fresh id)."""
    spark = emb_new.sparkSession
    from ..sinks.ann_index import resolve_store

    root = resolve_store(store)
    meta = read_graph_meta(root)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    nb = _require_bucketed(meta, "append_knn_graph")
    attrs = list(meta.get("attrs", []))
    batch = emb_new.select(id_col, vec_col, *attrs)
    existing = spark.read.parquet(posixpath.join(root, "vectors")).select(
        id_col, vec_col, *attrs
    )
    n_dup = batch.join(
        existing.select(id_col), id_col, "left_semi"
    ).count()
    if n_dup:
        raise ValueError(
            f"append_knn_graph: {n_dup} id(s) already in the store — "
            "delete + append under fresh ids instead of re-using ids"
        )
    allv = existing.unionByName(batch)
    if candidates is None:
        # exact edges for the batch: batch × all (broadcast the
        # batch-sized side is fine — appends are batch-sized by
        # contract; a bulk load is a REBUILD)
        from ..queries.helpers import widen_narrow

        nrm = F.sqrt(_dec_dot(F.col(vec_col), F.col(vec_col)).cast("double"))
        a = batch.select(
            F.col(id_col).alias("src"), F.col(vec_col).alias("a_v"),
            nrm.alias("a_nrm"),
        )
        # widen the STREAM side (the store scan ∪ batch) before the
        # pair fan-out — the same narrow-scan fix as build_knn_graph:
        # the persisted vectors are a handful of small bucket files
        # that plan as 1-2 partitions, so the batch×all decimal
        # scoring would run on 1-2 cores.  No-op on a wide store.
        b = widen_narrow(
            allv.select(
                F.col(id_col).alias("dst"), F.col(vec_col).alias("b_v"),
                nrm.alias("b_nrm"),
            )
        )
        pairs = F.broadcast(a).join(b, F.col("src") != F.col("dst"))
        scored = pairs.select(
            "src", "dst",
            hround(
                cosine_from_parts(
                    F.col("a_v"), F.col("b_v"), F.col("a_nrm"), F.col("b_nrm")
                ),
                6,
            ).alias("sim"),
        )
        if meta.get("min_sim") is not None:
            # same recipe-honoring contract as the candidates branch
            scored = scored.filter(F.col("sim") >= float(meta["min_sim"]))
        w = Window.partitionBy("src").orderBy(
            F.col("sim").desc(), F.col("dst").asc()
        )
        edges = (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= meta["k_neighbors"])
            .drop("__rn")
        )
    else:
        # honor the persisted build recipe: a store built as "top-k
        # among pairs with cos >= min_sim" must append under the same
        # logical contract, or the batch's edges silently include
        # sub-threshold pairs (round-14 ADVICE)
        batch_ids = batch.select(F.col(id_col).alias("__bid"))
        edges = build_knn_graph(
            allv.select(id_col, vec_col, *attrs),
            k_neighbors=meta["k_neighbors"], id_col=id_col,
            vec_col=vec_col, candidates=candidates,
            min_sim=meta.get("min_sim"),
        ).join(
            F.broadcast(batch_ids), F.col("src") == F.col("__bid")
        ).drop("__bid")
    if meta["symmetric"]:
        edges = _symmetrize(edges)
    n = batch.count()
    (
        _bucketed(batch, id_col, nb, "id_bucket")
        .write.partitionBy("id_bucket")
        .mode("append")
        .parquet(posixpath.join(root, "vectors"))
    )
    (
        _bucketed(edges, "src", nb, "src_bucket")
        .write.partitionBy("src_bucket")
        .mode("append")
        .parquet(posixpath.join(root, "graph"))
    )
    return n


def append_knn_graph_versioned(emb_new: DataFrame, root: str, **kw) -> int:
    """Reader-atomic append: hard-link clone of the published version,
    append into the clone, atomic ``CURRENT`` swap — live readers see
    the old version until the new one is complete (the IVF
    ``stream_append_batch`` machinery, reused)."""
    from ..sinks.ann_index import _publish_store_version, clone_store_version

    name, path = clone_store_version(root)
    n = append_knn_graph(emb_new, path, **kw)
    _publish_store_version(root, name)
    return n


def stream_graph_append_batch(
    batch_df: DataFrame,
    batch_id: int,
    root: str,
    *,
    stream_id: str = "default",
    **append_kw,
) -> bool:
    """ONE micro-batch of the streaming graph ingest (the foreachBatch
    body — see ``streaming.incremental.stream_graph_appends``): clone
    the published version by hard links, ``append_knn_graph`` the
    batch under the STORED build recipe (k, candidates mode, min_sim
    — edge semantics never shift under a serving store), record
    ``stream_id:batch_id`` in the replay ledger, publish with one
    atomic ``CURRENT`` swap.  Identical exactly-once contract to the
    IVF ``sinks/ann_index.stream_append_batch`` (whose ledger/version
    helpers this reuses): redelivered batches are ledger no-ops, a
    fresh stream incarnation is never mistaken for a replay.  Returns
    True when applied, False when skipped as a replay."""
    from ..sinks.ann_index import (
        _applied_batches,
        _publish_store_version,
        _record_applied_batch,
        clone_store_version,
        resolve_store,
    )

    key = f"{stream_id}:{int(batch_id)}"
    cur = resolve_store(root)
    if key in _applied_batches(cur):
        return False
    name, path = clone_store_version(root)
    append_knn_graph(batch_df, path, **append_kw)
    _record_applied_batch(path, _applied_batches(path) | {key})
    _publish_store_version(root, name)
    return True


def delete_from_knn_graph(store: str, ids: list[int]) -> None:
    """Tombstone vectors out of the served graph (the shared
    ``sinks/ann_index.py`` LSM delete contract — metadata-sized JSON
    batches, uuid-named, never an in-place data mutation).  Probes
    exclude tombstoned ids from RESULTS immediately; the ids remain
    navigable stepping stones until ``compact_knn_graph`` removes
    them physically (see module docstring for why)."""
    from ..sinks.ann_index import delete_from_ann_index, resolve_store

    delete_from_ann_index(resolve_store(store), ids)


def compact_knn_graph(spark: SparkSession, store: str) -> None:
    """Physical maintenance pass: drop tombstoned NODES (their vector
    rows and every edge touching them), re-trim every surviving node
    to its true top-``k_neighbors`` over the accumulated edge set
    (append-time reverse edges may have pushed degree past k), then
    re-symmetrize and rewrite both tables under the same bucket
    layout.  Tombstone batches read before the rewrite are cleared
    after it — the ``compact_ivf_index`` discipline."""
    from ..sinks.ann_index import _read_ann_tombstone_files, resolve_store
    from ..sinks.zipnum import _fs_for, _join

    root = resolve_store(store)
    meta = read_graph_meta(root)
    id_col, nb = meta["id_col"], _require_bucketed(meta, "compact_knn_graph")
    tombs, tomb_files = _read_ann_tombstone_files(root)
    vecs = spark.read.parquet(posixpath.join(root, "vectors")).drop(
        "id_bucket"
    )
    graph = spark.read.parquet(posixpath.join(root, "graph")).drop(
        "src_bucket"
    )
    if tombs:
        dead = sorted(tombs)
        vecs = vecs.filter(~F.col(id_col).isin(dead))
        graph = graph.filter(
            ~F.col("src").isin(dead) & ~F.col("dst").isin(dead)
        )
    w = Window.partitionBy("src").orderBy(
        F.col("sim").desc(), F.col("dst").asc()
    )
    trimmed = (
        graph.distinct()
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= meta["k_neighbors"])
        .drop("__rn")
    )
    if meta["symmetric"]:
        trimmed = _symmetrize(trimmed)
    vdf = _bucketed(vecs, id_col, nb, "id_bucket").localCheckpoint()
    gdf = _bucketed(trimmed, "src", nb, "src_bucket").localCheckpoint()
    vdf.write.partitionBy("id_bucket").mode("overwrite").parquet(
        posixpath.join(root, "vectors")
    )
    gdf.write.partitionBy("src_bucket").mode("overwrite").parquet(
        posixpath.join(root, "graph")
    )
    if meta.get("entries"):
        # tombstoned nodes were just physically purged — refresh the
        # persisted entry points from the compacted edge table so the
        # stored hubs are guaranteed to still exist (round 15)
        meta["entries"] = _top_degree_entries(gdf, len(meta["entries"]))
        fs_m, local_m = _fs_for(root)
        with fs_m.open_output_stream(_join(local_m, META)) as fh:
            fh.write(json.dumps(meta).encode())
    fs, _local = _fs_for(root)
    for p in tomb_files:
        try:
            fs.delete_file(p)
        except (OSError, FileNotFoundError):
            pass  # a concurrent compactor got there first — same ids


def _pruned_edge_scan(
    graph: DataFrame, frontier_ids: list[int], n_buckets: int | None
) -> DataFrame:
    """The hop scan: STATIC partition + id pushdown of a beam-sized
    frontier into the bucketed edge table — ``PartitionFilters:
    src_bucket IN (…)`` skips every non-frontier bucket directory,
    ``PushedFilters: In(src, …)`` row-group-skips inside them.  This
    is the plan shape tests/test_plans.py pins: the edge table is
    never broadcast and never fully scanned (round-13 verdict)."""
    ids = sorted(set(int(i) for i in frontier_ids))
    if not ids:
        return graph.filter(F.lit(False))
    g = graph
    if n_buckets is not None and "src_bucket" in graph.columns:
        g = g.filter(sql_isin("src_bucket", {i % n_buckets for i in ids}))
    return g.filter(sql_isin("src", ids))


def _pruned_vec_scan(
    vecs: DataFrame, ids: list[int], n_buckets: int | None, id_col: str
) -> DataFrame:
    """Identically pruned ``vectors/`` scan for scoring fresh ids."""
    uniq = sorted(set(int(i) for i in ids))
    if not uniq:
        return vecs.filter(F.lit(False))
    v = vecs
    if n_buckets is not None and "id_bucket" in vecs.columns:
        v = v.filter(sql_isin("id_bucket", {i % n_buckets for i in uniq}))
    return v.filter(sql_isin(id_col, uniq))


#: the hive partition (bucket) column of each graph-store table
_BUCKET_COL = {"vectors": "id_bucket", "graph": "src_bucket"}


class _Frontier:
    """One walk's reads of frontier rows: the rows of store table
    ``sub`` (``"vectors"`` or ``"graph"``) whose ``key`` is in a
    beam-sized id list.

    While the ids' bucket files total at most ``_driver_read_bytes``
    they are read right here with ``pyarrow.dataset``, filtered on
    ``key``.  Edge and vector rows go straight to Python; the rows a
    ``where`` filters reach Spark as an Arrow local relation, whose
    projection ``ConvertToLocalRelation`` evaluates in the JVM —
    collecting it runs no job.  Larger frontiers read through the
    frontier-pruned Spark scans (``_pruned_edge_scan`` /
    ``_pruned_vec_scan``), whose readers are created on first use.
    Callers see the same rows either way."""

    def __init__(self, spark: SparkSession, root: str, n_buckets: int | None):
        from ..sinks.zipnum import _fs_for

        self.spark, self.root, self.n_buckets = spark, root, n_buckets
        self.bound = _driver_read_bytes(spark)
        self.fs, self.local = _fs_for(root)
        self._listed: dict[str, list] = {}
        self._scans: dict[str, DataFrame] = {}

    def _files(self, sub: str, ids: list[int]) -> list:
        from ..sinks.ann_index import _data_files
        from ..sinks.zipnum import _join

        table_dir = _join(self.local, sub)
        if self.n_buckets is None:
            dirs = [table_dir]
        else:
            dirs = [
                _join(table_dir, f"{_BUCKET_COL[sub]}={b}")
                for b in sorted({i % self.n_buckets for i in ids})
            ]
        for d in dirs:
            if d not in self._listed:
                self._listed[d] = _data_files(
                    self.fs, d, recursive=self.n_buckets is None
                )
        return [f for d in dirs for f in self._listed[d]]

    def _table(self, sub: str, key: str, ids: list[int], columns: tuple):
        """(Arrow table, Spark schema or None) of the matching rows read
        on the driver (``ann_index._driver_read``), or None when the
        frontier's files exceed the bound.  Bucket directories without
        files give an empty table, typed from the footer of the
        table's first data file."""
        from ..sinks.ann_index import _driver_read
        from ..sinks.zipnum import _join

        files = self._files(sub, ids)
        if sum(f.size for f in files) > self.bound:
            return None
        scanner, spark_schema = _driver_read(
            self.fs, _join(self.local, sub), files, list(columns), isin=(key, ids)
        )
        table = scanner.to_table()
        # an empty scan's table has no chunk, which createDataFrame refuses
        return (table if table.num_rows else table.schema.empty_table()), spark_schema

    def _scan(self, sub: str, key: str, ids: list[int], columns: tuple) -> DataFrame:
        from ..sinks.ann_index import _store_scan

        if sub not in self._scans:
            self._scans[sub] = _store_scan(self.spark, self.root, sub)
        if sub == "graph":
            df = _pruned_edge_scan(self._scans[sub], ids, self.n_buckets)
        else:
            df = _pruned_vec_scan(self._scans[sub], ids, self.n_buckets, key)
        return df.select(*columns)

    def rows(self, sub: str, key: str, ids, columns: tuple) -> list[tuple]:
        """The matching rows as Python tuples — no Spark at all on the
        driver read."""
        ids = sorted({int(i) for i in ids})
        if not ids or not self._files(sub, ids):
            return []
        got = self._table(sub, key, ids, columns)
        if got is None:
            return [tuple(r) for r in self._scan(sub, key, ids, columns).collect()]
        table = got[0]
        return list(zip(*(table.column(c).to_pylist() for c in columns)))

    def frame(self, sub: str, key: str, ids, columns: tuple) -> DataFrame:
        """The matching rows as a DataFrame."""
        from ..sinks.zipnum import arrow_frame

        ids = sorted({int(i) for i in ids})
        got = self._table(sub, key, ids, columns)
        if got is None:
            return self._scan(sub, key, ids, columns)
        return arrow_frame(self.spark, *got)


def _beam_walk(
    spark: SparkSession,
    store: str,
    query_vecs: list[list[float]],
    *,
    beam: int,
    hops: int,
    entries: tuple[int, ...] | None,
    exclude_ids: list[int | None],
    wheres: list[str | None],
    op: str,
) -> dict[tuple[int, int], float]:
    """The beam walk behind ``graph_beam_topk`` (one request) and
    ``graph_beam_batch_topk`` (N requests in lockstep): the visited
    ``(request, id) → score`` map, tombstoned ids and ids failing the
    request's ``where`` dropped.

    The walk state lives DRIVER-SIDE for the whole walk (≤
    N·(|entries| + H·B·degree) entries — serving parameters, not
    corpus), and beams are pure Python.  A hop is one read of the
    UNION of every request's beam edges (per-request membership is
    restored in Python), one read of the fresh ids' vectors, and one
    ``py_cosine6`` scoring of the fresh (request, id) pairs on the
    driver: the exact twin of the ``hround(cosine, 6)`` expression
    every other path scores with in Spark, so rows are bit-identical
    to the oracle's.  Neither read runs a Spark job while the
    frontier's files total at most ``_driver_read_bytes`` (see
    ``_Frontier``).  A pair Spark could not score (a query of the wrong
    dimension or zero norm, a NULL or non-finite stored element, a
    decimal overflow) raises ``ValueError`` naming ``op`` and the
    request."""
    from ..sinks.ann_index import read_ann_tombstones, resolve_store

    require_finite(query_vecs, op)
    root = resolve_store(store)
    meta = read_graph_meta(root)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    tombs = read_ann_tombstones(root)
    frontier = _Frontier(spark, root, meta.get("n_buckets"))

    def score(pairs: list[tuple[int, int]]) -> list[tuple[int, int, float]]:
        vec_of = dict(
            frontier.rows("vectors", id_col, {i for _r, i in pairs}, (id_col, vec_col))
        )
        pairs = [(r, i) for r, i in pairs if i in vec_of]
        try:
            sims = py_cosine6(
                [vec_of[i] for _r, i in pairs], [query_vecs[r] for r, _i in pairs]
            )
        except PairError as e:
            r, i = pairs[e.pair]
            raise ValueError(f"{op}: request {r}, {id_col} {i}: {e.why}") from None
        return [(r, i, float(s)) for (r, i), s in zip(pairs, sims)]

    ent_ids = _resolve_entries(entries, meta, op)
    reqs = range(len(query_vecs))
    excl = [None if e is None else int(e) for e in exclude_ids]
    seen: list[set[int]] = [
        set(ent_ids) | ({excl[r]} if excl[r] is not None else set())
        for r in reqs
    ]
    state: dict[tuple[int, int], float] = {
        (req, i): s
        for req, i, s in score(
            [(r, e) for r in reqs for e in ent_ids if e != excl[r]]
        )
    }
    for _ in range(hops):
        beams = {r: [i for i, _s in b] for r, b in _best(state, beam).items()}
        if not beams:
            break  # no entry point resolved to a stored vector
        adj: dict[int, set[int]] = {}
        for src, dst in frontier.rows(
            "graph", "src", {i for b in beams.values() for i in b}, ("src", "dst")
        ):
            adj.setdefault(int(src), set()).add(int(dst))
        fresh = sorted(
            {
                (r, d)
                for r, b in beams.items()
                for i in b
                for d in adj.get(i, ())
                if d not in seen[r]
            }
        )
        if not fresh:
            break
        for r, d in fresh:
            seen[r].add(d)
        state.update(((r, i), s) for r, i, s in score(fresh))
    state = {key: s for key, s in state.items() if key[1] not in tombs}
    conds = sorted({wh for wh in wheres if wh is not None})
    if conds and state:
        # each distinct predicate evaluated once per visited id, over
        # the attribute columns of the frontier read
        attr_cols = [c for c in meta.get("attrs", []) if c != id_col]
        visited_ids = {i for _, i in state}
        rows = (
            frontier.frame("vectors", id_col, visited_ids, (id_col, *attr_cols))
            .select(
                F.col(id_col),
                *[F.expr(wh).alias(f"__w{j}") for j, wh in enumerate(conds)],
            )
            .collect()
        )
        passing = {
            wh: {int(r[0]) for r in rows if r[j + 1] is True}
            for j, wh in enumerate(conds)
        }
        state = {
            (r, i): s
            for (r, i), s in state.items()
            if wheres[r] is None or i in passing[wheres[r]]
        }
    return state


def _best(
    state: dict[tuple[int, int], float], n: int
) -> dict[int, list[tuple[int, float]]]:
    """Each request's top ``n`` visited ``(id, score)`` pairs, ranked
    by (score desc, id asc), requests in ascending order."""
    per_req: dict[int, list[tuple[int, float]]] = {}
    for (r, i), s in state.items():
        per_req.setdefault(r, []).append((i, s))
    return {
        r: sorted(per_req[r], key=lambda t: (-t[1], t[0]))[: max(n, 0)]
        for r in sorted(per_req)
    }


def graph_beam_topk(
    spark: SparkSession,
    store: str,
    query_vec: list[float],
    *,
    k: int = 10,
    beam: int = 10,
    hops: int = 3,
    entries: tuple[int, ...] | None = None,
    exclude_id: int | None = None,
    where: str | None = None,
) -> DataFrame:
    """Beam-search serving over a persisted graph store — returns
    ``(vec_id, cos_sim)``, top-k of the visited set, ranked by
    (cos_sim DESC, vec_id ASC).  See module docstring for the walk
    semantics and the per-hop pruning contract; ``exclude_id``
    removes the query's own row when the query vector came from the
    corpus (bench convention) — seeded out of the expansion up front,
    so it is never re-joined (round-13 ADVICE).  ``entries=None``
    (the default since round 15) reads the store's PERSISTED entry
    points from the build recipe (``write_knn_graph``'s top-degree
    hubs); an explicit tuple overrides them.  A query vector with a
    NaN or infinite component raises ``ValueError``.

    Tombstoned ids (``delete_from_knn_graph``) are excluded from the
    RESULT but remain navigable stepping stones — the graph-store
    delete semantics the module docstring documents.

    ``where`` (SQL over the store's ``attrs`` columns) POST-filters
    the visited set before top-k — filtered graph serving keeps the
    walk unfiltered (non-matching nodes remain navigable stepping
    stones, the standard graph-store semantics) and may return fewer
    than k rows when the predicate is very selective; raise ``beam``/
    ``hops`` to widen the visited pool in that case.

    The walk is ``graph_beam_batch_topk``'s with one request, so the
    rows equal that request's batch rows.  They are ranked on the
    driver and returned as one local relation: collecting them runs no
    Spark job."""
    from ..sinks.zipnum import local_frame

    state = _beam_walk(
        spark, store, [query_vec], beam=beam, hops=hops, entries=entries,
        exclude_ids=[exclude_id], wheres=[where], op="graph_beam_topk",
    )
    return local_frame(spark, _best(state, k).get(0, []), _TOPK)


def sql_graph_beam_topk(
    *,
    query_vec_id: int,
    n_base: int = 500,
    k_neighbors: int = 12,
    k: int = 10,
    beam: int = 10,
    hops: int = 3,
    entries: tuple[int, ...] = (0, 150, 300, 450),
    symmetric: bool = True,
    dim: int = 64,
    where_sql: str | None = None,
    block_col: str | None = None,
    min_sim: float | None = None,
    exclude_result_ids: tuple[int, ...] = (),
    append_from: int | None = None,
    knn_cte: str | None = None,
    base_select: str | None = None,
    query_from_base: bool = False,
    entries_from_graph: int | None = None,
) -> str:
    """DuckDB twin: re-derives the exact (symmetrized) kNN edge table
    AND the unrolled beam walk as chained CTEs — build ∘ serve
    value-hashed end to end.  ``where_sql`` (columns of the
    ``embeddings`` table aliased ``e``) mirrors the Spark path's
    post-filter over the visited set.  ``block_col`` mirrors a
    blocked build (knn candidates restricted to equal values of that
    ``embeddings`` column).  ``exclude_result_ids`` mirrors tombstone
    semantics (dropped from the final top-k, still stepping stones).
    ``append_from`` mirrors ``append_knn_graph``: ids below it form
    the original base (edges among themselves only), ids in
    [append_from, n_base) are the appended batch (edges over ALL
    nodes), both symmetrized.  ``base_select`` overrides the default
    base CTE body (``SELECT … FROM embeddings WHERE vec_id <
    n_base``) — the sparse-id builds remap the id domain there.
    ``query_from_base`` makes the q CTE resolve ``query_vec_id``
    against ``base`` (remapped ids) instead of raw ``embeddings``.
    ``entries_from_graph=n`` mirrors the persisted entry points:
    instead of the static ``entries`` tuple, seed from the n
    hash-stratified top-degree nodes of the re-derived graph CTE —
    exactly ``write_knn_graph``'s ``_top_degree_entries``
    (``_sql_entries_cte``)."""
    cos_ab = sql_hround(sql_cosine("a.embedding", "b.embedding", dim), 6)
    cos_q = sql_hround(sql_cosine("v.embedding", "q.qv", dim), 6)
    ent = ", ".join(str(int(e)) for e in entries)
    blk = f" AND a.{block_col} = b.{block_col}" if block_col else ""
    if min_sim is not None:
        blk += f" AND {cos_ab} >= {min_sim}"
    base_cols = "vec_id, embedding" + (f", {block_col}" if block_col else "")
    if knn_cte is not None:
        # caller-supplied CTE chain ending in knn(src, dst) — the
        # NN-descent twin (sql_nnd_knn_cte)
        knn_sql = knn_cte
    elif append_from is None:
        knn_sql = f"""knn AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {cos_ab} DESC, b.vec_id
               ) AS rn
        FROM base a JOIN base b ON a.vec_id <> b.vec_id{blk}
      ) WHERE rn <= {k_neighbors}
    )"""
    else:
        knn_sql = f"""knn AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {cos_ab} DESC, b.vec_id
               ) AS rn
        FROM base a JOIN base b
          ON a.vec_id <> b.vec_id{blk}
         AND a.vec_id < {append_from} AND b.vec_id < {append_from}
      ) WHERE rn <= {k_neighbors}
      UNION ALL
      SELECT src, dst FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {cos_ab} DESC, b.vec_id
               ) AS rn
        FROM base a JOIN base b ON a.vec_id <> b.vec_id{blk}
        WHERE a.vec_id >= {append_from}
      ) WHERE rn <= {k_neighbors}
    )"""
    graph_sql = (
        """graph AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM knn
        UNION ALL
        SELECT dst AS src, src AS dst FROM knn
      )
    )"""
        if symmetric
        else "graph AS MATERIALIZED (SELECT DISTINCT src, dst FROM knn)"
    )
    base_body = (
        base_select
        if base_select is not None
        else f"SELECT {base_cols} FROM embeddings WHERE vec_id < {n_base}"
    )
    q_body = (
        f"SELECT embedding AS qv FROM base WHERE vec_id = {query_vec_id}"
        if query_from_base
        else (
            "SELECT embedding AS qv FROM embeddings "
            f"WHERE vec_id = {query_vec_id}"
        )
    )
    if entries_from_graph is not None:
        ent_sql = "SELECT id FROM entries"
    else:
        ent_sql = ent
    parts = [
        f"""base AS (
      {base_body}
    )""",
        f"""q AS (
      {q_body}
    )""",
        knn_sql,
        graph_sql,
    ]
    if entries_from_graph is not None:
        parts.append(_sql_entries_cte(entries_from_graph))
    parts += [
        f"""v0 AS (
      SELECT v.vec_id AS id, {cos_q} AS s
      FROM base v, q
      WHERE v.vec_id IN ({ent_sql}) AND v.vec_id <> {query_vec_id}
    )""",
        f"""b0 AS (
      SELECT id, s FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY s DESC, id) AS rn FROM v0
      ) WHERE rn <= {beam}
    )""",
    ]
    prev_v, prev_b = "v0", "b0"
    for h in range(1, hops + 1):
        parts.append(
            f"""n{h} AS (
      SELECT DISTINCT g.dst AS id
      FROM {prev_b} JOIN graph g ON g.src = {prev_b}.id
      WHERE g.dst NOT IN (SELECT id FROM {prev_v})
        AND g.dst <> {query_vec_id}
    )"""
        )
        parts.append(
            f"""v{h} AS (
      SELECT id, s FROM {prev_v}
      UNION ALL
      SELECT n.id, {cos_q} AS s
      FROM n{h} n JOIN base v ON v.vec_id = n.id, q
    )"""
        )
        parts.append(
            f"""b{h} AS (
      SELECT id, s FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY s DESC, id) AS rn FROM v{h}
      ) WHERE rn <= {beam}
    )"""
        )
        prev_v, prev_b = f"v{h}", f"b{h}"
    final_src = f"{prev_v} v"
    conds = []
    if exclude_result_ids:
        conds.append(
            "v.id NOT IN ("
            + ", ".join(str(int(i)) for i in sorted(exclude_result_ids))
            + ")"
        )
    if where_sql is not None:
        final_src = f"{prev_v} v JOIN embeddings e ON e.vec_id = v.id"
        conds.append(where_sql)
    final_where = ("\n    WHERE " + " AND ".join(conds)) if conds else ""
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT v.id AS vec_id, v.s AS cos_sim
    FROM {final_src}{final_where}
    ORDER BY v.s DESC, v.id LIMIT {k}"""
    )


def _sql_entries_cte(n_entries: int) -> str:
    """DuckDB re-derivation of ``_top_degree_entries`` over the
    oracle's ``graph`` CTE: equal-width md5 hash-value strata +
    per-stratum top-degree, identical ordering contract."""
    from ..functions.text import sql_token_hash

    hk = sql_token_hash("'entries:' || src")
    return f"""entries AS MATERIALIZED (
      SELECT id FROM (
        SELECT src AS id, ROW_NUMBER() OVER (
          PARTITION BY (({hk} * {n_entries}) // {_HASH_SPACE})
          ORDER BY COUNT(*) DESC, src
        ) AS rn
        FROM graph GROUP BY src
      ) WHERE rn = 1
    )"""


def graph_beam_batch_topk(
    spark: SparkSession,
    store: str,
    query_vecs: list[list[float]],
    *,
    k: int = 10,
    beam: int = 10,
    hops: int = 3,
    entries: tuple[int, ...] | None = None,
    exclude_ids: list[int] | None = None,
    wheres: list[str | None] | None = None,
) -> DataFrame:
    """BATCH beam-search serving: N query walks advance in lockstep
    (the batched-``search()`` amortization the rest of the ANN matrix
    already has).  Per-request state (visited set, beam) is kept on
    the driver; each hop reads the UNION of every request's beam ids
    in ONE frontier read (the union-cells trick from the IVF batch
    probes), with per-request membership restored in Python — so
    request count changes the size of the id list, not the number of
    reads.  Each hop scores every fresh (request, id) pair against its
    request's query vector in one ``py_cosine6`` call on the driver.
    Returns ``(request_no, vec_id, cos_sim)``, per-request top-k
    ordered by (request_no, cos_sim desc, vec_id), ranked on the
    driver as one local relation.  A query vector with a NaN or
    infinite component, the wrong dimension or zero norm raises
    ``ValueError`` naming its position.

    ``wheres`` (one SQL predicate over the store's ``attrs`` columns
    per request, None = unfiltered) POST-filters each request's
    visited set before its top-k — the same filtered-serving
    semantics as the single walk's ``where`` (non-matching nodes stay
    navigable stepping stones), batched like the IVF families'
    per-request ``wheres``."""
    from ..sinks.zipnum import local_frame

    if not query_vecs:
        raise ValueError("graph_beam_batch_topk: no query vectors")
    if exclude_ids is not None and len(exclude_ids) != len(query_vecs):
        raise ValueError(
            "graph_beam_batch_topk: exclude_ids must align 1:1 with "
            "query_vecs"
        )
    if wheres is not None and len(wheres) != len(query_vecs):
        raise ValueError(
            "graph_beam_batch_topk: wheres must align 1:1 with query_vecs"
        )
    state = _beam_walk(
        spark, store, query_vecs, beam=beam, hops=hops, entries=entries,
        exclude_ids=exclude_ids or [None] * len(query_vecs),
        wheres=wheres or [None] * len(query_vecs),
        op="graph_beam_batch_topk",
    )
    rows = [(r, i, s) for r, top in _best(state, k).items() for i, s in top]
    return local_frame(spark, rows, _BATCH_TOPK)


def sql_graph_beam_batch_topk(
    *,
    query_vec_ids: tuple[int, ...],
    n_base: int = 500,
    k_neighbors: int = 12,
    k: int = 10,
    beam: int = 10,
    hops: int = 3,
    entries: tuple[int, ...] = (0, 150, 300, 450),
    dim: int = 64,
    entries_from_graph: int | None = None,
    where_sqls: tuple[str | None, ...] | None = None,
) -> str:
    """DuckDB twin of the batch walk: request table + per-request
    windows, graph and walk re-derived as chained CTEs.
    ``entries_from_graph`` mirrors the persisted entry points exactly
    as in ``sql_graph_beam_topk``.  ``where_sqls`` (columns of the
    ``embeddings`` table aliased ``e``, one per request, None =
    unfiltered) mirrors the Spark path's per-request post-filter of
    the visited set."""
    cos_ab = sql_hround(sql_cosine("a.embedding", "b.embedding", dim), 6)
    cos_q = sql_hround(sql_cosine("v.embedding", "q.qvec", dim), 6)
    reqs = ", ".join(
        f"({i}, {int(qid)})" for i, qid in enumerate(query_vec_ids)
    )
    ent = ", ".join(str(int(e)) for e in entries)
    ent_sql = (
        "SELECT id FROM entries" if entries_from_graph is not None else ent
    )
    parts = [
        f"""base AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < {n_base}
    )""",
        f"""reqs AS (
      SELECT * FROM (VALUES {reqs}) AS t(req, qid)
    )""",
        """qv AS (
      SELECT r.req, r.qid, e.embedding AS qvec
      FROM reqs r JOIN embeddings e ON e.vec_id = r.qid
    )""",
        f"""knn AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {cos_ab} DESC, b.vec_id
               ) AS rn
        FROM base a JOIN base b ON a.vec_id <> b.vec_id
      ) WHERE rn <= {k_neighbors}
    )""",
        """graph AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM knn
        UNION ALL
        SELECT dst AS src, src AS dst FROM knn
      )
    )""",
    ]
    if entries_from_graph is not None:
        parts.append(_sql_entries_cte(entries_from_graph))
    parts += [
        f"""v0 AS (
      SELECT q.req, v.vec_id AS id, {cos_q} AS s
      FROM qv q JOIN base v
        ON v.vec_id IN ({ent_sql}) AND v.vec_id <> q.qid
    )""",
        f"""b0 AS (
      SELECT req, id, s FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY req ORDER BY s DESC, id) AS rn FROM v0
      ) WHERE rn <= {beam}
    )""",
    ]
    prev_v, prev_b = "v0", "b0"
    for h in range(1, hops + 1):
        parts.append(
            f"""n{h} AS (
      SELECT DISTINCT b.req, g.dst AS id
      FROM {prev_b} b
      JOIN graph g ON g.src = b.id
      JOIN reqs r ON r.req = b.req
      LEFT JOIN {prev_v} p ON p.req = b.req AND p.id = g.dst
      WHERE p.id IS NULL AND g.dst <> r.qid
    )"""
        )
        parts.append(
            f"""v{h} AS (
      SELECT req, id, s FROM {prev_v}
      UNION ALL
      SELECT n.req, n.id, {cos_q} AS s
      FROM n{h} n
      JOIN base v ON v.vec_id = n.id
      JOIN qv q ON q.req = n.req
    )"""
        )
        parts.append(
            f"""b{h} AS (
      SELECT req, id, s FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY req ORDER BY s DESC, id) AS rn FROM v{h}
      ) WHERE rn <= {beam}
    )"""
        )
        prev_v, prev_b = f"v{h}", f"b{h}"
    if where_sqls is not None:
        arms = " OR ".join(
            f"(f.req = {i}" + (f" AND ({wh})" if wh is not None else "") + ")"
            for i, wh in enumerate(where_sqls)
        )
        parts.append(
            f"""fview AS (
      SELECT f.req, f.id, f.s
      FROM {prev_v} f JOIN embeddings e ON e.vec_id = f.id
      WHERE {arms}
    )"""
        )
        prev_v = "fview"
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT req AS request_no, id AS vec_id, s AS cos_sim
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY req ORDER BY s DESC, id) AS rn FROM {prev_v}
    ) WHERE rn <= {k}
    ORDER BY request_no, cos_sim DESC, vec_id"""
    )
