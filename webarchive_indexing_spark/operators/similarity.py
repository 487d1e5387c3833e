"""Embedding similarity search (SURVEY.md §2.11 L3/L4).

* ``cosine_topk`` — brute-force exact top-k against one query vector:
  a map-only scan (dot products inside whole-stage codegen via
  higher-order functions) + TakeOrderedAndProject.  The 100 TB
  baseline: no shuffle at all, k rows to the driver.
* ``knn_blocked`` — per-block (coarse-quantizer stand-in) exact kNN:
  the IVF shape — equi-join on the block key bounds the pair fan-out,
  window top-k per probe.
* ``lsh_buckets`` — sign-random-projection (SimHash-for-vectors)
  bucketing: the scale path for pairwise similarity; planes are
  md5-seeded literals so results are engine-independent.

Determinism contract: every reduction over floats goes through
DECIMAL accumulation (element products are single IEEE ops —
bit-identical in any engine; only the reduction order differs, and
decimal addition is order-free).
"""

from __future__ import annotations

import decimal
import functools
import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sqltext import require_finite, sql_double_array, sql_ident, sql_in

DEC = "decimal(28,14)"


def lit_double_array(vals: list[float]) -> Column:
    """Literal array<double> built as ONE parsed SQL expression.

    ``F.array(*[F.lit(v) ...])`` costs one py4j round-trip per element
    — a 64-dim codebook of 8x4 sub-vectors is thousands of driver→JVM
    calls and measured ~3 s of pure expression-construction time per
    PQ query build.  ``repr(float)`` round-trips the exact double bits
    through SQL parsing, so the literal is bit-identical."""
    return F.expr(sql_double_array(vals))


def collect_seed_vectors(
    embeddings: DataFrame,
    n: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict[int, list[float]]:
    """Collect the ``n`` seed vectors with ids ``0..n-1`` as a
    model-artifact dict, VERIFYING the id space is actually contiguous.

    The stand-in quantizer seeds used by ivf/pq/ivfadc/k-means assume
    ``ids 0..n-1`` exist exactly once; on a filtered or sampled corpus
    ``filter(id < n)`` can return fewer rows, and downstream
    ``cvecs[j] for j in range(n)`` would either KeyError on the driver
    or silently train on fewer centroids than requested (ADVICE r4).
    Fail loudly with the observed ids instead."""
    rows = (
        embeddings.filter(F.col(id_col) < n).select(id_col, vec_col).collect()
    )
    out = {int(r[id_col]): [float(x) for x in r[vec_col]] for r in rows}
    if sorted(out) != list(range(n)):
        raise ValueError(
            f"seed id space not contiguous 0..{n - 1}: got {len(out)} ids "
            f"{sorted(out)[:8]}{'...' if len(out) > 8 else ''} — re-rank "
            f"ids (row_number) or pass a corpus containing the seed rows"
        )
    return out


def collect_query_vector(
    embeddings: DataFrame,
    query_vec_id: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[float]:
    """Collect the single query vector, failing loudly when absent."""
    qrow = (
        embeddings.filter(F.col(id_col) == query_vec_id).select(vec_col).collect()
    )
    if not qrow:
        raise ValueError(f"query vector id {query_vec_id} not found in corpus")
    return [float(x) for x in qrow[0][vec_col]]


def collect_seeds_and_query(
    embeddings: DataFrame,
    n: int,
    query_vec_id: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[dict[int, list[float]], list[float]]:
    """Seeds 0..n-1 AND the query vector in ONE collect job (a single
    pushed-down `id < n OR id = q` scan) — the model-artifact fetch
    every ANN query starts with.  Two separate collects cost two
    driver-scheduled jobs; at a ~0.15 s/job floor that was measurable
    on every ANN bench entry.  Same contiguity guarantee as
    ``collect_seed_vectors``."""
    rows = (
        embeddings.filter(
            (F.col(id_col) < n) | (F.col(id_col) == query_vec_id)
        )
        .select(id_col, vec_col)
        .collect()
    )
    vecs = {int(r[id_col]): [float(x) for x in r[vec_col]] for r in rows}
    qv = vecs.get(int(query_vec_id))
    if qv is None:
        raise ValueError(f"query vector id {query_vec_id} not found in corpus")
    seeds = {i: v for i, v in vecs.items() if i < n}
    if sorted(seeds) != list(range(n)):
        raise ValueError(
            f"seed id space not contiguous 0..{n - 1}: got {sorted(seeds)[:8]}"
        )
    return seeds, qv


def _dec_dot(a: Column, b: Column) -> Column:
    """Exact-decimal dot product of two float arrays."""
    prods = F.zip_with(a, b, lambda x, y: (x.cast("double") * y.cast("double")).cast(DEC))
    return F.aggregate(
        prods, F.lit(0).cast(DEC), lambda acc, x: (acc + x).cast(DEC)
    )


def sql_dec_dot(a: str, b: str, dim: int = 64) -> str:
    return (
        f"list_sum(list_transform(range(1, {dim + 1}), i -> "
        f"CAST(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) AS DECIMAL(28,14))))"
    )


def cosine(a: Column, b: Column) -> Column:
    dot = _dec_dot(a, b).cast("double")
    na = F.sqrt(_dec_dot(a, a).cast("double"))
    nb = F.sqrt(_dec_dot(b, b).cast("double"))
    return dot / (na * nb)


def _spark_dec_dot(a: str, b: str) -> str:
    """Spark SQL text of ``_dec_dot(a, b)``."""
    return (
        f"aggregate(zip_with({a}, {b}, (l, r) -> "
        f"CAST(CAST(l AS DOUBLE) * CAST(r AS DOUBLE) AS {DEC})), "
        f"CAST(0 AS {DEC}), (acc, v) -> CAST(acc + v AS {DEC}))"
    )


def _spark_hround6(x: str) -> str:
    """Spark SQL text of ``hround(x, 6)``."""
    return (
        f"CAST(FLOOR(CAST(({x}) AS DOUBLE) * 1000000.0D + 0.5D) AS DOUBLE)"
        " / 1000000.0D"
    )


def spark_cosine6_sql(a: str, b: str) -> str:
    """Spark SQL text of ``hround(cosine(a, b), 6)`` over two array
    columns: the same expression tree, so the same doubles, from one
    parse.  Built from Columns it is ~540 py4j round-trips."""
    return _spark_hround6(
        f"CAST({_spark_dec_dot(a, b)} AS DOUBLE) / "
        f"(SQRT(CAST({_spark_dec_dot(a, a)} AS DOUBLE)) "
        f"* SQRT(CAST({_spark_dec_dot(b, b)} AS DOUBLE)))"
    )


def spark_dot6_sql(a: str, b: str) -> str:
    """Spark SQL text of ``dot6(a, b)`` (same tree, same doubles)."""
    return _spark_hround6(f"CAST({_spark_dec_dot(a, b)} AS DOUBLE)")


def spark_sqdist6_sql(a: str, b: str) -> str:
    """Spark SQL text of ``sqdist6(a, b)`` (same tree, same doubles)."""
    d = "(CAST(l AS DOUBLE) - CAST(r AS DOUBLE))"
    return _spark_hround6(
        f"aggregate(zip_with({a}, {b}, (l, r) -> {d} * {d}), 0.0D, "
        f"(acc, v) -> acc + v)"
    )


def sql_cosine(a: str, b: str, dim: int = 64) -> str:
    return (
        f"CAST({sql_dec_dot(a, b, dim)} AS DOUBLE) / "
        f"(sqrt(CAST({sql_dec_dot(a, a, dim)} AS DOUBLE)) * "
        f"sqrt(CAST({sql_dec_dot(b, b, dim)} AS DOUBLE)))"
    )


def dot6(a: Column, b: Column) -> Column:
    """6dp-rounded inner product (decimal-routed, engine-portable) —
    the FAISS METRIC_INNER_PRODUCT score."""
    from ..queries.helpers import hround

    return hround(_dec_dot(a, b).cast("double"), 6)


def sql_dot6(a: str, b: str, dim: int = 64) -> str:
    """DuckDB twin of ``dot6``."""
    from ..queries.helpers import sql_hround

    return sql_hround(f"CAST({sql_dec_dot(a, b, dim)} AS DOUBLE)", 6)


def cosine_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 20,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against the vector with ``query_vec_id``.
    The single-row query side is broadcast; ranking is hrounded so the
    k-set is engine-deterministic under ties."""
    from ..queries.helpers import hround

    q = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("__q")
    )
    out = (
        embeddings.filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            hround(cosine(F.col(vec_col), F.col("__q")), 6).alias("cos_sim"),
        )
    )
    return out.orderBy(F.col("cos_sim").desc(), F.col(id_col).asc()).limit(k)


def blocked_pairs(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    ordered: bool = False,
) -> DataFrame:
    """Self-join within coarse blocks: the shared scaffolding of every
    blocked pairwise stage (kNN, threshold near-dup).  ``ordered=True``
    keeps each unordered pair once (a_id < b_id); False keeps both
    directions (per-probe neighbour lists).

    Each side carries its precomputed vector norm (``a_nrm``/``b_nrm``):
    norms are per-VECTOR, so computing them map-side before the join
    does O(n) decimal accumulations instead of O(pairs) — in a blocked
    self-join that removes ~2/3 of the decimal work.  Same expression
    on the same values, so results are bit-identical to computing the
    norm per pair."""
    nrm = F.sqrt(_dec_dot(F.col(vec_col), F.col(vec_col)).cast("double"))
    a = embeddings.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("a_id"),
        F.col(vec_col).alias("a_v"),
        nrm.alias("a_nrm"),
    )
    b = embeddings.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("b_v"),
        nrm.alias("b_nrm"),
    )
    cond = F.col("a_id") < F.col("b_id") if ordered else F.col("a_id") != F.col("b_id")
    return a.join(b, "blk").filter(cond)


def _proj_signs(dim: int, n_proj: int) -> list[list[float]]:
    """Deterministic ±1 projection directions (md5-seeded, like the
    LSH planes) — engine- and run-independent."""
    outs = []
    for j in range(n_proj):
        outs.append(
            [
                1.0 if hashlib.md5(f"grid{j}:{i}".encode()).digest()[0] & 1 else -1.0
                for i in range(dim)
            ]
        )
    return outs


def grid_blocked_pairs(
    embeddings: DataFrame,
    threshold: float,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    n_proj: int = 2,
) -> DataFrame:
    """``blocked_pairs`` with a LOSSLESS grid refinement for cosine-
    threshold joins: same output columns, provably the same qualifying
    pairs, but candidates bounded by grid-cell occupancy instead of
    block size.

    The math: cos(a,b) ≥ t ⇒ ‖â−b̂‖ ≤ √(2(1−t)) for the normalized
    vectors, and for any unit direction r, |r·â − r·b̂| ≤ ‖â−b̂‖.  So
    with cell width w = √(2(1−t)) (+ float slack), a qualifying pair's
    cells differ by at most 1 along every projection — exploding one
    side into the 3^n_proj adjacent cells and equi-joining on
    (block, cell…) is EXACT: no qualifying pair is lost, and each
    unordered pair is produced exactly once (the join hits the unique
    true cell of the other side).  This is the standard ε-join grid;
    the projections are fixed ±1 directions normalized by √dim.

    Why it matters at scale: a coarse block key with FIXED cardinality
    (the fixture's ``label``) makes block size — and the pair
    candidate count, quadratically — grow with the corpus; the 10×
    scaling sniff measured 82× time at 10× rows for the SemDeDup
    stage.  The grid key's cardinality grows with the data's spread,
    so candidates stay proportional to Σ_cells n_c² with cells sized
    by the THRESHOLD, not the corpus.  (For corpus-proportional
    cluster counts — the SemDeDup-paper regime — pass the quantizer
    cell id as ``block_col`` on top.)"""
    import math

    dim = embeddings.select(F.size(vec_col)).first()[0]
    signs = _proj_signs(dim, n_proj)
    w = math.sqrt(2.0 * (1.0 - threshold)) * (1.0 + 1e-9) + 1e-12
    inv = 1.0 / math.sqrt(dim)

    nrm = F.sqrt(_dec_dot(F.col(vec_col), F.col(vec_col)).cast("double"))

    # r·v̂ with r = ±1/√dim, one parsed cell expression per projection
    # — double math is fine here: blocking only needs the
    # ≤1-cell-apart guarantee, and w carries slack
    cells = [
        f"CAST(FLOOR({_fast_dot('_v', s)} * {inv!r}D / _nrm / {w!r}D) AS BIGINT)"
        for s in signs
    ]

    from ..queries.helpers import widen_narrow

    # widen BEFORE the cell projection + join: the join output
    # inherits its inputs' partitioning, so a 1-partition fixture scan
    # would put every candidate pair's decimal cosine on one core
    # (round-15 profiling).  No-op on cluster-scale scans.
    base = widen_narrow(embeddings).select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        nrm.alias("_nrm"),
    )
    base = base.selectExpr(
        "blk", "_id", "_v", "_nrm", *[f"{c} AS _c{j}" for j, c in enumerate(cells)]
    )

    b = base.select(
        "blk",
        F.col("_id").alias("b_id"),
        F.col("_v").alias("b_v"),
        F.col("_nrm").alias("b_nrm"),
        *[F.col(f"_c{j}").alias(f"b_c{j}") for j in range(n_proj)],
    )
    a = base
    for j in range(n_proj):
        a = a.withColumn(
            f"a_c{j}", F.explode(F.array(F.col(f"_c{j}") - 1, F.col(f"_c{j}"), F.col(f"_c{j}") + 1))
        )
    a = a.select(
        "blk",
        F.col("_id").alias("a_id"),
        F.col("_v").alias("a_v"),
        F.col("_nrm").alias("a_nrm"),
        *[F.col(f"a_c{j}") for j in range(n_proj)],
    )
    on = [a["blk"] == b["blk"]] + [
        a[f"a_c{j}"] == b[f"b_c{j}"] for j in range(n_proj)
    ]
    joined = a.join(b, functools.reduce(lambda x, y: x & y, on)).filter(
        F.col("a_id") < F.col("b_id")
    )
    return joined.select("a_id", "a_v", "a_nrm", "b_id", "b_v", "b_nrm")


def cosine_from_parts(a_v: Column, b_v: Column, a_nrm: Column, b_nrm: Column) -> Column:
    """Cosine from a per-pair decimal dot + the per-vector norms that
    blocked_pairs precomputed — bit-identical to ``cosine`` but with
    the redundant per-pair norm recomputation removed."""
    return _dec_dot(a_v, b_v).cast("double") / (a_nrm * b_nrm)


def knn_blocked(
    embeddings: DataFrame,
    k: int = 3,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
) -> DataFrame:
    """IVF-shaped kNN: exact top-k neighbours within each block.  The
    block key join replaces the all-pairs cross join — fan-out is
    bounded by block size, the right trade-off when a coarse quantizer
    (here: the label column) assigns the blocks."""
    from ..queries.helpers import hround

    pairs = blocked_pairs(
        embeddings, id_col=id_col, vec_col=vec_col, block_col=block_col
    )
    scored = pairs.select(
        "blk",
        "a_id",
        "b_id",
        hround(
            cosine_from_parts(
                F.col("a_v"), F.col("b_v"), F.col("a_nrm"), F.col("b_nrm")
            ),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("a_id").orderBy(F.col("cos_sim").desc(), F.col("b_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("a_id", "b_id", "cos_sim", "rn")
    )


# ---------------------------------------------------------------------------
# Select: the ranking step every ANN probe shares — the persisted stores'
# kernel (sinks/ann_index.py) and the in-plan probes below
# ---------------------------------------------------------------------------


def _rank(
    df: DataFrame,
    own: list[list[str]],
    scores: list[str],
    score: tuple[str, bool],
    keep: list[str],
    *,
    batch: bool,
    k: int | None = None,
    radii: list[float] | None = None,
    prep: str | None = None,
) -> DataFrame:
    """Score each request as SQL text and select.  One request is a
    plain projection; several fan each row out to the requests whose
    own conditions it meets (``inline(filter(array(named_struct…)))``,
    map-side).  Top-k is ``orderBy + limit`` (TakeOrderedAndProject)
    for one request and one ``request_no`` ``row_number`` window for
    several; range cuts each request at its radius and orders
    (request_no, score, id)."""
    name, desc = score
    if prep is not None:
        df = df.selectExpr("*", f"{prep} AS __v")
    cols = [sql_ident(c) for c in keep]
    out = (["request_no"] if batch else []) + keep + [name]
    if len(scores) == 1:
        hits = df.selectExpr(
            *(["0 AS request_no"] if batch else []), *cols,
            f"{scores[0]} AS {name}",
        )
    else:
        arms = ",".join(
            f"named_struct('request_no', {i}, '{name}', "
            + (f"CASE WHEN {' AND '.join(c)} THEN {s} END)" if c else f"{s})")
            for i, (c, s) in enumerate(zip(own, scores))
        )
        hits = df.selectExpr(
            *cols, f"inline(filter(array({arms}), s -> s.{name} IS NOT NULL))"
        ).select(*out)
    order = [name, keep[0]]
    if radii is None and len(scores) == 1:
        return hits.orderBy(order, ascending=[not desc, True]).limit(k)
    if radii is None:
        rank = f"{name} {'DESC' if desc else 'ASC'}, {cols[0]}"
        return (
            hits.selectExpr(
                "*",
                f"row_number() OVER (PARTITION BY request_no ORDER BY {rank}) AS __rn",
            )
            .filter(f"__rn <= {int(k)}")
            .select(*out)
        )
    if len(radii) == 1:
        bound = f"{float(radii[0])!r}D"
    else:
        bound = "CASE request_no " + " ".join(
            f"WHEN {i} THEN {float(r)!r}D" for i, r in enumerate(radii)
        ) + " END"
    order = (["request_no"] if batch else []) + order
    return hits.filter(f"{name} {'>=' if desc else '<='} {bound}").orderBy(
        order, ascending=[True] * (len(order) - 2) + [not desc, True]
    )


def _select_topk(
    embeddings: DataFrame, query_vec_id: int, k: int, id_col: str, cols: list[str],
    score: tuple[str, bool, str], probe: list[int] | None = None, key: str = "cell",
) -> DataFrame:
    """The in-plan probes' verify + select over an unpersisted frame:
    ONE projection of the id and ``cols`` (the ``key`` column and the
    encode columns, as SQL text; a column may name an earlier one's
    alias), ONE parsed filter (``key IN probe`` when ``probe`` is
    given, and never the query row), then ``_rank``'s top-k on
    ``score = (name, descending?, SQL)`` — scan → filter →
    TakeOrderedAndProject, zero shuffles."""
    idc = sql_ident(id_col)
    cond = [] if probe is None else [sql_in(key, probe)]
    df = embeddings.selectExpr(idc, *cols).filter(
        " AND ".join(cond + [f"{idc} <> {int(query_vec_id)}"])
    )
    return _rank(df, [[]], [score[2]], score[:2], [id_col, key], batch=False, k=k)


def ivf_topk(
    embeddings: DataFrame, query_vec_id: int, k: int = 10, n_cents: int = 16,
    nprobe: int = 2, *, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: coarse-quantize every vector to its nearest
    centroid cell, then run exact cosine top-k over only the ``nprobe``
    cells nearest the query — the classic inverted-file pruned scan.

    Centroids here are the first ``n_cents`` vectors (a deterministic
    stand-in; production swaps in k-means-trained centroids — the plan
    shape is identical).  The quantizer is a model artifact of
    ``n_cents × dim`` floats, so it is collected once and inlined as
    literals: cell assignment becomes a map-only argmax inside
    whole-stage codegen, and the probe-cell filter prunes ~(1 −
    nprobe/n_cents) of the data before any distance math.  The whole
    query plans as one scan → filter → TakeOrderedAndProject: ZERO
    shuffles, k rows to the driver — at 100 TB only the (still exact)
    in-cell rescan scales with data size.
    """
    cents, qv = collect_seeds_and_query(
        embeddings, n_cents, query_vec_id, id_col=id_col, vec_col=vec_col
    )
    require_finite([qv], "ivf_topk")
    return ivf_probe_topk(
        embeddings, cents, query_vec_id, k=k, nprobe=nprobe, id_col=id_col,
        vec_col=vec_col, qv=qv,
    )


def _py_norm(vals: list[float]) -> float:
    import math

    acc = 0.0
    for x in vals:
        acc += x * x
    return math.sqrt(acc)


def _py_dot(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _fast_dot(vec: str, vals: list[float]) -> str:
    """Spark SQL text of ``vec · vals`` over a literal array as a plain
    double fold — the IVF cell score and the ε-grid projections."""
    return (
        f"aggregate(zip_with({vec}, {sql_double_array(vals)}, "
        f"(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, x) -> acc + x)"
    )


def ivf_cell_sql(cents: dict[int, list[float]], vec_col: str) -> str:
    """Per-row IVF cell assignment over an inlined centroid table, as
    one Spark SQL expression — the map-only argmax every IVF read path
    shares (in-query probe AND persisted-index build and append, so the
    stored layout and the probe's assignment can never disagree).  Cell
    score = hround6(dot(v,c)/‖c‖) — ‖v‖ is constant per row, so
    dropping it cannot change the argmax; array_max over
    named_struct(s, -cid) reproduces the oracle's (score DESC, cid ASC)
    ranking."""
    vec = sql_ident(vec_col)
    arms = []
    for cid, cv in sorted(cents.items()):
        s = _spark_hround6(f"{_fast_dot(vec, cv)} / {_py_norm(cv)!r}D")
        arms.append(f"named_struct('s', {s}, 'negid', {-cid})")
    return f"-array_max(array({', '.join(arms)})).negid"


def ivf_probe_cells(
    cents: dict[int, list[float]],
    qv: list[float],
    nprobe: int,
    *,
    metric: str = "cosine",
) -> list[int]:
    """The query's nprobe nearest centroids — pure driver math on the
    collected quantizer, mirroring the oracle's (score DESC, cid ASC)
    ranking.  ``metric`` (round 12 — FAISS METRIC_* parity on the
    query side): ``cosine`` (default), ``ip`` (inner product, ranked
    descending), ``l2`` (squared distance, ranked ascending)."""
    from ..queries.helpers import py_hround

    if metric == "cosine":
        cnorm = {cid: _py_norm(cv) for cid, cv in cents.items()}
        key = lambda c: (  # noqa: E731
            -py_hround(_py_dot(qv, cents[c]) / cnorm[c], 6), c,
        )
    elif metric == "ip":
        key = lambda c: (-py_hround(_py_dot(qv, cents[c]), 6), c)  # noqa: E731
    elif metric == "l2":
        key = lambda c: (py_sqdist6(qv, cents[c]), c)  # noqa: E731
    else:
        raise ValueError(f"unknown metric {metric!r}")
    return sorted(cents, key=key)[:nprobe]


def ivf_probe_topk(
    embeddings: DataFrame, cents: dict[int, list[float]], query_vec_id: int, *,
    k: int = 10, nprobe: int = 2, id_col: str = "vec_id", vec_col: str = "embedding",
    qv: list[float] | None = None,
) -> DataFrame:
    """The IVF probe scan against an ARBITRARY centroid model artifact
    — the shared back half of ``ivf_topk`` (seed stand-ins) and
    ``ivf_trained_topk`` (lloyd_train output).  Plan shape is
    independent of where the centroids came from: scan → map-only cell
    argmax over inlined literals → probe filter →
    TakeOrderedAndProject.  ZERO shuffles.  Pass ``qv`` when the
    caller already fetched the query vector (one fewer collect job)."""
    if qv is None:
        qv = collect_query_vector(embeddings, query_vec_id, id_col=id_col, vec_col=vec_col)
    require_finite([qv], "ivf_probe_topk")
    vec = sql_ident(vec_col)
    return _select_topk(
        embeddings, query_vec_id, k, id_col,
        [f"{ivf_cell_sql(cents, vec_col)} AS cell", vec],
        ("cos_sim", True, spark_cosine6_sql(vec, sql_double_array(qv))),
        ivf_probe_cells(cents, qv, nprobe),
    )


def ivf_trained_topk(
    embeddings: DataFrame, query_vec_id: int, k: int = 10, n_cents: int = 8,
    nprobe: int = 2, train_iters: int = 2, dim: int = 64, *, id_col: str = "vec_id",
    vec_col: str = "embedding", train_frac: float | None = None,
) -> DataFrame:
    """The production IVF shape: train the coarse quantizer with Lloyd
    k-means (``operators.kmeans.lloyd_train`` — ``train_iters - 1``
    update rounds, centroid-sized exchanges only), then build + probe
    the inverted file with the TRAINED centroids.  ``train_frac``
    trains on the deterministic salted-hash sample instead of the full
    corpus — the knob that keeps per-round training scans bounded at
    100 TB (the index build/probe still covers every vector).

    This is the round-5 composition closing the 'stand-in centroids'
    gap: at 100 TB centroid quality is the recall knob, and this runs
    the engine's own trainer and index against each other.  Training
    adds ``train_iters - 1`` scan+kilobyte-exchange jobs; the probe
    query itself still plans scan → map-only argmax → filter →
    TakeOrderedAndProject with ZERO shuffles (same assertion as the
    stand-in IVF).  The trained centroids are driver floats derived
    from exact-decimal sums, so the DuckDB oracle reconstructs them
    bit-for-bit relationally (``sql_lloyd_centroid_ctes``)."""
    from .kmeans import lloyd_train

    qv = collect_query_vector(embeddings, query_vec_id, id_col=id_col, vec_col=vec_col)
    require_finite([qv], "ivf_trained_topk")
    cents = lloyd_train(
        embeddings, k=n_cents, iters=train_iters, dim=dim,
        id_col=id_col, vec_col=vec_col, train_frac=train_frac,
    )
    return ivf_probe_topk(
        embeddings, cents, query_vec_id, k=k, nprobe=nprobe, id_col=id_col,
        vec_col=vec_col, qv=qv,
    )


def _sql_ivf_probe(
    pre_parts: list[str],
    cents_src: str,
    query_vec_id: int,
    k: int,
    nprobe: int,
    dim: int,
    exclude_ids: list[int] | None = None,
    where_sql: str | None = None,
    radius: float | None = None,
    metric: str = "cosine",
) -> str:
    """Shared relational IVF probe body over a ``(cid, cvec)`` CTE
    named ``cents_src`` (seed stand-ins or the Lloyd-trained chain):
    window argmax cell assignment → nprobe probe-cell ranking →
    exact top-k inside the probed cells.  ``where_sql``
    reconstructs a FILTERED probe: a boolean predicate over the
    ``embeddings`` table's attribute columns, applied to the
    survivors BEFORE the top-k limit (exactly where the store probe
    applies its pushed-down predicate).  ``radius`` reconstructs a
    RANGE probe (FAISS ``range_search``): the 6dp-rounded cut
    replaces the LIMIT — every probed-cell survivor past the
    threshold comes back, k is ignored.  ``metric`` reconstructs the
    query-side metric (``cosine``/``ip``/``l2`` — see the store
    probe): the probe-cell ranking and survivor score follow it,
    while cell ASSIGNMENT stays the build-time cosine argmax."""
    from ..queries.helpers import sql_hround

    def ddot(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {dim + 1}), i -> "
            f"CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
        )

    cscore = sql_hround(f"{ddot('e.embedding', 'c.cvec')} / c.cnorm", 6)
    if metric == "cosine":
        qscore, qdir = sql_hround(
            f"{ddot('q.qv', 'c.cvec')} / c.cnorm", 6
        ), "DESC"
        esim, alias, edir = (
            sql_hround(sql_cosine("cells.embedding", "q.qv", dim), 6),
            "cos_sim", "DESC",
        )
    elif metric == "ip":
        qscore, qdir = sql_hround(ddot("q.qv", "c.cvec"), 6), "DESC"
        esim, alias, edir = (
            sql_dot6("cells.embedding", "q.qv", dim), "dot", "DESC",
        )
    elif metric == "l2":
        qscore, qdir = sql_sqdist6("q.qv", "c.cvec", 0, dim), "ASC"
        esim, alias, edir = (
            sql_sqdist6("cells.embedding", "q.qv", 0, dim),
            "sq_dist", "ASC",
        )
    else:
        raise ValueError(f"unknown metric {metric!r}")
    parts = pre_parts + [
        f"""cents AS (
      SELECT cid, cvec, sqrt({ddot('cvec', 'cvec')}) AS cnorm FROM {cents_src}
    )""",
        f"""q AS (
      SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_vec_id}
    )""",
        f"""scored AS (
      SELECT e.vec_id, e.embedding, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id ORDER BY {cscore} DESC, c.cid ASC) AS rn
      FROM embeddings e CROSS JOIN cents c
    )""",
        """cells AS (
      SELECT vec_id, embedding, cid AS cell FROM scored WHERE rn = 1
    )""",
        f"""probe AS (
      SELECT cid FROM (
        SELECT c.cid, ROW_NUMBER() OVER (ORDER BY {qscore} {qdir}, c.cid ASC) AS rn
        FROM cents c CROSS JOIN q
      ) WHERE rn <= {nprobe}
    )""",
    ]
    excl = ""
    if exclude_ids:
        excl = (
            " AND cells.vec_id NOT IN ("
            + ", ".join(str(int(i)) for i in exclude_ids)
            + ")"
        )
    if where_sql:
        excl += (
            f" AND cells.vec_id IN "
            f"(SELECT vec_id FROM embeddings WHERE {where_sql})"
        )
    if radius is not None:
        op = "<=" if edir == "ASC" else ">="
        excl += f" AND {esim} {op} {radius}"
    limit = "" if radius is not None else f" LIMIT {k}"
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT cells.vec_id, cells.cell, {esim} AS {alias}
    FROM cells CROSS JOIN q
    WHERE cells.cell IN (SELECT cid FROM probe) AND cells.vec_id <> {query_vec_id}{excl}
    ORDER BY {alias} {edir}, cells.vec_id ASC{limit}
    """
    )


def sql_ivf_topk(
    query_vec_id: int = 123,
    k: int = 10,
    n_cents: int = 16,
    nprobe: int = 2,
    dim: int = 64,
) -> str:
    """DuckDB twin of ``ivf_topk`` — fully relational (window argmax
    instead of the collected-quantizer map expression); same result.
    Cell scores are the same plain-double ``dot(v,c)/‖c‖`` (64-term
    fold drift ≪ the 1e-6 rounding grain); the output cosine is the
    decimal-exact one."""
    seed = (
        f"cseed AS (SELECT vec_id AS cid, embedding AS cvec "
        f"FROM embeddings WHERE vec_id < {n_cents})"
    )
    return _sql_ivf_probe([seed], "cseed", query_vec_id, k, nprobe, dim)


def sql_ivf_trained_topk(
    query_vec_id: int = 123,
    k: int = 10,
    n_cents: int = 8,
    nprobe: int = 2,
    train_iters: int = 2,
    dim: int = 64,
    train_mod: int | None = None,
    exclude_ids: list[int] | None = None,
    where_sql: str | None = None,
    radius: float | None = None,
    metric: str = "cosine",
) -> str:
    """DuckDB twin of ``ivf_trained_topk``: the Lloyd centroid CTE
    chain (``sql_lloyd_centroid_ctes`` — exact-decimal update sums, so
    the relational centroids equal the Spark driver's floats bit for
    bit) feeding the same relational IVF probe body.  ``train_mod``
    reconstructs the sampled-training variant (``train_frac=1/mod``);
    ``exclude_ids`` reconstructs a tombstoned store (training still
    sees every vector — deletes hide rows from probes, they don't
    retrain the quantizer); ``where_sql`` the filtered probe
    (attribute predicate before top-k — see ``_sql_ivf_probe``);
    ``radius`` the RANGE probe (similarity cut instead of LIMIT)."""
    from .kmeans import sql_lloyd_centroid_ctes

    parts, prev = sql_lloyd_centroid_ctes(
        n_cents, train_iters, dim, train_mod=train_mod
    )
    return _sql_ivf_probe(
        parts, prev, query_vec_id, k, nprobe, dim,
        exclude_ids=exclude_ids, where_sql=where_sql, radius=radius,
        metric=metric,
    )


def sql_ivfsq_trained_topk(
    query_vec_id: int = 123,
    k: int = 10,
    n_cents: int = 8,
    nprobe: int = 2,
    train_iters: int = 2,
    dim: int = 64,
    exclude_ids: list[int] | None = None,
    where_sql: str | None = None,
    radius: float | None = None,
) -> str:
    """DuckDB twin of the IVF-SQ8 store probe: the trained-IVF chain
    (same Lloyd CTEs + cosine-argmax assignment + probe-cell ranking
    as ``sql_ivf_trained_topk``), but the survivors re-rank by the
    cosine of their DEQUANTIZED vectors — scale = max |x|, q_i =
    floor(x_i/scale·127 + .5), x̂ = q·scale/127, every step shared
    with the Spark store encode, so the hash match proves the
    quantize→store→dequantize→rank chain.  ``radius`` reconstructs
    the RANGE probe: the dequantized-cosine cut replaces the LIMIT."""
    from ..queries.helpers import sql_hround
    from .kmeans import sql_lloyd_centroid_ctes

    parts, prev = sql_lloyd_centroid_ctes(n_cents, train_iters, dim)

    def ddot(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {dim + 1}), i -> "
            f"CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
        )

    cscore = sql_hround(f"{ddot('e.embedding', 'c.cvec')} / c.cnorm", 6)
    qscore = sql_hround(f"{ddot('q.qv', 'c.cvec')} / c.cnorm", 6)
    esim = sql_hround(sql_cosine("d.dvec", "q.qv", dim), 6)
    excl = ""
    if exclude_ids:
        excl = (
            " AND cells.vec_id NOT IN ("
            + ", ".join(str(int(i)) for i in exclude_ids)
            + ")"
        )
    if where_sql:
        excl += (
            f" AND cells.vec_id IN "
            f"(SELECT vec_id FROM embeddings WHERE {where_sql})"
        )
    parts += [
        f"""cents AS (
      SELECT cid, cvec, sqrt({ddot('cvec', 'cvec')}) AS cnorm FROM {prev}
    )""",
        f"""q AS (
      SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_vec_id}
    )""",
        f"""scored AS (
      SELECT e.vec_id, e.embedding, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id ORDER BY {cscore} DESC, c.cid ASC) AS rn
      FROM embeddings e CROSS JOIN cents c
    )""",
        """cells AS (
      SELECT vec_id, embedding, cid AS cell FROM scored WHERE rn = 1
    )""",
        f"""probe AS (
      SELECT cid FROM (
        SELECT c.cid, ROW_NUMBER() OVER (ORDER BY {qscore} DESC, c.cid ASC) AS rn
        FROM cents c CROSS JOIN q
      ) WHERE rn <= {nprobe}
    )""",
        f"""d AS (
      SELECT cells.vec_id, cells.cell,
             list_transform(cells.embedding, x ->
               CAST(FLOOR(CAST(x AS DOUBLE) / s.scale * 127 + 0.5) AS DOUBLE)
                 * s.scale / 127.0) AS dvec
      FROM cells
      JOIN (SELECT vec_id,
                   list_max(list_transform(embedding,
                                           x -> abs(CAST(x AS DOUBLE)))) AS scale
            FROM embeddings) s ON s.vec_id = cells.vec_id
      WHERE cells.cell IN (SELECT cid FROM probe)
        AND cells.vec_id <> {query_vec_id}{excl}
    )""",
    ]
    rad = f" WHERE {esim} >= {radius}" if radius is not None else ""
    limit = "" if radius is not None else f" LIMIT {k}"
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT d.vec_id, d.cell, {esim} AS cos_sim
    FROM d CROSS JOIN q{rad}
    ORDER BY cos_sim DESC, d.vec_id ASC{limit}
    """
    )


def _planes(n_planes: int, dim: int) -> list[list[int]]:
    """±1 hyperplanes seeded from md5 — reproducible anywhere."""
    out = []
    for kp in range(n_planes):
        row = []
        for j in range(dim):
            hx = hashlib.md5(f"{kp}_{j}".encode()).hexdigest()[:8]
            row.append(1 if int(hx, 16) % 2 == 1 else -1)
        out.append(row)
    return out


def lsh_bucket_sql(
    vec_col: str = "embedding", n_planes: int = 8, dim: int = 64
) -> str:
    """Sign-LSH bucket id of a vector column as one Spark SQL
    expression: bit k = sign(v · plane_k), the dot an exact
    DECIMAL(18,7) fold.  Being an expression (not a join) is the point
    — bucket assignment stays a map-side projection at any scale.
    DuckDB twin: ``sql_lsh_bucket_expr``."""
    dec = "DECIMAL(18,7)"
    bits = []
    for kp, plane in enumerate(_planes(n_planes, dim)):
        dot = (
            f"aggregate(zip_with({sql_ident(vec_col)}, array({','.join(map(str, plane))}), "
            f"(x, p) -> CAST(CAST(x AS DOUBLE) * p AS {dec})), CAST(0 AS {dec}), "
            f"(acc, x) -> CAST(acc + x AS {dec}))"
        )
        bits.append(f"CASE WHEN {dot} > 0 THEN {1 << kp} ELSE 0 END")
    return f"CAST(({' + '.join(bits)}) AS BIGINT)"


def lsh_buckets(
    embeddings: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, bucket) sign-LSH assignment — map-only projection of
    ``lsh_bucket_sql``; the bucket id is the shuffle key for any
    downstream pairwise stage."""
    return embeddings.selectExpr(
        sql_ident(id_col), f"{lsh_bucket_sql(vec_col, n_planes, dim)} AS bucket"
    )


def sql_lsh_bucket_expr(vec: str = "embedding", n_planes: int = 8, dim: int = 64) -> str:
    """DuckDB expression computing the sign-LSH bucket id of ``vec``."""
    planes = _planes(n_planes, dim)
    terms = []
    for kp in range(n_planes):
        lit = "[" + ", ".join(str(v) for v in planes[kp]) + "]"
        dot = (
            f"list_sum(list_transform(range(1, {dim + 1}), i -> "
            f"CAST(CAST({vec}[i] AS DOUBLE) * ({lit})[i] AS DECIMAL(18,7))))"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << kp} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def sql_lsh_buckets(n_planes: int = 8, dim: int = 64) -> str:
    """DuckDB twin over the embeddings view."""
    return (
        f"SELECT vec_id, {sql_lsh_bucket_expr('embedding', n_planes, dim)} AS bucket "
        "FROM embeddings"
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-compression ANN path
# ---------------------------------------------------------------------------


def sqdist6(a: Column, b: Column) -> Column:
    """Squared-L2 distance between two equal-length float arrays as a
    plain-double fold, half-up rounded to 6 dp.

    Same determinism bargain as ``ivf_topk``'s cell scores: each
    ``(x−y)²`` term is IEEE-exact in every engine, only the reduction
    order can drift, and fold drift over ≤64 terms (~1e-14 relative)
    is far below the 1e-6 rounding grain — so the rounded value is
    engine-stable while the fold stays inside whole-stage codegen
    (a DECIMAL accumulation here measured 5-10x slower end-to-end on
    the PQ/k-means paths: per-element decimal casts defeat codegen).
    Downstream sums of these rounded values must go through
    DECIMAL(18,6) (exact for 6-dp values) — see ``pq_adc_topk``."""
    from ..queries.helpers import hround

    d = F.zip_with(
        a,
        b,
        lambda x, y: (
            (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))
        ),
    )
    return hround(F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x), 6)


def sql_sqdist6(a: str, b: str, offset: int | str = 0, dim: int = 64) -> str:
    """DuckDB twin of ``sqdist6`` over ``a[offset+1 .. offset+dim]``
    (``offset`` may be a SQL expression, e.g. ``s.m * 16``)."""
    from ..queries.helpers import sql_hround

    idx = f"(({offset}) + i)" if offset else "i"
    diff = f"(CAST({a}[{idx}] AS DOUBLE) - CAST({b}[{idx}] AS DOUBLE))"
    return sql_hround(
        f"list_sum(list_transform(range(1, {dim + 1}), i -> {diff} * {diff}))", 6
    )


def sqdist6_sql_terms(vec_name: str, cvals: list[float], lo: int = 0) -> str:
    """Spark-SQL text of ``sqdist6(vec[lo+1 ..], literal cvals)`` as a
    higher-order fold, then the hround(6) floor formula.

    Generated as TEXT because building the same tree with Column
    operations costs one py4j round-trip per node — measured seconds
    per query for a PQ codebook — while one ``F.expr`` parse is
    JVM-side and O(ms).  A fold, NOT a flattened ``t1 + t2 + …``
    chain: 16 chains of 64 terms blow generated code past the codegen
    method limits and the whole projection drops to interpreted
    expression eval (measured 7x slower end-to-end); the fold is a
    ~20-node tree using the array higher-order evaluator.  Fold order
    equals the flat left-associated chain (``0.0 + t1 == t1``), so
    results are bit-identical."""
    n = len(cvals)
    lits = ",".join(f"{float(c)!r}D" for c in cvals)
    fold = (
        f"aggregate(zip_with(slice({vec_name}, {lo + 1}, {n}), array({lits}), "
        f"(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        f"0.0D, (a, x) -> a + x)"
    )
    return f"(CAST(FLOOR(({fold}) * 1000000.0D + 0.5D) AS DOUBLE) / 1000000.0D)"


def nearest_sqdist6_sql(
    vec_name: str,
    cents: dict[int, list[float]],
    *,
    lo: int = 0,
    length: int | None = None,
    id_field: str = "j",
) -> str:
    """SQL text of ``array_min`` over ``named_struct(d, id)``
    candidates — nearest centroid (6-dp-rounded squared-L2, ties to
    the smaller id).  The shared argmin core of PQ encoding and Lloyd
    assignment; callers embed it in a selectExpr/spark.sql statement
    so a whole assignment stage is one driver→JVM parse."""
    structs = []
    for cid, cv in sorted(cents.items()):
        sub = cv if length is None else cv[lo : lo + length]
        structs.append(
            f"named_struct('d', {sqdist6_sql_terms(vec_name, sub, lo)}, "
            f"'{id_field}', {cid})"
        )
    return f"array_min(array({', '.join(structs)}))"


def nearest_sqdist6_expr(
    vec_name: str,
    cents: dict[int, list[float]],
    *,
    lo: int = 0,
    length: int | None = None,
    id_field: str = "j",
) -> Column:
    return F.expr(
        nearest_sqdist6_sql(
            vec_name, cents, lo=lo, length=length, id_field=id_field
        )
    )


def py_sqdist6(a: list[float], b: list[float]) -> float:
    """Python twin of sqdist6 for literal-only (model-artifact) inputs
    — same IEEE ops in the same order, then py_hround(6)."""
    from ..queries.helpers import py_hround

    acc = 0.0
    for x, y in zip(a, b):
        acc += (x - y) * (x - y)
    return py_hround(acc, 6)


class PairError(ValueError):
    """Pair ``pair`` of a ``py_cosine6`` call has no score: Spark's
    ``spark_cosine6_sql`` would give it NULL or fail on it."""

    def __init__(self, pair: int, why: str):
        super().__init__(f"pair {pair}: {why}")
        self.pair, self.why = pair, why


_DEC14 = decimal.Context(prec=40, rounding=decimal.ROUND_HALF_UP)
_E14 = decimal.Decimal("1e-14")


def _half_up14(x: float) -> int:
    """``x`` in units of 1e-14, rounded HALF_UP from its shortest
    decimal repr — how Spark casts a double to ``DECIMAL(28,14)``,
    through ``Double.toString``.  Before JDK 19 that string is not
    always the shortest; the two can round apart only when a 14-dp
    half lies between them, which no parity test has met."""
    return int(_DEC14.scaleb(_DEC14.quantize(decimal.Decimal(repr(x)), _E14), 14))


def _dec_dot14(a, b, pairs: list[int]):
    """``CAST(_dec_dot(a, b) AS DOUBLE)`` for each row pair of two
    float64 matrices.  Each product is rounded to 1e-14 units from a
    float estimate, and exactly (``_half_up14``) where it lies within
    the estimate's error of a half or is too large (≥ 2^50 units) for
    the estimate to resolve one.  The units are summed exactly, in
    int64 while no sum can overflow it and in Python ints otherwise,
    then divided by 10^14 with one correct rounding, as Spark's
    decimal → double cast is."""
    import numpy as np

    with np.errstate(over="ignore", invalid="ignore"):
        p = a * b
    mag = np.abs(p)
    for j in np.flatnonzero(~np.isfinite(p).all(axis=1) | (mag >= 1e14).any(axis=1)):
        if np.isfinite(p[j]).all():
            raise PairError(pairs[j], "a product overflows DECIMAL(28,14)")
        raise PairError(pairs[j], "an element or product is NULL or not finite")
    mag *= 1e14
    whole = np.floor(mag)
    frac = mag - whole
    units = np.copysign(whole + (frac >= 0.5), p)
    huge = mag >= 2.0**50
    # |repr(p)·1e14 − mag| ≤ mag·2^-52: half an ulp of p, half of mag
    near = ~huge & (np.abs(frac - 0.5) <= mag * 2.0**-51 + 2.0**-30)
    units[near] = [_half_up14(float(x)) for x in p[near]]
    out = np.empty(len(p))
    slow = huge.any(axis=1) | (p.shape[1] >= 8192)
    fast = np.flatnonzero(~slow)
    tot = units[fast].astype(np.int64).sum(axis=1)
    small = np.abs(tot) <= 2**53
    out[fast[small]] = tot[small] / 1e14
    exact = [(j, int(t)) for j, t in zip(fast[~small], tot[~small])]
    for j in np.flatnonzero(slow):
        acc = 0
        for x, u, h in zip(p[j], units[j], huge[j]):
            acc += _half_up14(float(x)) if h else int(u)
            if abs(acc) >= 10**28:
                raise PairError(pairs[j], "a partial sum overflows DECIMAL(28,14)")
        exact.append((j, acc))
    for j, t in exact:
        out[j] = t / 10**14
    return out


def _cosine6(a, b, pairs: list[int]):
    """``spark_cosine6_sql`` of each row of float64 matrix ``a`` against
    the same row of ``b`` (or its one row, broadcast), as in
    ``py_cosine6``; ``pairs`` names the rows in a ``PairError``."""
    import numpy as np

    na = np.sqrt(_dec_dot14(a, a, pairs))
    nb = np.sqrt(_dec_dot14(b, b, pairs))
    for j in np.flatnonzero((na == 0) | (nb == 0)):
        whose = "stored vector" if na[j] == 0 else "query"
        raise PairError(pairs[j], f"the {whose} has zero norm")
    cos = _dec_dot14(a, b, pairs) / (na * nb)
    return np.floor(cos * 1e6 + 0.5) / 1e6


def py_cosine6(vecs, queries):
    """Exact numpy twin of ``spark_cosine6_sql(vec, query)``: a float64
    array of ``hround(cosine, 6)``, one per (stored vector, query)
    pair, bit-identical to Spark's.  The decimal dot products are
    ``_dec_dot14``; then IEEE sqrt, multiply, divide and
    ``floor(x·1e6 + 0.5) / 1e6``, the same double ops Spark runs.

    A pair Spark would score NULL or fail on raises ``PairError``
    naming the pair: unequal lengths, a NULL vector, a NULL or
    non-finite element or product, a product or partial sum outside
    ``DECIMAL(28,14)``, or a zero norm.  No score is NaN or inf."""
    import numpy as np

    out = np.empty(len(vecs))
    by_dim: dict[int, list[int]] = {}
    for j, (v, q) in enumerate(zip(vecs, queries, strict=True)):
        if v is None:
            raise PairError(j, "the stored vector is NULL")
        if len(v) != len(q):
            raise PairError(j, f"the stored vector has {len(v)} elements, the query {len(q)}")
        by_dim.setdefault(len(q), []).append(j)
    for d, idx in by_dim.items():
        a = np.array([vecs[j] for j in idx], np.float64).reshape(len(idx), d)
        b = np.array([queries[j] for j in idx], np.float64).reshape(len(idx), d)
        out[idx] = _cosine6(a, b, idx)
    return out


def py_dot6(a, b, pairs: list[int]):
    """Exact numpy twin of ``spark_dot6_sql``: ``hround(dot, 6)`` of
    each row of ``a`` against ``b`` (rows or one broadcast row), the
    dot a ``_dec_dot14``.  ``PairError`` as ``_dec_dot14`` raises it."""
    import numpy as np

    return np.floor(_dec_dot14(a, b, pairs) * 1e6 + 0.5) / 1e6


def py_sqdist6_rows(a, b, pairs: list[int]):
    """Exact numpy twin of ``spark_sqdist6_sql(a, b)``, row by row:
    ``(a_i − b_i)²`` summed in element order by sequential IEEE adds
    (not numpy's pairwise ``sum``), then ``floor(x·1e6 + 0.5) / 1e6``.
    A non-finite distance raises ``PairError``: Spark's NaN or inf
    score has no place in a ranking."""
    import numpy as np

    acc = np.zeros(len(a))
    for i in range(a.shape[1]):
        d = a[:, i] - b[:, i]
        acc = acc + d * d
    for j in np.flatnonzero(~np.isfinite(acc)):
        raise PairError(pairs[j], "the squared distance is not finite")
    return np.floor(acc * 1e6 + 0.5) / 1e6


def pq_sub_dim(dim: int, n_sub: int) -> int:
    """The PQ subspace width ``dim / n_sub``.  A ``ValueError`` unless
    ``n_sub`` divides ``dim`` — input validation, so not an ``assert``,
    which ``python -O`` removes."""
    if n_sub <= 0 or dim % n_sub:
        raise ValueError(f"dim {dim} must divide evenly into {n_sub} subspaces")
    return dim // n_sub


def _pq_adc(
    vec_col: str, qv: list[float], cbooks: list[dict[int, list[float]]]
) -> tuple[list[str], tuple[str, bool, str]]:
    """Encode select-exprs ``c0..`` (per subspace, the nearest
    sub-codeword as ``struct(d, j)``) and the ADC score over
    ``sub_dim``-long sub-codebooks.  The query→codeword distance table
    is literal×literal arithmetic, computed once with the Python twin
    of ``sqdist6`` and inlined as exact DECIMAL(18,6) literals, so the
    ``n_sub``-term sum is reduction-order-free."""
    w = len(next(iter(cbooks[0].values())))
    enc, adc = [], []
    for m, cb in enumerate(cbooks):
        enc.append(f"{nearest_sqdist6_sql(vec_col, cb, lo=m * w)} AS c{m}")
        tab = ",".join(
            f"CAST({py_sqdist6(qv[m * w:(m + 1) * w], cb[j])!r}D AS DECIMAL(18,6))"
            for j in range(len(cb))
        )
        adc.append(f"element_at(array({tab}), c{m}.j + 1)")
    return enc, ("approx_dist", False, f"CAST(({' + '.join(adc)}) AS DOUBLE)")


def _pq_split(
    vecs: dict[int, list[float]], k_codes: int, n_sub: int, dim: int
) -> list[dict[int, list[float]]]:
    """Stand-in sub-codebooks: the first ``k_codes`` vectors, sliced
    into ``n_sub`` subspaces."""
    w = pq_sub_dim(dim, n_sub)
    return [{j: vecs[j][m * w:(m + 1) * w] for j in range(k_codes)} for m in range(n_sub)]


def pq_adc_topk(
    embeddings: DataFrame, query_vec_id: int, k: int = 10, n_sub: int = 4,
    k_codes: int = 8, dim: int = 64, *, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC) — the classic IVFADC building block (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): split each
    vector into ``n_sub`` subspaces, encode every subspace as the id of
    its nearest sub-centroid (``k_codes`` per subspace), and rank
    candidates by the sum of *precomputed* query→sub-centroid
    distances looked up by code.  This is how 100 TB of float vectors
    become ``n_sub`` bytes each and still answer top-k: the scan reads
    codes, not floats, and the distance "computation" is a table
    lookup.

    Sub-codebooks here are the sub-vectors of the first ``k_codes``
    embeddings (the same deterministic model-artifact stand-in as
    ``ivf_topk``'s centroids — a production system swaps in k-means-
    trained codebooks; the plan shape is identical).  The codebook
    (``k_codes × dim`` floats) and the query vector are collected once
    and inlined as literals, so encoding is a map-only argmin and the
    ADC lookup is ``element_at`` on a constant array — the whole query
    plans as scan → project → TakeOrderedAndProject: ZERO shuffles.

    The query-side distance table is literal×literal arithmetic —
    computed once with the Python twin of ``sqdist6`` (identical IEEE
    ops in identical order) and inlined as exact DECIMAL(18,6)
    literals the oracle reproduces relationally.

    Output: ``(vec_id, code_key, approx_dist)`` where ``code_key``
    packs the per-subspace codes little-endian (3 bits each for
    k_codes=8) — the value the oracle can recompute relationally.
    """
    cvecs, qv = collect_seeds_and_query(
        embeddings, k_codes, query_vec_id, id_col=id_col, vec_col=vec_col
    )
    require_finite([qv], "pq_adc_topk")
    enc, adc = _pq_adc(vec_col, qv, _pq_split(cvecs, k_codes, n_sub, dim))
    bits = max(1, (k_codes - 1).bit_length())
    key = " + ".join(f"CAST(c{m}.j AS BIGINT) * {1 << bits * m}" for m in range(n_sub))
    return _select_topk(
        embeddings, query_vec_id, k, id_col, [*enc, f"{key} AS code_key"], adc,
        key="code_key",
    )


def sql_pq_adc_topk(
    query_vec_id: int = 77,
    k: int = 10,
    n_sub: int = 4,
    k_codes: int = 8,
    dim: int = 64,
) -> str:
    """DuckDB twin of ``pq_adc_topk`` — fully relational: sub-codebook
    and query distance table from the same embeddings view, encoding
    via window argmin, ADC via join on (subspace, code)."""
    sub_dim = dim // n_sub
    bits = max(1, (k_codes - 1).bit_length())
    edist = sql_sqdist6("e.embedding", "c.cvec", f"s.m * {sub_dim}", sub_dim)
    qdist = sql_sqdist6("q.qv", "c.cvec", f"s.m * {sub_dim}", sub_dim)
    return f"""
    WITH cb AS (
      SELECT vec_id AS j, embedding AS cvec FROM embeddings WHERE vec_id < {k_codes}
    ), sub AS (
      SELECT unnest(generate_series(0, {n_sub - 1})) AS m
    ), q AS (
      SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_vec_id}
    ), dists AS (
      SELECT e.vec_id, s.m, c.j, {edist} AS d
      FROM embeddings e CROSS JOIN sub s CROSS JOIN cb c
      WHERE e.vec_id <> {query_vec_id}
    ), assign AS (
      SELECT vec_id, m, j FROM (
        SELECT vec_id, m, j,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d ASC, j ASC) AS rn
        FROM dists
      ) WHERE rn = 1
    ), qd AS (
      SELECT s.m, c.j, {qdist} AS qdist
      FROM q CROSS JOIN sub s CROSS JOIN cb c
    ), adc AS (
      SELECT a.vec_id,
             CAST(SUM(a.j * (1 << ({bits} * a.m))) AS BIGINT) AS code_key,
             SUM(CAST(qd.qdist AS DECIMAL(18,6))) AS adist
      FROM assign a JOIN qd ON a.m = qd.m AND a.j = qd.j
      GROUP BY a.vec_id
    )
    SELECT vec_id, code_key, CAST(adist AS DOUBLE) AS approx_dist
    FROM adc ORDER BY approx_dist ASC, vec_id ASC LIMIT {k}
    """


def ivf_pq_topk(
    embeddings: DataFrame, query_vec_id: int, k: int = 10, n_cells: int = 16,
    nprobe: int = 4, n_sub: int = 4, k_codes: int = 8, dim: int = 64, *,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """IVF + PQ composed — the shape of FAISS's IVFADC (Jégou et al.
    2011): a coarse quantizer prunes the scan to the ``nprobe`` cells
    nearest the query, and ranking inside the survivors is PQ
    asymmetric distance (codes + literal lookup table), never raw
    floats.  At 100 TB this is THE billion-vector serving layout:
    cells bound the rows touched, codes bound the bytes per row.

    Flat-PQ variant: codes quantize the vector itself; production
    IVFADC quantizes the RESIDUAL x − c(cell) (per-cell lookup
    tables — same plan shape, k_codes× more literals).  Both model
    artifacts (cell centroids, sub-codebooks) are deterministic
    stand-ins from the first rows, collected once and inlined; the
    whole query still plans scan → map-side cell argmin + encode +
    probe filter → TakeOrderedAndProject with ZERO shuffles.
    """
    vecs, qv = collect_seeds_and_query(
        embeddings, max(n_cells, k_codes), query_vec_id, id_col=id_col, vec_col=vec_col
    )
    require_finite([qv], "ivf_pq_topk")
    cents = {i: vecs[i] for i in range(n_cells)}
    enc, adc = _pq_adc(vec_col, qv, _pq_split(vecs, k_codes, n_sub, dim))
    cell = nearest_sqdist6_sql(vec_col, cents, id_field="cid")
    return _select_topk(
        embeddings, query_vec_id, k, id_col, [f"{cell}.cid AS cell", *enc], adc,
        ivf_probe_cells(cents, qv, nprobe, metric="l2"),
    )


def ivfadc_trained_topk(
    embeddings: DataFrame, query_vec_id: int, k: int = 10, n_cells: int = 8,
    nprobe: int = 3, n_sub: int = 4, k_codes: int = 8, train_iters: int = 2,
    dim: int = 64, *, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Fully TRAINED IVFADC: Lloyd k-means trains BOTH model artifacts
    — the coarse cell quantizer on whole vectors and one PQ
    sub-codebook per subspace on the sliced sub-vectors (how FAISS
    actually trains an IVFPQ index) — then builds and probes the index
    in the same engine.  Completes the round-5 trained-ANN composition
    past ``ivf_trained_topk``: nothing in the serving path is a
    stand-in any more.

    Training cost: ``(1 + n_sub) × (train_iters - 1)`` scan+kilobyte-
    exchange jobs (cells + each subspace).  The probe query itself is
    unchanged from ``ivf_pq_topk``: scan → map-side inlined-literal
    cell argmin + per-subspace code argmin → probe filter → ADC
    literal-table sum → TakeOrderedAndProject, ZERO shuffles.  All
    trained floats derive from exact-decimal sums, so the DuckDB
    oracle reconstructs every centroid and codebook relationally
    (``sql_lloyd_centroid_ctes`` chains, one per artifact)."""
    from .kmeans import train_ivfpq

    qv = collect_query_vector(embeddings, query_vec_id, id_col=id_col, vec_col=vec_col)
    require_finite([qv], "ivfadc_trained_topk")
    cents, cbooks = train_ivfpq(
        embeddings, n_cells, n_sub, k_codes, train_iters, dim, id_col=id_col,
        vec_col=vec_col,
    )
    enc, adc = _pq_adc(vec_col, qv, cbooks)
    cell = nearest_sqdist6_sql(vec_col, cents, id_field="cid")
    return _select_topk(
        embeddings, query_vec_id, k, id_col, [f"{cell}.cid AS cell", *enc], adc,
        ivf_probe_cells(cents, qv, nprobe, metric="l2"),
    )


def ivfadc_residual_topk(
    embeddings: DataFrame, query_vec_id: int, k: int = 10, n_cells: int = 8,
    nprobe: int = 3, n_sub: int = 4, k_codes: int = 8, train_iters: int = 2,
    dim: int = 64, *, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """RESIDUAL IVFADC — the exact FAISS IVFPQ serving algebra (Jégou
    et al. 2011): PQ codes quantize the residual ``x − c(cell)``, not
    the raw vector, so the codebook spends its bits on the
    within-cell variance.  The algebra that keeps this map-only:
    ``sqdist(x_sub − c_sub, b_j) == sqdist(x_sub, c_sub + b_j)``, so
    the per-cell effective codewords ``c_sub + b_j`` are precomputed
    driver-side into ONE cell-indexed literal table per subspace, and
    the row's encode is a runtime fold over ``element_at(table,
    cell+1)`` — one expression regardless of cell count, no per-cell
    CASE branches (which would re-blow codegen; BASELINE.md finding 2).
    Likewise the ADC lookup is a 2-D ``element_at`` into the
    per-(cell, code) query-distance literals.

    Training: Lloyd cells on whole vectors + per-subspace codebooks on
    raw sub-vectors (the codebook-on-residuals refinement changes
    training only — the serving plan and algebra here are already the
    residual form).  Plan: scan → cell argmin → probe filter →
    residual encode + ADC (all map-side) → TakeOrderedAndProject;
    ZERO shuffles, plan-asserted."""
    from .kmeans import train_ivfpq

    qv = collect_query_vector(embeddings, query_vec_id, id_col=id_col, vec_col=vec_col)
    require_finite([qv], "ivfadc_residual_topk")
    cents, cbooks = train_ivfpq(
        embeddings, n_cells, n_sub, k_codes, train_iters, dim, id_col=id_col,
        vec_col=vec_col,
    )
    cell = nearest_sqdist6_sql(vec_col, cents, id_field="cid")
    ct = residual_codeword_tables(cents, cbooks)
    adc = residual_adc_expr(residual_query_tables(cents, cbooks, qv))
    return _select_topk(
        embeddings, query_vec_id, k, id_col,
        [f"{cell}.cid AS cell", *residual_encode_exprs(ct, vec_col, dim // n_sub)],
        ("approx_dist", False, adc), ivf_probe_cells(cents, qv, nprobe, metric="l2"),
    )


def residual_codeword_tables(
    cents: dict[int, list[float]], cbooks: list[dict[int, list[float]]]
) -> list[str]:
    """Per-subspace SQL literal tables of the COMBINED per-cell
    codewords ``c_sub + b_j`` — the residual-PQ identity
    ``sqdist(x_sub − c_sub, b_j) == sqdist(x_sub, c_sub + b_j)``
    precomputed driver-side (IEEE adds, oracle-reproducible).  Shared
    by the in-query residual probe AND the persisted IVFPQ store's
    encode, so the stored codes and any probe's algebra can never
    disagree."""
    n_sub = len(cbooks)
    sub_dim = len(next(iter(cbooks[0].values())))

    def d_lit(x: float) -> str:
        return f"{float(x)!r}D"

    ct_sql: list[str] = []
    for m in range(n_sub):
        lo = m * sub_dim
        cells_ct = []
        for cell in sorted(cents):
            cws = []
            for j in sorted(cbooks[m]):
                cw = [
                    cents[cell][lo + i] + cbooks[m][j][i]
                    for i in range(sub_dim)
                ]
                cws.append("array(" + ",".join(d_lit(v) for v in cw) + ")")
            cells_ct.append("array(" + ",".join(cws) + ")")
        ct_sql.append("array(" + ",".join(cells_ct) + ")")
    return ct_sql


def residual_query_table(
    cents: dict[int, list[float]],
    cbooks: list[dict[int, list[float]]],
    qv: list[float],
    cells: list[int] | None = None,
):
    """The query's ADC lookup table as a float64 array indexed
    [cell, subspace, code]: ``py_sqdist6`` of the query's subvector to
    each combined codeword ``c_sub + b_j``, for ``cells`` (positions in
    ``sorted(cents)``, as ``element_at(…, cell + 1)`` looks them up;
    all cells by default).  Vectorised with the same IEEE ops in the
    same order: the codeword add, the squared differences summed
    sequentially, then ``floor(x·1e6 + 0.5) / 1e6``."""
    import numpy as np

    keys = sorted(cents)
    cells = range(len(keys)) if cells is None else cells
    dim = len(qv)
    c = np.array([cents[keys[p]] for p in cells], np.float64).reshape(-1, dim)
    b = np.array([[cb[j] for j in sorted(cb)] for cb in cbooks], np.float64)
    q = np.asarray(qv, np.float64)
    w = b.shape[2]
    acc = np.zeros((len(c), len(cbooks), b.shape[1]))
    with np.errstate(over="ignore", invalid="ignore"):
        for m in range(len(cbooks)):
            cw = c[:, None, m * w:(m + 1) * w] + b[m][None]
            for i in range(w):
                d = q[m * w + i] - cw[:, :, i]
                acc[:, m] = acc[:, m] + d * d
        return np.floor(acc * 1e6 + 0.5) / 1e6


def adc_table_sql(tab) -> list[str]:
    """Per-subspace SQL literal tables, ``[cell][code]``, of an ADC
    table indexed [cell, subspace, code] — ``residual_adc_expr``'s
    input.  A non-finite entry has no double literal: ``ValueError``."""
    import numpy as np

    if not np.isfinite(tab).all():
        raise ValueError("ADC table holds a non-finite query distance")
    return [
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in tab[c, m]) + ")"
            for c in range(len(tab))
        )
        + ")"
        for m in range(tab.shape[1])
    ]


def residual_query_tables(
    cents: dict[int, list[float]],
    cbooks: list[dict[int, list[float]]],
    qv: list[float],
) -> list[str]:
    """``adc_table_sql`` of ``residual_query_table`` over every cell —
    the ADC lookup table, computed per query on the driver
    (model-sized math)."""
    return adc_table_sql(residual_query_table(cents, cbooks, qv))


_E6 = decimal.Decimal("1e-6")


def adc_units(table):
    """``CAST(t AS DECIMAL(18,6))`` of each ADC table entry as an int64
    count of 1e-6 units, rounded HALF_UP from the shortest repr as
    Spark casts a double, plus a mask of the entries Spark cannot cast
    (NaN, inf, or 10^12 and beyond), whose units are 0.  Entries below
    2^30 that lie within 0.25 units of an integer round from their
    float product (``py_sqdist6`` values all do); the rest go through
    ``Decimal``."""
    import numpy as np

    t = np.asarray(table, np.float64)
    ok = np.isfinite(t) & (np.abs(t) < 1e13)
    with np.errstate(over="ignore", invalid="ignore"):
        scaled = np.where(ok, t, 0.0) * 1e6
    near = np.rint(scaled)
    fast = ok & (np.abs(t) < 2.0**30) & (np.abs(scaled - near) < 0.25)
    units = np.where(fast, near, 0.0).astype(np.int64)
    for i in zip(*np.nonzero(ok & ~fast)):
        u = int(_DEC14.quantize(decimal.Decimal(repr(float(t[i]))), _E6).scaleb(6))
        if abs(u) < 10**18:
            units[i] = u
        else:
            ok[i] = False
    return units, ok


def py_adc6(units, ok, pos, codes, pairs: list[int]):
    """Exact numpy twin of ``residual_adc_expr``: row i's distance is
    the sum over subspaces m of ``units[pos[i], m, codes[i, m]]``
    (``adc_units`` of the table), an exact integer count of 1e-6
    units, divided by 10^6 with one correct rounding as Spark's
    decimal → double cast is.  A row whose code is out of range or
    whose entry Spark cannot cast raises ``PairError`` naming its
    pair: Spark would fail or give NULL."""
    import numpy as np

    n_sub, k_codes = units.shape[1:]
    for j in np.flatnonzero(((codes < 0) | (codes >= k_codes)).any(axis=1)):
        raise PairError(pairs[j], f"a code is outside 0..{k_codes - 1}")
    at = (pos[:, None] * n_sub + np.arange(n_sub)) * k_codes + codes
    if not ok.all():
        for j in np.flatnonzero(~ok.ravel()[at].all(axis=1)):
            raise PairError(
                pairs[j], "an ADC table entry is not finite or overflows DECIMAL(18,6)"
            )
    u = units.ravel()[at]
    if n_sub * 10**18 < 2**63:
        tot = u.sum(axis=1)
    else:
        tot = np.array([sum(int(x) for x in row) for row in u], object)
    out = np.empty(len(u))
    small = np.abs(tot) <= 2**53
    out[small] = tot[small].astype(np.int64) / 1e6
    for j in np.flatnonzero(~small):
        out[j] = int(tot[j]) / 10**6
    return out


def residual_encode_exprs(
    ct_sql: list[str], vec_col: str, sub_dim: int
) -> list[str]:
    """Residual-PQ encode as select-exprs ``j0..j{n_sub-1}``: per
    subspace, argmin over the row's OWN cell's combined codewords — a
    runtime fold over ``element_at(table, cell + 1)``, ONE expression
    regardless of cell count (per-cell CASE arms would re-blow
    codegen; BASELINE.md finding 2).  Requires a ``cell`` column."""
    n_sub = len(ct_sql)
    enc_exprs = []
    for m in range(n_sub):
        lo = m * sub_dim
        fold = (
            f"aggregate(zip_with(slice({vec_col}, {lo + 1}, {sub_dim}), cw, "
            f"(a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)), "
            f"0.0D, (acc, x) -> acc + x)"
        )
        d6 = f"FLOOR(CAST(({fold}) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0"
        enc_exprs.append(
            f"array_min(transform(element_at({ct_sql[m]}, cell + 1), "
            f"(cw, j) -> named_struct('d', {d6}, 'j', j))).j AS j{m}"
        )
    return enc_exprs


def residual_adc_expr(qd_sql: list[str]) -> str:
    """ADC distance as one SQL expression over ``cell`` + ``j0..`` code
    columns: 2-D ``element_at`` lookups into the query-distance
    literals, summed through DECIMAL(18,6) (exact for 6-dp values)."""
    adc = " + ".join(
        f"CAST(element_at(element_at({qd_sql[m]}, cell + 1), j{m} + 1) "
        f"AS DECIMAL(18,6))"
        for m in range(len(qd_sql))
    )
    return f"CAST(({adc}) AS DOUBLE)"


def sql_ivfadc_residual_topk(
    query_vec_id: int = 77,
    k: int = 10,
    n_cells: int = 8,
    nprobe: int = 3,
    n_sub: int = 4,
    k_codes: int = 8,
    train_iters: int = 2,
    dim: int = 64,
    exclude_ids: list[int] | None = None,
    where_sql: str | None = None,
    src: str = "embeddings",
    pre_parts: list[str] | None = None,
    radius: float | None = None,
) -> str:
    """DuckDB twin of ``ivfadc_residual_topk``: trained chains for
    cells + per-subspace codebooks, a ``comb`` CTE materializing the
    per-cell effective codewords ``c_sub + b_j`` relationally, then
    cell-scoped assignment and ADC.  ``exclude_ids`` reconstructs a
    tombstoned store: the ids are hidden from probing, never from
    training (deletes don't retrain the quantizer); ``where_sql``
    reconstructs a FILTERED probe (attribute predicate over the BASE
    ``embeddings`` table — attrs never ride derived sources — applied
    to survivors before top-k).  ``src`` + ``pre_parts`` reconstruct
    a PRECONDITIONED store (round 12 OPQ): ``pre_parts`` CTEs derive
    a transformed ``(vec_id, embedding)`` source named ``src`` and
    the whole chain (training, assignment, query vector, ADC) reads
    from it."""
    from .kmeans import sql_lloyd_centroid_ctes

    assert dim % n_sub == 0
    sub_dim = dim // n_sub

    parts, cell_src = sql_lloyd_centroid_ctes(
        n_cells, train_iters, dim, prefix="cc", src=src
    )
    parts = list(pre_parts or []) + parts
    cb_selects = []
    for m in range(n_sub):
        lo = m * sub_dim

        def vec_sql(alias: str, lo=lo) -> str:
            return f"{alias}.embedding[{lo + 1}:{lo + sub_dim}]"

        sub_parts, sub_src = sql_lloyd_centroid_ctes(
            k_codes, train_iters, sub_dim, prefix=f"s{m}", vec_sql=vec_sql,
            src=src,
        )
        parts += sub_parts
        cb_selects.append(f"SELECT {m} AS m, cid AS j, cvec FROM {sub_src}")

    cdist = sql_sqdist6("e.embedding", "c.cvec", 0, dim)
    qcdist = sql_sqdist6("q.qv", "c.cvec", 0, dim)
    # residual encode/ADC distances against the COMBINED codeword
    edist = _sql_sqdist6_asym("e.embedding", "c2.cw", f"c2.m * {sub_dim}", sub_dim)
    qdist = _sql_sqdist6_asym("q.qv", "c2.cw", f"c2.m * {sub_dim}", sub_dim)
    parts += [
        f"cb AS ({' UNION ALL '.join(cb_selects)})",
        f"""comb AS (
      SELECT c.cid AS cell, b.m, b.j,
             list_transform(range(1, {sub_dim + 1}),
                            i -> c.cvec[b.m * {sub_dim} + i] + b.cvec[i]) AS cw
      FROM {cell_src} c CROSS JOIN cb b
    )""",
        f"q AS (SELECT embedding AS qv FROM {src} WHERE vec_id = {query_vec_id})",
        f"""cells AS (
      SELECT vec_id, embedding, cid AS cell FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cdist} ASC, c.cid ASC) AS rn
        FROM {src} e CROSS JOIN {cell_src} c
        WHERE e.vec_id <> {query_vec_id}{_sql_excl_ids(exclude_ids)}
      ) WHERE rn = 1
    )""",
        f"""probe AS (
      SELECT cid FROM (
        SELECT c.cid, ROW_NUMBER() OVER (ORDER BY {qcdist} ASC, c.cid ASC) AS rn
        FROM {cell_src} c CROSS JOIN q
      ) WHERE rn <= {nprobe}
    )""",
        "surv AS ("
        "  SELECT vec_id, embedding, cell FROM cells"
        "  WHERE cell IN (SELECT cid FROM probe)"
        + (
            f" AND vec_id IN (SELECT vec_id FROM embeddings WHERE {where_sql})"
            if where_sql
            else ""
        )
        + ")",
        f"""assign AS (
      SELECT vec_id, cell, m, j FROM (
        SELECT e.vec_id, e.cell, c2.m, c2.j,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id, c2.m
                                  ORDER BY {edist} ASC, c2.j ASC) AS rn
        FROM surv e JOIN comb c2 ON c2.cell = e.cell
      ) WHERE rn = 1
    )""",
        f"""qd AS (
      SELECT c2.cell, c2.m, c2.j, CAST({qdist} AS DECIMAL(18,6)) AS qdist
      FROM q CROSS JOIN comb c2
    )""",
        """adc AS (
      SELECT a.vec_id, SUM(qd.qdist) AS adist
      FROM assign a
      JOIN qd ON a.cell = qd.cell AND a.m = qd.m AND a.j = qd.j
      GROUP BY a.vec_id
    )""",
    ]
    rad = (
        f" WHERE CAST(a.adist AS DOUBLE) <= {radius}"
        if radius is not None
        else ""
    )
    limit = "" if radius is not None else f" LIMIT {k}"
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT s.vec_id, s.cell, CAST(a.adist AS DOUBLE) AS approx_dist
    FROM surv s JOIN adc a ON s.vec_id = a.vec_id{rad}
    ORDER BY approx_dist ASC, s.vec_id ASC{limit}
    """
    )


def sql_ivfpq_refined_topk(
    query_vec_id: int = 77,
    k: int = 10,
    k_factor: int = 4,
    n_cells: int = 8,
    nprobe: int = 3,
    n_sub: int = 4,
    k_codes: int = 8,
    train_iters: int = 2,
    dim: int = 64,
    where_sql: str | None = None,
    src: str = "embeddings",
    pre_parts: list[str] | None = None,
    inner_src: str | None = None,
    inner_pre_parts: list[str] | None = None,
) -> str:
    """DuckDB twin of the refine stage: the residual-IVFADC twin
    (over-fetched to k·k_factor) becomes a candidate CTE, then the
    exact decimal-rounded cosine re-ranks just those ids — precisely
    what ``ivfpq_refined_topk`` executes.  ``where_sql`` filters the
    CANDIDATE stage (the ADC probe) — the refine re-rank then only
    ever sees predicate-passing ids, matching the Spark composition
    where the probe's pushed-down filter runs before over-fetch.
    ``src``/``pre_parts`` reconstruct an OPQ store: the rotation CTEs
    live in the OUTER scope (the re-rank reads rotated vectors too —
    an OPQ store's sidecar is rotated) while the inner ADC chain
    carries ITS OWN prefixed copy (``inner_src``/``inner_pre_parts``)
    inside the candidate subquery — DuckDB rejects a nested CTE name
    that shadows an outer one, so the two scopes must not collide
    (both rotated corpora are MATERIALIZED: one extra evaluation,
    never an inlining explosion)."""
    from ..queries.helpers import sql_hround

    inner = sql_ivfadc_residual_topk(
        query_vec_id, k * k_factor, n_cells, nprobe, n_sub, k_codes,
        train_iters, dim, where_sql=where_sql,
        src=inner_src or src,
        pre_parts=inner_pre_parts if inner_pre_parts is not None else pre_parts,
    )
    esim = sql_hround(sql_cosine("e.embedding", "rq.qv", dim), 6)
    pre = ""
    if pre_parts:
        pre = ",\n    ".join(pre_parts) + ",\n    "
    return f"""WITH {pre}cand AS ({inner}),
    rq AS (SELECT embedding AS qv FROM {src} WHERE vec_id = {query_vec_id})
    SELECT e.vec_id, {esim} AS cos_sim
    FROM {src} e JOIN cand c ON e.vec_id = c.vec_id CROSS JOIN rq
    ORDER BY cos_sim DESC, e.vec_id ASC LIMIT {k}"""


def sql_ivfpq_refined_int8_topk(
    query_vec_id: int = 77,
    k: int = 10,
    k_factor: int = 4,
    n_cells: int = 8,
    nprobe: int = 3,
    n_sub: int = 4,
    k_codes: int = 8,
    train_iters: int = 2,
    dim: int = 64,
) -> str:
    """DuckDB twin of the refine stage against an INT8-SQ sidecar:
    candidates from the residual-IVFADC twin, re-ranked by the cosine
    of the DEQUANTIZED vectors — scale = max |x|, q_i =
    floor(x_i/scale·127 + .5), x̂_i = q_i·scale/127, every step a
    correctly-rounded IEEE op shared with the Spark sidecar encode
    (the ``emb_quantize_int8`` algebra), so the hash match proves the
    quantize→store→dequantize→re-rank chain end to end."""
    from ..queries.helpers import sql_hround

    inner = sql_ivfadc_residual_topk(
        query_vec_id, k * k_factor, n_cells, nprobe, n_sub, k_codes,
        train_iters, dim,
    )
    esim = sql_hround(sql_cosine("d.deq", "rq.qv", dim), 6)
    return f"""WITH cand AS ({inner}),
    rq AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_vec_id}),
    d AS (
      SELECT e.vec_id,
             list_transform(e.embedding, x ->
               CAST(FLOOR(CAST(x AS DOUBLE) / s.scale * 127 + 0.5) AS DOUBLE)
                 * s.scale / 127.0) AS deq
      FROM embeddings e
      JOIN (SELECT vec_id,
                   list_max(list_transform(embedding,
                                           x -> abs(CAST(x AS DOUBLE)))) AS scale
            FROM embeddings) s ON s.vec_id = e.vec_id
      JOIN cand c ON c.vec_id = e.vec_id
    )
    SELECT d.vec_id, {esim} AS cos_sim
    FROM d CROSS JOIN rq
    ORDER BY cos_sim DESC, d.vec_id ASC LIMIT {k}"""


def _sql_excl_ids(exclude_ids: list[int] | None) -> str:
    """Extra assignment-stage exclusions — reconstructs a tombstoned
    store's probe (ids hidden from probing, never from training)."""
    if not exclude_ids:
        return ""
    return " AND e.vec_id NOT IN (" + ", ".join(
        str(int(i)) for i in exclude_ids
    ) + ")"


def _sql_sqdist6_asym(a: str, b: str, a_off: int | str, dim: int) -> str:
    """sqdist6 where only ``a`` is offset (``b`` is an already-sliced
    sub_dim-length codeword list)."""
    from ..queries.helpers import sql_hround

    diff = f"(CAST({a}[{a_off} + i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    return sql_hround(
        f"list_sum(list_transform(range(1, {dim + 1}), i -> {diff} * {diff}))", 6
    )


def sql_ivfadc_trained_topk(
    query_vec_id: int = 55,
    k: int = 10,
    n_cells: int = 8,
    nprobe: int = 3,
    n_sub: int = 4,
    k_codes: int = 8,
    train_iters: int = 2,
    dim: int = 64,
) -> str:
    """DuckDB twin of ``ivfadc_trained_topk`` — fully relational: one
    Lloyd CTE chain for the coarse cells, one per subspace for the PQ
    codebooks (trained on the SLICED sub-vectors), then the IVF+ADC
    probe body over the trained artifacts."""
    from .kmeans import sql_lloyd_centroid_ctes

    assert dim % n_sub == 0
    sub_dim = dim // n_sub

    parts, cell_src = sql_lloyd_centroid_ctes(
        n_cells, train_iters, dim, prefix="cc"
    )
    cb_selects = []
    for m in range(n_sub):
        lo = m * sub_dim

        def vec_sql(alias: str, lo=lo) -> str:
            return f"{alias}.embedding[{lo + 1}:{lo + sub_dim}]"

        sub_parts, sub_src = sql_lloyd_centroid_ctes(
            k_codes, train_iters, sub_dim, prefix=f"s{m}", vec_sql=vec_sql
        )
        parts += sub_parts
        cb_selects.append(f"SELECT {m} AS m, cid AS j, cvec FROM {sub_src}")

    cdist = sql_sqdist6("e.embedding", "c.cvec", 0, dim)
    qcdist = sql_sqdist6("q.qv", "c.cvec", 0, dim)
    edist = _sql_sqdist6_asym("e.embedding", "b.cvec", "b.m * %d" % sub_dim, sub_dim)
    qdist = _sql_sqdist6_asym("q.qv", "b.cvec", "b.m * %d" % sub_dim, sub_dim)
    parts += [
        f"cb AS ({' UNION ALL '.join(cb_selects)})",
        f"q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_vec_id})",
        f"""cells AS (
      SELECT vec_id, embedding, cid AS cell FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cdist} ASC, c.cid ASC) AS rn
        FROM embeddings e CROSS JOIN {cell_src} c
        WHERE e.vec_id <> {query_vec_id}
      ) WHERE rn = 1
    )""",
        f"""probe AS (
      SELECT cid FROM (
        SELECT c.cid, ROW_NUMBER() OVER (ORDER BY {qcdist} ASC, c.cid ASC) AS rn
        FROM {cell_src} c CROSS JOIN q
      ) WHERE rn <= {nprobe}
    )""",
        """surv AS (
      SELECT vec_id, embedding, cell FROM cells
      WHERE cell IN (SELECT cid FROM probe)
    )""",
        f"""assign AS (
      SELECT vec_id, m, j FROM (
        SELECT e.vec_id, b.m, b.j,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id, b.m
                                  ORDER BY {edist} ASC, b.j ASC) AS rn
        FROM surv e CROSS JOIN cb b
      ) WHERE rn = 1
    )""",
        f"""qd AS (
      SELECT b.m, b.j, CAST({qdist} AS DECIMAL(18,6)) AS qdist
      FROM q CROSS JOIN cb b
    )""",
        """adc AS (
      SELECT a.vec_id, SUM(qd.qdist) AS adist
      FROM assign a JOIN qd ON a.m = qd.m AND a.j = qd.j
      GROUP BY a.vec_id
    )""",
    ]
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT s.vec_id, s.cell, CAST(a.adist AS DOUBLE) AS approx_dist
    FROM surv s JOIN adc a ON s.vec_id = a.vec_id
    ORDER BY approx_dist ASC, s.vec_id ASC LIMIT {k}
    """
    )


def sql_ivf_pq_topk(
    query_vec_id: int = 55,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    n_sub: int = 4,
    k_codes: int = 8,
    dim: int = 64,
) -> str:
    """DuckDB twin of ``ivf_pq_topk`` — fully relational."""
    sub_dim = dim // n_sub
    cdist = sql_sqdist6("e.embedding", "c.cvec", 0, dim)
    qcdist = sql_sqdist6("q.qv", "c.cvec", 0, dim)
    edist = sql_sqdist6("e.embedding", "b.cvec", f"s.m * {sub_dim}", sub_dim)
    qdist = sql_sqdist6("q.qv", "b.cvec", f"s.m * {sub_dim}", sub_dim)
    return f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      WHERE vec_id < {n_cells}
    ), cb AS (
      SELECT vec_id AS j, embedding AS cvec FROM embeddings
      WHERE vec_id < {k_codes}
    ), sub AS (
      SELECT unnest(generate_series(0, {n_sub - 1})) AS m
    ), q AS (
      SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_vec_id}
    ), cells AS (
      SELECT vec_id, embedding, cid AS cell FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cdist} ASC, c.cid ASC) AS rn
        FROM embeddings e CROSS JOIN cents c
        WHERE e.vec_id <> {query_vec_id}
      ) WHERE rn = 1
    ), probe AS (
      SELECT cid FROM (
        SELECT c.cid, ROW_NUMBER() OVER (ORDER BY {qcdist} ASC, c.cid ASC) AS rn
        FROM cents c CROSS JOIN q
      ) WHERE rn <= {nprobe}
    ), surv AS (
      SELECT vec_id, embedding, cell FROM cells
      WHERE cell IN (SELECT cid FROM probe)
    ), assign AS (
      SELECT vec_id, m, j FROM (
        SELECT e.vec_id, s.m, b.j,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id, s.m
                                  ORDER BY {edist} ASC, b.j ASC) AS rn
        FROM surv e CROSS JOIN sub s CROSS JOIN cb b
      ) WHERE rn = 1
    ), qd AS (
      SELECT s.m, b.j, CAST({qdist} AS DECIMAL(18,6)) AS qdist
      FROM q CROSS JOIN sub s CROSS JOIN cb b
    ), adc AS (
      SELECT a.vec_id, SUM(qd.qdist) AS adist
      FROM assign a JOIN qd ON a.m = qd.m AND a.j = qd.j
      GROUP BY a.vec_id
    )
    SELECT s.vec_id, s.cell, CAST(a.adist AS DOUBLE) AS approx_dist
    FROM surv s JOIN adc a ON s.vec_id = a.vec_id
    ORDER BY approx_dist ASC, s.vec_id ASC LIMIT {k}
    """
