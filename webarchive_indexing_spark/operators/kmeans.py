"""Lloyd's k-means over embedding columns (SURVEY.md §2.11 L3/L4 —
the trainer that produces the IVF/PQ quantizers used by
``operators/similarity.py``).

The reference pipeline has no iterative operators at all; this is the
tier-C extension a training-data pipeline needs (cluster-balanced
sampling, IVF cell training, SemDeDup's clustering stage).

Spark-first shape, per Lloyd iteration:

1. **Assignment is map-only.**  The k×dim centroid matrix is a model
   artifact, not data: it is collected once (k rows) and inlined as
   literals, so nearest-centroid assignment is an ``array_min`` over k
   rounded-double squared distances inside whole-stage codegen — no
   join, no shuffle, no Python.
2. **The update shuffles centroids, not vectors.**  Per-dimension sums
   are 64 decimal aggregate columns with map-side partial aggregation:
   the exchange carries ``#partitions × k`` rows of 64 decimals —
   kilobytes at any corpus size (same plan contract as
   ``emb_centroid_means``, plan-asserted in tests/test_plans.py).
3. The new centroids (k×dim doubles) come back to the driver and are
   re-inlined for the next iteration.  Driver math is limited to
   ``float(decimal_sum) / n`` — the exact operations the engines
   perform (`CAST(exact-decimal AS DOUBLE)` is correctly rounded, as
   is IEEE double division), so the driver-computed centroid literals
   are bit-identical to what a fully-relational engine derives.

At 100 TB each iteration is one scan + one kilobyte-scale exchange;
the number of *jobs* grows with iterations (inherent to Lloyd — each
update is a global barrier), not the per-iteration cost.

Determinism contract: assignment distances are 6-dp-rounded
plain-double folds (``similarity.sqdist6`` — fold drift is orders of
magnitude below the rounding grain, and decimal accumulation here
measured ~3x slower end-to-end by defeating codegen); argmin ties
break toward the smaller centroid id; centroid-update sums DO go
through DECIMAL (their exact values feed the next iteration); the
inertia sums the rounded distances through DECIMAL(18,6) (exact for
6-dp values) — so Spark and the DuckDB oracle agree bit-for-bit at
any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sqltext import sql_ident
from .similarity import nearest_sqdist6_sql, pq_sub_dim, sql_sqdist6


def train_sample_mod(train_frac: float) -> int:
    """Quantize a training fraction to the hash modulus the sampler
    actually applies (keep rows where ``hash % mod == 0`` — i.e. the
    fraction is quantized to ``1/round(1/frac)``)."""
    if not 0 < train_frac <= 1:
        raise ValueError(f"train_frac must be in (0, 1]: {train_frac}")
    return max(1, round(1.0 / train_frac))


def lloyd_train(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_frac: float | None = None,
) -> dict[int, list[float]]:
    """Run ``iters - 1`` Lloyd update steps and return the trained
    centroid model artifact (the centroids the ``iters``-th assignment
    would use) — the quantizer a production IVF/IVFADC index is built
    from (``ivf_trained_topk`` composes this with the probe scan).

    Seeding is the first ``k`` vectors (deterministic; production
    swaps in k-means‖ sampling — the per-iteration plan shape is
    identical).  Driver math is limited to ``float(decimal_sum) / n``
    — correctly-rounded IEEE ops a fully-relational engine reproduces
    bit-for-bit, so the returned floats are oracle-reconstructible.

    ``train_frac`` is the 100 TB knob: Lloyd scans the training set
    once per update round, and quantizer quality needs a sample, not
    the corpus (FAISS trains IVF/PQ on ~1e5-1e6 vectors regardless of
    corpus size).  The sample is the deterministic salted-hash filter
    (``token_hash('ktrain_' || id) % round(1/frac) == 0`` — idempotent
    under retry/speculation, scan-side, no shuffle, reconstructible
    relationally via ``train_mod=``); seeding still reads ids
    ``0..k-1`` from the full corpus, so the seed contract is unchanged
    on any sample."""
    from ..functions.text import token_hash
    from .similarity import collect_seed_vectors

    spark = embeddings.sparkSession
    cents: dict[int, list[float]] = collect_seed_vectors(
        embeddings, k, id_col=id_col, vec_col=vec_col
    )
    if train_frac is not None:
        mod = train_sample_mod(train_frac)
        # mod == 1 (frac quantizes to "keep all") installs NO filter —
        # mirrors the SQL twin's `train_mod > 1` guard and avoids a
        # per-row hash that keeps every row anyway
        if mod > 1:
            h = token_hash(
                F.concat(F.lit("ktrain_"), F.col(id_col).cast("string"))
            )
            embeddings = embeddings.filter(h % mod == 0)

    # widen AFTER the sample filter (so the filter still pushes to the
    # scan) and AFTER seeding (seeds come from the pushed id<k scan):
    # each Lloyd assignment pass evaluates k × dim decimal terms per
    # row, and a small fixture file plans as ONE partition — the whole
    # update scan would run on one core (round-15 profiling).  No-op
    # on cluster-scale scans.
    from ..queries.helpers import widen_narrow

    embeddings = widen_narrow(embeddings)

    # every projection below is string-built and handed to the JVM in
    # ONE selectExpr / spark.sql call: Column-by-Column construction
    # of the 64 per-dimension aggregates measured ~2.5 s of pure py4j
    # round-trips per iteration at steady state
    xd = [
        f"CAST(CAST(element_at({vec_col}, {i}) AS DOUBLE) AS DECIMAL(28,14))"
        f" AS x{i}"
        for i in range(1, dim + 1)
    ]
    for _ in range(iters - 1):
        assigned = embeddings.selectExpr(
            f"({nearest_sqdist6_sql(vec_col, cents, id_field='cid')}).cid AS cid",
            *xd,
        )
        sums = ", ".join(f"SUM(x{i}) AS s{i}" for i in range(1, dim + 1))
        upd = spark.sql(
            f"SELECT cid, COUNT(1) AS n, {sums} FROM {{a}} GROUP BY cid",
            a=assigned,
        )
        cents = {
            int(r["cid"]): [float(r[f"s{i}"]) / int(r["n"]) for i in range(1, dim + 1)]
            for r in upd.collect()
        }
    return cents


def train_ivfpq(
    embeddings: DataFrame, n_cells: int, n_sub: int, k_codes: int, iters: int,
    dim: int, *, id_col: str = "vec_id", vec_col: str = "embedding",
    train_frac: float | None = None,
) -> tuple[dict[int, list[float]], list[dict[int, list[float]]]]:
    """The IVFPQ model, trained the way FAISS trains it: Lloyd coarse
    cells on whole vectors plus one sub-codebook per subspace on the
    sliced sub-vectors — ``(cents, [codebook_0, …])``, shared by the
    persisted PQ store and the in-plan IVFADC probes.

    The ``1 + n_sub`` chains are INDEPENDENT, so they train from a
    small driver thread pool: each chain's kilobyte-scale update
    actions overlap the others' instead of paying ``1 + n_sub``
    sequential seed-collect + update walls.  Each chain is internally
    sequential (Lloyd is a barrier per iteration) and returns a plain
    dict, so the model is the same whatever order the chains finish
    in."""
    from concurrent.futures import ThreadPoolExecutor

    w = pq_sub_dim(dim, n_sub)
    subs = [
        embeddings.selectExpr(
            sql_ident(id_col), f"slice({sql_ident(vec_col)}, {m * w + 1}, {w}) AS subvec"
        )
        for m in range(n_sub)
    ]
    kw = dict(iters=iters, id_col=id_col, train_frac=train_frac)
    with ThreadPoolExecutor(max_workers=3) as pool:
        coarse = pool.submit(lloyd_train, embeddings, n_cells, dim=dim, vec_col=vec_col, **kw)
        cbooks = [
            pool.submit(lloyd_train, sub, k_codes, dim=w, vec_col="subvec", **kw)
            for sub in subs
        ]
        return coarse.result(), [f.result() for f in cbooks]


def kmeans_lloyd(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Run ``iters`` Lloyd iterations (assign → update, final iteration
    assign-only) starting from the first ``k`` vectors as centroids.

    Returns per-cluster convergence stats ``(cid, n_members,
    inertia)`` — the k-means objective per cluster after the final
    assignment, the value an operator pipeline checks for convergence.
    """
    from ..queries.helpers import hround

    cents = lloyd_train(
        embeddings, k, iters, dim, id_col=id_col, vec_col=vec_col
    )

    final = embeddings.selectExpr(
        f"{nearest_sqdist6_sql(vec_col, cents, id_field='cid')} AS c"
    )
    return final.groupBy(F.col("c").getField("cid").alias("cid")).agg(
        F.count(F.lit(1)).alias("n_members"),
        hround(
            F.sum(F.col("c").getField("d").cast("decimal(18,6)")).cast("double"), 4
        ).alias("inertia"),
    )


def sql_lloyd_centroid_ctes(
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    *,
    prefix: str = "",
    vec_sql=None,
    train_mod: int | None = None,
    src: str = "embeddings",
) -> tuple[list[str], str]:
    """The relational twin of ``lloyd_train``: a list of CTE strings
    deriving the trained centroids, plus the name of the final
    centroid CTE (always list-shaped ``(cid, cvec)``).  Shared by the
    ``sql_kmeans_lloyd`` oracle and the trained-IVF/IVFADC oracles so
    all reconstruct EXACTLY the centroids the Spark driver inlines.

    ``vec_sql(alias)`` renders the training vector for a table alias
    (default the full ``embedding`` list; the per-subspace PQ trainer
    passes a 1-based-inclusive slice like ``a.embedding[17:32]``);
    ``prefix`` namespaces the CTEs so several chains (coarse cells +
    one per subspace) compose in ONE statement.

    ``train_mod`` reconstructs the sampled training path
    (``lloyd_train(train_frac=...)``): every assignment scan keeps only
    rows with ``token_hash('ktrain_' || vec_id) % train_mod == 0`` —
    the identical salted-hash verdict, so sampled-trained centroids
    stay bit-reconstructible."""
    from ..functions.text import sql_token_hash

    if vec_sql is None:
        def vec_sql(alias: str) -> str:
            return f"{alias}.embedding"

    train_where = ""
    if train_mod is not None and train_mod > 1:
        h = sql_token_hash("'ktrain_' || CAST(e.vec_id AS VARCHAR)")
        train_where = f" WHERE {h} % {train_mod} = 0"

    d_from_vecs = sql_sqdist6(vec_sql("e"), "c.cvec", 0, dim)

    parts = [
        f"{prefix}c0 AS (SELECT vec_id AS cid, {vec_sql('embeddings')} AS cvec "
        f"FROM {src} embeddings WHERE vec_id < {k})",
        f"{prefix}dims AS (SELECT unnest(generate_series(1, {dim})) AS i)",
    ]
    prev = f"{prefix}c0"
    for it in range(1, iters):
        # assignment against a (cid, cvec) list-shaped centroid table;
        # the (possibly sliced) training vector is projected AS
        # embedding so the update below is slice-agnostic
        parts.append(
            f"""{prefix}a{it} AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, {vec_sql('e')} AS embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {d_from_vecs} ASC, c.cid ASC) AS rn
        FROM (SELECT * FROM {src} e{train_where}) e CROSS JOIN {prev} c
      ) WHERE rn = 1
    )"""
        )
        # per-dimension exact-decimal mean -> (cid, i, cv) long form
        parts.append(
            f"""{prefix}cl{it} AS (
      SELECT a.cid, d.i,
             CAST(SUM(CAST(CAST(a.embedding[d.i] AS DOUBLE) AS DECIMAL(28,14)))
                  AS DOUBLE) / COUNT(*) AS cv
      FROM {prefix}a{it} a CROSS JOIN {prefix}dims d GROUP BY a.cid, d.i
    )"""
        )
        # pivot back to (cid, cvec) LIST form so the NEXT assignment's
        # d_from_vecs (which references c.cvec) binds — without this the
        # oracle failed to compile for iters >= 3 while the Spark twin
        # ran (ADVICE r4 low).  cv is already the double the Spark
        # driver computes, so the round-trip is lossless.
        parts.append(
            f"""{prefix}c{it} AS (
      SELECT cid, list(cv ORDER BY i) AS cvec FROM {prefix}cl{it} GROUP BY cid
    )"""
        )
        prev = f"{prefix}c{it}"

    return parts, prev


def sql_kmeans_lloyd(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    """DuckDB twin of ``kmeans_lloyd`` — fully relational: assignment
    via window argmin over the vectors×centroids cross join, the
    centroid update via an exact-decimal per-dimension aggregate, each
    iteration one more CTE triple (assign / long-form update / pivot
    back to list form)."""
    from ..queries.helpers import sql_hround

    parts, prev = sql_lloyd_centroid_ctes(k, iters, dim)
    d_from_vecs = sql_sqdist6("e.embedding", "c.cvec", 0, dim)

    # final assignment: every iteration's centroid table is list-form
    # (c0 seeds are lists; each cl{it} is pivoted back via c{it}), so
    # the final distance reuses the SAME list_transform fold as the
    # intermediate assignments — identical order and 6-dp rounding, and
    # the oracle now compiles for ANY iters (ADVICE r4: the long-form
    # dfin bound only when prev happened to be a cl{it} CTE).
    parts = parts + [
        f"""dfin AS (
      SELECT e.vec_id, c.cid, {d_from_vecs} AS d
      FROM embeddings e CROSS JOIN {prev} c
    )""",
        """afin AS (
      SELECT vec_id, cid, d FROM (
        SELECT vec_id, cid, d,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
        FROM dfin
      ) WHERE rn = 1
    )""",
    ]
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT cid, COUNT(*) AS n_members,
           {sql_hround('CAST(SUM(CAST(d AS DECIMAL(18,6))) AS DOUBLE)', 4)} AS inertia
    FROM afin GROUP BY cid
    """
    )
