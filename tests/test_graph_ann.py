"""Graph ANN (round 13): store roundtrip, walk semantics, and the
recall pin vs brute force and IVF-flat at comparable candidate
budget (the round-12 verdict's build-or-bury condition)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webarchive_indexing_spark.operators.graph_ann import (
    build_knn_graph,
    graph_beam_topk,
    read_graph_meta,
    write_knn_graph,
)
from webarchive_indexing_spark.operators.similarity import (
    collect_query_vector,
    cosine_topk,
    ivf_topk,
)
from webarchive_indexing_spark.tables import load_table


@pytest.fixture(scope="module")
def store(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("graph_store"))
    emb = load_table(spark, sf_dir, "embeddings")
    write_knn_graph(emb, out, k_neighbors=12, n_base=500)
    return out


def test_store_roundtrip_and_symmetry(spark, sf_dir, store):
    meta = read_graph_meta(store)
    assert meta["k_neighbors"] == 12 and meta["symmetric"] is True
    assert meta["n_buckets"] >= 1 and meta["build"] == "exact"
    g = spark.read.parquet(store + "/graph").select("src", "dst", "sim")
    n_nodes = spark.read.parquet(store + "/vectors").count()
    # every node has >= k out-edges (symmetrization only adds), and
    # the edge set is closed under reversal
    degs = g.groupBy("src").count()
    assert degs.filter(F.col("count") < 12).count() == 0
    assert degs.count() == n_nodes
    rev = g.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "sim"
    )
    assert g.unionByName(rev).distinct().count() == g.count()


def test_store_layout_is_bucket_partitioned(spark, sf_dir, store):
    """The scale contract: edges land under src_bucket= hive
    directories (the frontier-pruned scan's partition key) and the
    bucket value matches src % n_buckets; same for vectors/."""
    import os

    nb = read_graph_meta(store)["n_buckets"]
    gdirs = [
        d for d in os.listdir(store + "/graph")
        if d.startswith("src_bucket=")
    ]
    assert 1 < len(gdirs) <= nb
    g = spark.read.parquet(store + "/graph")
    assert g.filter(
        F.col("src_bucket") != F.pmod(F.col("src"), F.lit(nb))
    ).count() == 0
    v = spark.read.parquet(store + "/vectors")
    assert v.filter(
        F.col("id_bucket") != F.pmod(F.col("vec_id"), F.lit(nb))
    ).count() == 0


def test_directed_knn_graph_degree_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 50
    )
    g = build_knn_graph(emb, k_neighbors=5)
    per = g.groupBy("src").count().collect()
    assert len(per) == 50 and all(r["count"] == 5 for r in per)


def test_beam_walk_matches_visited_semantics(spark, sf_dir, store):
    """The walk's answer is top-k of the VISITED set — so growing k
    within the visited size only extends the tail, never reorders the
    head, and every hit is a real corpus neighbor of the query."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = collect_query_vector(emb, 77)
    top5 = graph_beam_topk(
        spark, store, qv, k=5, beam=10, hops=3,
        entries=(0, 150, 300, 450), exclude_id=77,
    ).collect()
    top10 = graph_beam_topk(
        spark, store, qv, k=10, beam=10, hops=3,
        entries=(0, 150, 300, 450), exclude_id=77,
    ).collect()
    assert [r.vec_id for r in top10][:5] == [r.vec_id for r in top5]
    assert all(r.vec_id != 77 for r in top10)
    sims = [r.cos_sim for r in top10]
    assert sims == sorted(sims, reverse=True)


def test_recall_pin_vs_brute_and_ivf(spark, sf_dir, store):
    """The build-or-bury condition: at a comparable candidate budget
    (beam walk scores <= |entries| + H*B*degree ~ a few hundred of
    the 500-vector base; IVF-flat at nprobe=3 of 8 cells scans ~190),
    the graph walk's recall@10 vs exact brute force must beat the
    IVF-flat envelope — the reason production vector stores serve
    from graphs.  Fixture-deterministic, so the pin is exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < 500)
    qids = [77, 123, 321, 456]
    # ONE batched walk instead of a per-query loop: the batch walk's
    # per-request rows equal the per-request graph_beam_topk answers
    # (the emb_graph_beam_batch oracle is exactly that UNION ALL), and
    # the loop was 4 walks x 7 driver actions of suite wall
    from webarchive_indexing_spark.operators.graph_ann import (
        graph_beam_batch_topk,
    )

    vmap = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in base.filter(F.col("vec_id").isin(qids)).collect()
    }
    beams: dict[int, set[int]] = {q: set() for q in qids}
    batch_rows: dict[int, list[tuple]] = {q: [] for q in qids}
    for r in graph_beam_batch_topk(
        spark, store, [vmap[q] for q in qids], k=10, beam=10, hops=3,
        entries=(0, 150, 300, 450), exclude_ids=qids,
    ).collect():
        beams[qids[int(r.request_no)]].add(int(r.vec_id))
        batch_rows[qids[int(r.request_no)]].append((r.vec_id, r.cos_sim))
    # the single walk scores through its own projection: its rows must
    # equal the batch walk's rows for the same request, in order
    for q in qids:
        single = graph_beam_topk(
            spark, store, vmap[q], k=10, beam=10, hops=3,
            entries=(0, 150, 300, 450), exclude_id=q,
        ).collect()
        assert [(r.vec_id, r.cos_sim) for r in single] == batch_rows[q], q
    beam_r, ivf_r = [], []
    for q in qids:
        brute = {
            r.vec_id for r in cosine_topk(base, q, k=10).collect()
        }
        ivf = {
            r.vec_id
            for r in ivf_topk(base, q, k=10, n_cents=8, nprobe=3).collect()
        }
        beam_r.append(len(beams[q] & brute) / 10)
        ivf_r.append(len(ivf & brute) / 10)
    mean_beam = sum(beam_r) / len(beam_r)
    mean_ivf = sum(ivf_r) / len(ivf_r)
    assert mean_beam >= 0.8, (beam_r, ivf_r)
    assert mean_beam > mean_ivf, (beam_r, ivf_r)


def test_walk_plan_has_no_cartesian(spark, sf_dir, store):
    emb = load_table(spark, sf_dir, "embeddings")
    qv = collect_query_vector(emb, 77)
    df = graph_beam_topk(spark, store, qv, exclude_id=77)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_grid_build_is_exact_thresholded_and_recall_envelope(
    spark, sf_dir, store, tmp_path_factory
):
    """Round-14 verdict task 1: the grid candidate generator is
    LOSSLESS for the thresholded contract (edge set identical to the
    exact build filtered at min_sim), and the beam walk over the
    thresholded graph stays within a 0.1 recall envelope of the
    exact-build walk (measured 0.825 vs 0.875 on the fixture)."""
    from webarchive_indexing_spark.operators.graph_ann import (
        grid_threshold_candidates,
    )

    T = 0.24
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < 500).select("vec_id", "embedding")
    g_grid = build_knn_graph(
        base, k_neighbors=12,
        candidates=grid_threshold_candidates(T), min_sim=T,
    )
    g_ref = build_knn_graph(base, k_neighbors=12, min_sim=T)
    assert g_grid.exceptAll(g_ref).count() == 0
    assert g_ref.exceptAll(g_grid).count() == 0

    out = str(tmp_path_factory.mktemp("grid_store"))
    write_knn_graph(
        emb, out, k_neighbors=12, n_base=500,
        candidates=grid_threshold_candidates(T), min_sim=T,
    )
    diffs = []
    for q in (77, 123, 321, 456):
        qv = collect_query_vector(emb, q)
        brute = {r.vec_id for r in cosine_topk(
            emb.filter(F.col("vec_id") < 500), q, k=10).collect()}
        kw = dict(k=10, beam=10, hops=3, entries=(0, 150, 300, 450),
                  exclude_id=q)
        ex = {r.vec_id for r in graph_beam_topk(spark, store, qv, **kw).collect()}
        gr = {r.vec_id for r in graph_beam_topk(spark, out, qv, **kw).collect()}
        diffs.append((len(gr & brute) - len(ex & brute)) / 10)
    assert sum(diffs) / len(diffs) >= -0.1, diffs


def test_nn_descent_converges_per_round(spark, sf_dir):
    """The NND invariant that holds on ANY geometry: each bounded
    round strictly improves edge-set recall vs the exact kNN graph
    (uniform fixture vectors are the documented worst case for the
    absolute level, so the pin is the monotone per-round gain)."""
    from webarchive_indexing_spark.operators.graph_ann import (
        nn_descent_knn_graph,
    )

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select("vec_id", "embedding")
    )
    exact = build_knn_graph(emb, k_neighbors=6)
    n_exact = exact.count()
    recalls = []
    for rounds in (0, 1, 2):
        g = nn_descent_knn_graph(
            emb, k_neighbors=6, rounds=rounds, stride=37, n_base=200
        )
        hits = g.select("src", "dst").intersect(
            exact.select("src", "dst")
        ).count()
        recalls.append(hits / n_exact)
    assert recalls[0] < recalls[1] < recalls[2], recalls


def test_hash_ring_seed_arbitrary_id_domain(spark, sf_dir):
    """Round 15: the hash-ring seed needs NO id-domain assumption —
    re-keying the corpus to sparse ids yields a valid seed (out-degree
    exactly k for n >> k, all endpoints in-domain, deterministic), and
    NND convergence under it matches the arithmetic ring's monotone
    per-round gain."""
    from webarchive_indexing_spark.operators.graph_ann import (
        hash_ring_seed,
        nn_descent_knn_graph,
    )

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select(
            (F.col("vec_id") * 17 + 1000).alias("vec_id"), "embedding"
        )
    )
    seed = hash_ring_seed(emb.select("vec_id"), k_neighbors=6)
    ids = {r.vec_id for r in emb.select("vec_id").collect()}
    rows = seed.collect()
    assert {r.src for r in rows} == ids
    assert {r.dst for r in rows} <= ids
    from collections import Counter

    deg = Counter(r.src for r in rows)
    assert set(deg.values()) == {6}, sorted(deg.items())[:3]
    # deterministic across invocations (hash order, not RNG state)
    again = {(r.src, r.dst) for r in hash_ring_seed(
        emb.select("vec_id"), k_neighbors=6
    ).collect()}
    assert again == {(r.src, r.dst) for r in rows}

    exact = build_knn_graph(emb, k_neighbors=6)
    n_exact = exact.count()
    recalls = []
    for rounds in (0, 1, 2):
        g = nn_descent_knn_graph(
            emb, k_neighbors=6, rounds=rounds, seed="hash_ring"
        )
        hits = g.select("src", "dst").intersect(
            exact.select("src", "dst")
        ).count()
        recalls.append(hits / n_exact)
    assert recalls[0] < recalls[1] < recalls[2], recalls


def test_persisted_entry_points(spark, sf_dir, store, tmp_path_factory):
    """Round 15: the store persists ring-stratified top-degree entry
    points at build time; ``entries=None`` serving reads them, an old
    store without them fails with the remedy, and compaction refreshes
    them after purging a tombstoned entry node."""
    import json
    import posixpath

    from webarchive_indexing_spark.operators.graph_ann import (
        META,
        compact_knn_graph,
        delete_from_knn_graph,
    )
    from webarchive_indexing_spark.tables import load_table as _lt

    meta = read_graph_meta(store)
    ents = meta["entries"]
    assert len(ents) == 4 and len(set(ents)) == 4
    emb = _lt(spark, sf_dir, "embeddings")
    qv = collect_query_vector(emb, 77)
    stored = graph_beam_topk(spark, store, qv, exclude_id=77).collect()
    explicit = graph_beam_topk(
        spark, store, qv, entries=tuple(ents), exclude_id=77
    ).collect()
    assert [tuple(r) for r in stored] == [tuple(r) for r in explicit]

    # pre-r15 store: no entries in meta → loud remedy, not a guess
    legacy = str(tmp_path_factory.mktemp("legacy_store"))
    import shutil

    shutil.copytree(store, legacy, dirs_exist_ok=True)
    m2 = dict(meta)
    m2.pop("entries")
    with open(posixpath.join(legacy, META), "w") as fh:
        json.dump(m2, fh)
    with pytest.raises(ValueError, match="persisted entry points"):
        graph_beam_topk(spark, legacy, qv, exclude_id=77)

    # compaction refreshes entries: tombstone one entry node, compact,
    # and the purged id must leave the persisted set
    victim = ents[0]
    mutable = str(tmp_path_factory.mktemp("compact_store"))
    shutil.copytree(store, mutable, dirs_exist_ok=True)
    delete_from_knn_graph(mutable, [victim])
    compact_knn_graph(spark, mutable)
    refreshed = read_graph_meta(mutable)["entries"]
    assert victim not in refreshed
    assert len(refreshed) == 4


def test_stored_entries_recall_beats_static(spark, sf_dir, store):
    """The round-14 verdict's done-condition for persisted entries:
    recall with the stored selection must not lose to the legacy
    static id tuple.  Measured over a 20-query panel (the 4-query
    bench set is too noisy to rank selections): ring-stratified hubs
    0.705 vs static 0.64 at sf0.001."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < 500)
    qids = list(range(5, 500, 25))
    vmap = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in base.filter(F.col("vec_id").isin(qids)).collect()
    }
    brutes = {
        q: {r.vec_id for r in cosine_topk(base, q, k=10).collect()}
        for q in qids
    }

    from webarchive_indexing_spark.operators.graph_ann import (
        graph_beam_batch_topk,
    )

    def mean_recall(entries):
        # one batched walk for the whole panel — per-request rows are
        # the per-request graph_beam_topk answers (oracle-pinned by
        # emb_graph_beam_batch), at 7 driver actions instead of 20x7
        hits: dict[int, set[int]] = {q: set() for q in qids}
        for r in graph_beam_batch_topk(
            spark, store, [vmap[q] for q in qids], k=10, beam=10,
            hops=3, entries=entries, exclude_ids=qids,
        ).collect():
            hits[qids[int(r.request_no)]].add(int(r.vec_id))
        return sum(
            len(hits[q] & brutes[q]) / 10 for q in qids
        ) / len(qids)

    stored = mean_recall(None)
    static = mean_recall((0, 150, 300, 450))
    assert stored >= 0.65, (stored, static)
    assert stored >= static, (stored, static)


def test_append_makes_batch_reachable_and_refuses_dup_ids(
    spark, sf_dir, tmp_path_factory
):
    """LSM append: new vectors are REACHABLE through reverse edges
    (old nodes gained routes into the batch), old edge files are
    untouched, and id collisions refuse."""
    import pytest as _pytest

    from webarchive_indexing_spark.operators.graph_ann import (
        append_knn_graph,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = str(tmp_path_factory.mktemp("append_store"))
    write_knn_graph(emb, out, k_neighbors=12, n_base=400)
    batch = emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 500))
    assert append_knn_graph(batch, out) == 100
    g = spark.read.parquet(out + "/graph")
    # old → new routes exist (reverse edges), so a walk can reach the
    # batch from old entry points
    assert g.filter(
        (F.col("src") < 400) & (F.col("dst") >= 400)
    ).count() > 0
    # every batch node has out-edges
    assert g.filter(F.col("src") >= 400).select(
        "src").distinct().count() == 100
    with _pytest.raises(ValueError, match="already in the store"):
        append_knn_graph(batch, out)


def test_delete_is_stepping_stone_then_compact_purges(
    spark, sf_dir, tmp_path_factory
):
    """Tombstoned ids vanish from RESULTS immediately but stay
    navigable (visited-through) until compaction; compact_knn_graph
    removes the nodes and their edges physically, re-trims degree,
    and clears the applied tombstone batches."""
    from webarchive_indexing_spark.operators.graph_ann import (
        compact_knn_graph,
        delete_from_knn_graph,
    )
    from webarchive_indexing_spark.sinks.ann_index import (
        read_ann_tombstones,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = str(tmp_path_factory.mktemp("del_store"))
    write_knn_graph(emb, out, k_neighbors=12, n_base=500)
    qv = collect_query_vector(emb, 77)
    kw = dict(k=10, beam=10, hops=3, entries=(0, 150, 300, 450),
              exclude_id=77)
    pre = [r.vec_id for r in graph_beam_topk(spark, out, qv, **kw).collect()]
    dead = pre[:2]
    delete_from_knn_graph(out, dead)
    post = [r.vec_id for r in graph_beam_topk(spark, out, qv, **kw).collect()]
    assert not set(dead) & set(post)
    # stepping stones: results beyond the dead ids are unchanged
    assert post[: len(pre) - 2] == [i for i in pre if i not in set(dead)][
        : len(pre) - 2
    ]
    compact_knn_graph(spark, out)
    assert read_ann_tombstones(out) == set()
    g = spark.read.parquet(out + "/graph")
    assert g.filter(
        F.col("src").isin(dead) | F.col("dst").isin(dead)
    ).count() == 0
    v = spark.read.parquet(out + "/vectors")
    assert v.filter(F.col("vec_id").isin(dead)).count() == 0
    # degree re-trimmed to <= 2k (sym of a k-trimmed directed graph)
    mx = g.groupBy("src").count().agg(F.max("count")).first()[0]
    assert mx <= 2 * 12
    # walk over the compacted store still excludes the dead ids
    post2 = [r.vec_id for r in graph_beam_topk(spark, out, qv, **kw).collect()]
    assert not set(dead) & set(post2)


def test_versioned_publish_and_append(spark, sf_dir, tmp_path_factory):
    """CURRENT-pointer lifecycle parity with the IVF stores: a
    versioned build resolves through the pointer, a versioned append
    clones + publishes atomically, and the pre-append version's files
    are untouched."""
    from webarchive_indexing_spark.operators.graph_ann import (
        append_knn_graph_versioned,
        write_knn_graph_versioned,
    )
    from webarchive_indexing_spark.sinks.ann_index import (
        read_store_pointer,
        resolve_store,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    root = str(tmp_path_factory.mktemp("ver_store"))
    write_knn_graph_versioned(emb, root, k_neighbors=12, n_base=400)
    v1 = read_store_pointer(root)
    assert v1 is not None
    qv = collect_query_vector(emb, 77)
    kw = dict(k=10, beam=10, hops=3, entries=(0, 150, 300, 450),
              exclude_id=77)
    pre = [r.vec_id for r in graph_beam_topk(spark, root, qv, **kw).collect()]
    batch = emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 500))
    assert append_knn_graph_versioned(batch, root) == 100
    v2 = read_store_pointer(root)
    assert v2 is not None and v2 != v1
    post = [r.vec_id for r in graph_beam_topk(spark, root, qv, **kw).collect()]
    # old version still serves the pre-append answer
    import posixpath

    old = [
        r.vec_id
        for r in graph_beam_topk(
            spark, posixpath.join(root, v1), qv, **kw
        ).collect()
    ]
    assert old == pre
    assert resolve_store(root).endswith(v2)
    # appended store has 500 nodes
    assert spark.read.parquet(
        posixpath.join(root, v2, "vectors")
    ).count() == 500
    del post


def _walk_rows(spark, root, qvs, qids, label_where):
    """Single and batch walks over ``root`` — plain, exclusion and
    filtered requests — as comparable row lists."""
    from webarchive_indexing_spark.operators.graph_ann import (
        graph_beam_batch_topk,
    )

    out = {}
    for q in qids:
        out[("single", q)] = graph_beam_topk(
            spark, root, qvs[q], k=10, exclude_id=q
        ).collect()
        out[("single_where", q)] = graph_beam_topk(
            spark, root, qvs[q], k=10, where=label_where
        ).collect()
    vecs = [qvs[q] for q in qids]
    out["batch"] = graph_beam_batch_topk(
        spark, root, vecs, k=10, exclude_ids=qids
    ).collect()
    out["batch_wheres"] = graph_beam_batch_topk(
        spark, root, vecs, k=10,
        wheres=[label_where, None] * (len(qids) // 2),
    ).collect()
    return {k: [tuple(r) for r in v] for k, v in out.items()}


def test_driver_read_walks_equal_distributed_read(
    spark, sf_dir, tmp_path_factory, monkeypatch
):
    """A frontier read on the driver (Arrow local relation) and the
    frontier-pruned Spark scan it falls back to above its byte bound
    must give the same rows, for single and batch walks with
    exclusions and ``where``/``wheres``, on a plain store, after an
    LSM append (several files per bucket) and with tombstones."""
    from webarchive_indexing_spark.operators import graph_ann
    from webarchive_indexing_spark.operators.graph_ann import (
        append_knn_graph,
        delete_from_knn_graph,
    )
    from webarchive_indexing_spark.sinks.ann_index import _store_scan

    emb = load_table(spark, sf_dir, "embeddings")
    out = str(tmp_path_factory.mktemp("driver_read_store"))
    write_knn_graph(emb, out, k_neighbors=12, n_base=400, attrs=("label",))
    qids = [77, 321]
    qvs = {q: collect_query_vector(emb, q) for q in qids}
    label = emb.filter(F.col("vec_id") == 321).first().label
    where = f"label = {label}"

    def both():
        driver = _walk_rows(spark, out, qvs, qids, where)
        with monkeypatch.context() as m:
            m.setattr(graph_ann, "_driver_read_bytes", lambda _spark: 0)
            distributed = _walk_rows(spark, out, qvs, qids, where)
        assert driver == distributed
        return driver

    plain = both()
    # the fallback scans take their schema from a parquet footer; it
    # equals the inferring read's, bucket column included
    for sub in ("vectors", "graph"):
        assert _store_scan(spark, out, sub).schema == (
            spark.read.parquet(f"{out}/{sub}").schema
        ), sub
    append_knn_graph(
        emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 500)), out
    )
    appended = both()
    assert appended != plain
    dead = [r[0] for r in appended[("single", 77)][:3]]
    delete_from_knn_graph(out, dead)
    tombstoned = both()
    assert not set(dead) & {r[0] for r in tombstoned[("single", 77)]}


def test_graph_walk_runs_one_job(spark, sf_dir, store, py4j_calls):
    """Every hop of a walk reads its frontier on the driver and scores
    it there, and the ranked top-k is a local relation: collecting a
    single or a batch walk runs no Spark job, in a bounded number of
    py4j calls (31 each on the fixture store)."""
    from webarchive_indexing_spark.operators.graph_ann import (
        graph_beam_batch_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [77, 321, 123, 456]
    qvs = [collect_query_vector(emb, q) for q in qids]
    walks = {
        "single": lambda: graph_beam_topk(spark, store, qvs[0], k=10, exclude_id=77),
        "batch": lambda: graph_beam_batch_topk(
            spark, store, qvs, k=10, exclude_ids=qids
        ),
    }
    sc = spark.sparkContext
    for name, walk in walks.items():
        group = f"graph_walk_jobs_{name}"
        sc.setJobGroup(group, name)
        try:
            with py4j_calls() as calls:
                rows = walk().collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(rows) == (10 if name == "single" else 40), name
        assert sc.statusTracker().getJobIdsForGroup(group) == [], name
        assert calls.n <= 45, (name, calls.n)


def test_fallback_walk_rows_equal_spark_scores(spark, sf_dir, store, monkeypatch):
    """On the Spark-scan fallback (``_driver_read_bytes`` 0, so every
    frontier is read by a pruned Spark scan) each walk returns the
    driver read's rows, and every ``cos_sim`` is the score Spark's own
    ``spark_cosine6_sql`` gives that stored vector and query."""
    from webarchive_indexing_spark.operators import graph_ann
    from webarchive_indexing_spark.operators.graph_ann import (
        graph_beam_batch_topk,
    )
    from webarchive_indexing_spark.operators.similarity import spark_cosine6_sql
    from webarchive_indexing_spark.sqltext import sql_double_array

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [77, 321]
    qvs = [collect_query_vector(emb, q) for q in qids]

    def walks():
        return {
            "single": graph_beam_topk(
                spark, store, qvs[0], k=10, exclude_id=77
            ).collect(),
            "batch": graph_beam_batch_topk(
                spark, store, qvs, k=10, exclude_ids=qids
            ).collect(),
        }

    driver = walks()
    monkeypatch.setattr(graph_ann, "_driver_read_bytes", lambda _spark: 0)
    fallback = walks()
    assert fallback == driver
    vecs = spark.read.parquet(store + "/vectors")
    spark_score = [
        {
            r.vec_id: r.s
            for r in vecs.select(
                "vec_id",
                F.expr(spark_cosine6_sql("embedding", sql_double_array(qv))).alias("s"),
            ).collect()
        }
        for qv in qvs
    ]
    rows = [(0, r.vec_id, r.cos_sim) for r in fallback["single"]] + [
        tuple(r) for r in fallback["batch"]
    ]
    assert len(rows) == 30
    assert all(s == spark_score[req][i] for req, i, s in rows)


@pytest.fixture(scope="module")
def unscorable_store(spark, tmp_path_factory):
    """Five 3-d vectors on a prebuilt edge list: 0-2 are fine, 3 holds
    a NaN and 4 a NULL element; every node links to 0."""
    from pyspark.sql import types as T

    out = str(tmp_path_factory.mktemp("unscorable_store"))
    vecs = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [1.0, 1.0, 0.0],
            [float("nan"), 1.0, 0.0], [None, 1.0, 0.0]]
    emb = spark.createDataFrame(
        list(enumerate(vecs)),
        T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]),
    )
    edges = spark.createDataFrame(
        [(0, 1, 0.0), (1, 2, 0.0), (3, 0, 0.0), (4, 0, 0.0)],
        "src long, dst long, sim double",
    )
    write_knn_graph(emb, out, n_base=5, edges=edges)
    return out


@pytest.mark.parametrize(
    "entry, bad, why",
    [
        (0, [1.0, 0.5], "the stored vector has 3 elements, the query 2"),
        (0, [0.0, 0.0, 0.0], "the query has zero norm"),
        (3, None, "an element or product is NULL or not finite"),
        (4, None, "an element or product is NULL or not finite"),
    ],
)
def test_walks_refuse_unscorable_pairs(spark, unscorable_store, entry, bad, why):
    """A pair Spark could not score (a query of the wrong dimension or
    zero norm, a NaN or NULL stored element) is a ``ValueError`` naming
    the walk and the request, not a ``TypeError`` or a Spark error."""
    from webarchive_indexing_spark.operators.graph_ann import (
        graph_beam_batch_topk,
    )

    good = [1.0, 0.0, 0.0]
    req = 0 if bad is None else 1
    with pytest.raises(ValueError, match=f"graph_beam_topk: request 0, vec_id {entry}: {why}"):
        graph_beam_topk(spark, unscorable_store, bad or good, entries=(entry,))
    with pytest.raises(
        ValueError, match=f"graph_beam_batch_topk: request {req}, vec_id {entry}: {why}"
    ):
        graph_beam_batch_topk(
            spark, unscorable_store, [good, bad or good], entries=(entry,)
        )


def test_frontier_in_empty_buckets_reads_nothing(spark, sf_dir, tmp_path_factory):
    """A frontier whose bucket directories hold no file (more buckets
    than ids) is read as no rows on the driver, typed from the table's
    footer, with no Spark job; a walk entering there visits nothing."""
    from webarchive_indexing_spark.operators.graph_ann import _Frontier

    emb = load_table(spark, sf_dir, "embeddings")
    out = str(tmp_path_factory.mktemp("sparse_buckets_store"))
    write_knn_graph(emb, out, k_neighbors=4, n_base=20, n_buckets=32)
    front = _Frontier(spark, out, 32)
    sc = spark.sparkContext
    sc.setJobGroup("empty_bucket_jobs", "frontier reads")
    try:
        assert front.rows("graph", "src", [25, 57], ("src", "dst")) == []
        frame = front.frame("vectors", "vec_id", [25], ("vec_id", "embedding"))
        assert frame.collect() == []
        walk = graph_beam_topk(
            spark, out, collect_query_vector(emb, 3), entries=(25,)
        ).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert walk == []
    assert frame.schema == spark.read.parquet(f"{out}/vectors").select(
        "vec_id", "embedding"
    ).schema
    assert len(sc.statusTracker().getJobIdsForGroup("empty_bucket_jobs")) <= 1


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_walks_refuse_non_finite_query(spark, sf_dir, store, bad):
    from webarchive_indexing_spark.operators.graph_ann import (
        graph_beam_batch_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = collect_query_vector(emb, 77)
    poisoned = qv[:5] + [bad] + qv[6:]
    with pytest.raises(ValueError, match="query vector 0 has a non-finite"):
        graph_beam_topk(spark, store, poisoned)
    with pytest.raises(ValueError, match="query vector 1 has a non-finite"):
        graph_beam_batch_topk(spark, store, [qv, poisoned])


@pytest.mark.parametrize("metric", ["cosine", "ip", "l2"])
def test_spark_cosine6_sql_equals_column_form(spark, sf_dir, metric):
    """The walks and the store probes score with one-parse SQL text of
    ``hround(cosine(v, q), 6)``, ``dot6`` and ``sqdist6``; each must
    give its Column form's doubles exactly."""
    from webarchive_indexing_spark.operators import similarity as S
    from webarchive_indexing_spark.queries.helpers import hround
    from webarchive_indexing_spark.sqltext import sql_double_array

    column, sql = {
        "cosine": (lambda a, b: hround(S.cosine(a, b), 6), S.spark_cosine6_sql),
        "ip": (S.dot6, S.spark_dot6_sql),
        "l2": (S.sqdist6, S.spark_sqdist6_sql),
    }[metric]
    emb = load_table(spark, sf_dir, "embeddings")
    qv = collect_query_vector(emb, 77)
    want = emb.select(
        "vec_id",
        column(F.col("embedding"), S.lit_double_array(qv)).alias("s"),
    )
    got = emb.select(
        "vec_id",
        F.expr(sql("embedding", sql_double_array(qv))).alias("s"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
