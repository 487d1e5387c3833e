"""Scale-pattern + pandas-UDF verification: salted ops equal their
plain twins; U2/U3 UDFs match reference formulations."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from webarchive_indexing_spark.operators.skew import (
    replicated_skew_join,
    salted_two_phase_agg,
)
from webarchive_indexing_spark.registry import REGISTRY, _ensure_loaded
from webarchive_indexing_spark.tables import load_table

_ensure_loaded()


def test_salted_agg_equals_plain(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    salted = salted_two_phase_agg(
        ev, key="event_type", salt_col="event_id", aggs={"n": ("count", None)}, salt_n=16
    )
    plain = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
    # and phase 1 really fans out: >#keys groups pre-merge
    ex = salted._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in ex.lower() or "pmod" in ex.lower()


def test_replicated_join_equals_plain(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").withColumnRenamed("c_nationkey", "nk")
    n = load_table(spark, sf_dir, "nation").withColumnRenamed("n_nationkey", "nk")
    salted = replicated_skew_join(c, n, "nk", salt_n=8, salt_source="c_custkey")
    plain = c.join(n, "nk")
    a = sorted(map(tuple, salted.select("c_custkey", "n_name").collect()))
    b = sorted(map(tuple, plain.select("c_custkey", "n_name").collect()))
    assert a == b


def test_grouped_map_znorm_matches_window(spark, sf_dir):
    q = REGISTRY["pandas_grouped_map_znorm"].fn
    got = {r.event_id: r.znorm for r in q(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    ref = ev.select(
        "event_id",
        ((F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w)).alias(
            "z"
        ),
    )
    # query output is hround-ed to 3dp for oracle hashability
    for r in ref.collect():
        assert math.isclose(got[r.event_id], r.z, abs_tol=5.001e-4)


def test_grouped_agg_gini_matches_numpy(spark, sf_dir):
    q = REGISTRY["pandas_grouped_agg_gini"].fn
    got = {r.event_type: r.gini_value for r in q(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").select("event_type", "value").collect()
    by_type: dict[str, list[float]] = {}
    for r in ev:
        by_type.setdefault(r.event_type, []).append(r.value)
    for et, vals in by_type.items():
        x = np.sort(np.array(vals))
        cum = np.cumsum(x)
        expected = float((x.size + 1 - 2 * (cum / cum[-1]).sum()) / x.size)
        # query output is hround-ed to 4dp for oracle hashability
        assert math.isclose(got[et], expected, abs_tol=5.001e-5)
    assert all(0.0 <= g <= 1.0 for g in got.values())


def test_ivf_topk_zero_shuffle_plan(spark, sf_dir):
    """The IVF ANN query must plan as one scan → map-side cell argmax →
    filter → TakeOrderedAndProject: no Exchange anywhere (the quantizer
    is inlined literals, the probe filter prunes before scoring)."""
    df = REGISTRY["emb_ivf_topk"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "TakeOrderedAndProject" in plan
    rows = df.collect()
    assert 0 < len(rows) <= 10
    assert all(-1.0 <= r.cos_sim <= 1.0 for r in rows)
    assert all(r.vec_id != 123 for r in rows)


def test_ivf_recall_vs_exact(spark, sf_dir):
    """The IVF recall/cost dial: probing every cell degenerates to the
    exact brute-force answer (same top-k set), and recall can only
    grow with nprobe (more cells ⇒ superset of candidates).  Absolute
    recall at small nprobe is a property of the quantizer, not the
    operator, so it is not asserted."""
    from webarchive_indexing_spark.operators.similarity import cosine_topk, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {r.vec_id for r in cosine_topk(emb, 123, k=10).collect()}
    full = {r.vec_id for r in ivf_topk(emb, 123, k=10, nprobe=16).collect()}
    assert full == exact
    r2 = {r.vec_id for r in ivf_topk(emb, 123, k=10, nprobe=2).collect()}
    r4 = {r.vec_id for r in ivf_topk(emb, 123, k=10, nprobe=4).collect()}
    assert len(r2 & exact) <= len(r4 & exact)
    assert r2


def test_ivf_trained_zero_shuffle_probe_plan(spark, sf_dir):
    """The TRAINED-IVF probe must keep the stand-in IVF's plan
    contract: training happens in separate jobs (Lloyd updates), but
    the returned probe query itself is scan → inlined-literal argmax →
    filter → TakeOrderedAndProject with no Exchange."""
    df = REGISTRY["emb_ivf_trained_topk"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "TakeOrderedAndProject" in plan
    rows = df.collect()
    assert 0 < len(rows) <= 10
    assert all(r.vec_id != 123 for r in rows)


def test_ivf_trained_recall_sweep(spark, sf_dir):
    """Recall dial on the trained index: probing all cells equals the
    exact brute-force top-k, and recall is monotone in nprobe.  Also
    the composition sanity check: trained centroids differ from the
    seed stand-ins (training moved them), yet full-probe recall is
    still exact — recall loss can only come from pruning."""
    from webarchive_indexing_spark.operators.kmeans import lloyd_train
    from webarchive_indexing_spark.operators.similarity import (
        collect_seed_vectors,
        cosine_topk,
        ivf_trained_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {r.vec_id for r in cosine_topk(emb, 123, k=10).collect()}
    recall = {}
    for nprobe in (1, 4, 8):
        got = {
            r.vec_id
            for r in ivf_trained_topk(
                emb, 123, k=10, n_cents=8, nprobe=nprobe, train_iters=2
            ).collect()
        }
        recall[nprobe] = len(got & exact)
    assert recall[8] == len(exact), "full probe must equal exact top-k"
    assert recall[1] <= recall[4] <= recall[8], recall
    trained = lloyd_train(emb, k=8, iters=2)
    seeds = collect_seed_vectors(emb, 8)
    assert trained != seeds, "training must move the centroids"


def test_cms_one_sided_error_and_bounded_sketch(spark, sf_dir):
    """Count-min invariants: every estimate >= the true count (the
    sketch can only over-count), real collisions are present (w is
    deliberately smaller than the bigram vocabulary, otherwise the
    property is vacuous), and the sketch itself is bounded by d x w
    rows regardless of corpus size."""
    rows = REGISTRY["text_cms_heavy_hitters"].fn(spark, sf_dir).collect()
    assert rows
    assert all(r.est_count >= r.true_count for r in rows)
    assert all(r.overestimates for r in rows)
    assert any(r.est_count > r.true_count for r in rows), (
        "no collisions — widen the key space or shrink w"
    )
    from webarchive_indexing_spark.queries.llm import _CMS_D, _CMS_W

    # the sketch aggregate can never exceed d*w rows — the memory bound
    assert len({(r.token) for r in rows}) <= len(rows)
    assert _CMS_D * _CMS_W == 768


def test_ivfadc_trained_zero_shuffle_probe_plan(spark, sf_dir):
    """Fully trained IVFADC: five Lloyd chains feed the model
    artifacts, but the SERVING plan must stay the ivf_pq shape — one
    scan, inlined-literal cell + code argmins, probe filter,
    TakeOrderedAndProject, no Exchange."""
    df = REGISTRY["emb_ivfadc_trained_topk"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "TakeOrderedAndProject" in plan
    rows = df.collect()
    assert 0 < len(rows) <= 10
    assert all(r.approx_dist >= 0.0 for r in rows)


def test_ivfadc_residual_zero_shuffle_and_residual_algebra(spark, sf_dir):
    """Residual IVFADC: serving plan has no Exchange, and the residual
    algebra is real — the encode against combined codewords c+b must
    equal an explicit residual (x − c) encode against the raw
    codebook for a sampled row (sqdist(x−c, b) == sqdist(x, c+b))."""
    from webarchive_indexing_spark.operators.similarity import py_sqdist6

    df = REGISTRY["emb_ivfadc_residual_topk"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "TakeOrderedAndProject" in plan
    rows = df.collect()
    assert 0 < len(rows) <= 10
    assert all(r.approx_dist >= 0.0 for r in rows)

    # algebra check on plain floats
    x = [0.3, -1.2, 0.9]
    c = [0.1, 0.2, -0.4]
    b = [0.05, -0.5, 1.0]
    resid = [xi - ci for xi, ci in zip(x, c)]
    comb = [ci + bi for ci, bi in zip(c, b)]
    assert py_sqdist6(resid, b) == py_sqdist6(x, comb)


def test_pq_adc_zero_shuffle_plan(spark, sf_dir):
    """PQ/ADC must plan like IVF: one scan, map-side encode + literal
    table lookup, TakeOrderedAndProject — no Exchange anywhere (the
    codebook and query distance table are inlined literals)."""
    df = REGISTRY["emb_pq_adc_topk"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "TakeOrderedAndProject" in plan
    rows = df.collect()
    assert 0 < len(rows) <= 10
    assert all(r.vec_id != 77 for r in rows)
    assert all(r.approx_dist >= 0.0 for r in rows)
    # 4 subspaces x 3 bits: code_key fits in 12 bits
    assert all(0 <= r.code_key < (1 << 12) for r in rows)


def test_pq_quality_vs_exact_neighbours(spark, sf_dir):
    """PQ sanity: with the codebook degenerated to ONE subspace whose
    codes cover the whole vector, ADC ranks by distance-to-nearest-
    codeword — every vector coded to the query's own codeword sorts
    first (approx_dist == the query's own-cell distance, the minimum
    possible).  More usefully: approx distances are monotone in the
    codes, so equal codes ⇒ equal approx_dist (the quantization
    invariant that makes the code a valid shard/dedup key)."""
    from webarchive_indexing_spark.operators.similarity import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    rows = pq_adc_topk(emb, 77, k=50, n_sub=4, k_codes=8).collect()
    by_code = {}
    for r in rows:
        by_code.setdefault(r.code_key, set()).add(r.approx_dist)
    for code, dists in by_code.items():
        assert len(dists) == 1, f"code {code} maps to {dists}"


def test_kmeans_update_shuffles_centroids_not_vectors(spark, sf_dir):
    """Lloyd assignment must be map-only (inlined-literal argmin, no
    join) and the final aggregate must partial-aggregate map-side so
    the exchange carries k rows of sums, not vectors."""
    df = REGISTRY["emb_kmeans_lloyd"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:800]
    assert plan.count("HashAggregate") >= 2 or "partial_" in plan.lower()
    rows = df.collect()
    assert sum(r.n_members for r in rows) > 0
    assert all(r.inertia >= 0.0 for r in rows)


def test_kmeans_inertia_monotone_in_iterations(spark, sf_dir):
    """Lloyd's invariant: total inertia is non-increasing with more
    iterations (each assign and each update step can only lower the
    objective)."""
    from webarchive_indexing_spark.operators.kmeans import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    tot = {
        it: sum(r.inertia for r in kmeans_lloyd(emb, k=8, iters=it).collect())
        for it in (1, 2, 3)
    }
    # 1e-3 slack: per-cluster inertia is hround(4)-ed before summing
    assert tot[2] <= tot[1] + 1e-3, tot
    assert tot[3] <= tot[2] + 1e-3, tot


def test_kmeans_oracle_parity_any_iters(spark, sf_dir):
    """sql_kmeans_lloyd must compile AND match the Spark twin for
    iters beyond the default — the iters>=3 oracle referenced c.cvec
    against a long-form CTE and failed to bind (ADVICE r4 low); the
    list-form pivot fixes it for any depth."""
    import duckdb

    from webarchive_indexing_spark.operators.kmeans import (
        kmeans_lloyd,
        sql_kmeans_lloyd,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    for iters in (1, 3):
        got = sorted(
            (r.cid, r.n_members, r.inertia)
            for r in kmeans_lloyd(emb, k=8, iters=iters).collect()
        )
        want = sorted(
            (int(c), int(n), float(i))
            for c, n, i in con.execute(sql_kmeans_lloyd(8, iters)).fetchall()
        )
        assert got == want, f"iters={iters}"


def test_seed_vectors_reject_non_contiguous_ids(spark, sf_dir):
    """collect_seed_vectors must fail loudly when the id space is not
    0..n-1 (filtered corpus) instead of KeyError-ing downstream or
    silently training on fewer centroids (ADVICE r4 low)."""
    import pytest as _pytest

    from webarchive_indexing_spark.operators.similarity import (
        collect_seed_vectors,
    )
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    holey = emb.filter(F.col("vec_id") != 3)
    with _pytest.raises(ValueError, match="not contiguous"):
        collect_seed_vectors(holey, 8)
    # intact corpus still seeds fine
    assert len(collect_seed_vectors(emb, 8)) == 8


def test_power_iteration_energy_monotone(spark, sf_dir):
    """Power iteration maximizes the captured energy Σ(x·v)² over unit
    directions, so more iterations can only increase it (up to the
    6-dp score rounding)."""
    from webarchive_indexing_spark.operators.pca import power_iteration_scores

    emb = load_table(spark, sf_dir, "embeddings")
    energy = {}
    for it in (1, 2, 3):
        rows = power_iteration_scores(emb, iters=it).collect()
        energy[it] = sum(r.pc1_score ** 2 for r in rows)
    assert energy[2] >= energy[1] - 1e-3, energy
    assert energy[3] >= energy[2] - 1e-3, energy


def test_ivf_pq_zero_shuffle_and_probe_prunes(spark, sf_dir):
    """The composed IVF+PQ query must stay shuffle-free (both model
    artifacts inlined) and actually prune: every returned row's cell
    is one of the nprobe probed cells."""
    df = REGISTRY["emb_ivf_pq_topk"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "TakeOrderedAndProject" in plan
    rows = df.collect()
    assert 0 < len(rows) <= 10
    assert len({r.cell for r in rows}) <= 4
    assert all(r.vec_id != 55 for r in rows)


def test_chunk_sliding_tiles_reconstruct_documents(spark, sf_dir):
    """Sliding chunks must tile: taking the first `stride` tokens of
    every chunk except the last, then the whole last chunk, rebuilds
    each document's token stream exactly (no token lost or duplicated
    at window boundaries)."""
    from pyspark.sql import functions as F

    W, S = 32, 24
    docs = {
        r.doc_id: r.text.split(" ")
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .collect()
    }
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    n_chunks = F.when(n_tok <= W, F.lit(1)).otherwise(
        F.ceil((n_tok - F.lit(W)).cast("double") / S) + 1
    )
    fan = d.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias("ci"),
    ).select(
        "doc_id", "ci", F.slice(F.col("toks"), F.col("ci") * S + 1, W).alias("chunk")
    )
    got: dict[int, dict[int, list[str]]] = {}
    for r in fan.collect():
        got.setdefault(r.doc_id, {})[r.ci] = list(r.chunk)
    for doc_id, chunks in got.items():
        last = max(chunks)
        rebuilt: list[str] = []
        for i in range(last):
            rebuilt.extend(chunks[i][:S])
        rebuilt.extend(chunks[last])
        assert rebuilt == docs[doc_id], doc_id


def test_pagerank_mass_conservation(spark, sf_dir):
    """With every node holding out-links (no dangling mass), damped
    PageRank conserves total rank at 1 each iteration."""
    rows = REGISTRY["graph_pagerank_iterations"].fn(spark, sf_dir).collect()
    total = sum(r.rank for r in rows)
    assert abs(total - 1.0) < 1e-4, total
    assert all(r.rank > 0 for r in rows)


def test_weighted_priority_favors_heavy_docs(spark, sf_dir):
    """Efraimidis-Spirakis correctness signal: the weighted sample's
    mean weight must exceed the corpus mean (heavier docs are
    proportionally likelier), and the plan must be a scan +
    TakeOrderedAndProject (no shuffle)."""
    from pyspark.sql import functions as F

    df = REGISTRY["sample_weighted_priority"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    sample_mean = df.agg(F.avg("weight")).collect()[0][0]
    corpus_mean = (
        load_table(spark, sf_dir, "documents").agg(F.avg("n_chars")).collect()[0][0]
    )
    assert sample_mean > corpus_mean, (sample_mean, corpus_mean)


def test_ivf_sampled_training_recall(spark, sf_dir):
    """train_frac: Lloyd trains on the deterministic salted-hash half
    of the corpus; the sampled-quantizer index must still retrieve
    most of what the full-train twin retrieves (recall@10 — fully
    deterministic here: fixed data, salted-hash sample, exact-decimal
    training), and the sampler itself must quantize/reject cleanly."""
    import pytest

    from webarchive_indexing_spark.operators.kmeans import train_sample_mod
    from webarchive_indexing_spark.operators.similarity import ivf_trained_topk
    from webarchive_indexing_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    kw = dict(query_vec_id=123, k=10, n_cents=8, nprobe=3, train_iters=3)
    full = {r.vec_id for r in ivf_trained_topk(emb, **kw).collect()}
    samp = {
        r.vec_id
        for r in ivf_trained_topk(emb, train_frac=0.5, **kw).collect()
    }
    assert len(full) == len(samp) == 10
    assert len(full & samp) >= 5  # deterministic: measured 6/10

    assert train_sample_mod(0.5) == 2
    assert train_sample_mod(1.0) == 1
    assert train_sample_mod(0.33) == 3
    with pytest.raises(ValueError):
        train_sample_mod(0.0)
    with pytest.raises(ValueError):
        train_sample_mod(1.5)


def test_banded_rewrites_equal_naive_joins(spark, sf_dir):
    """The banded range-join rewrites are semantics-preserving: the
    engine's banded plans equal the naive unbanded joins row-for-row
    at sf0.001 (this pin moved out of the DuckDB oracles in round 6 so
    the oracle twins stay bounded on perturbed replica scales)."""
    from webarchive_indexing_spark.queries.relational import (
        join_range_banded,
        join_theta_range,
    )
    from webarchive_indexing_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    a, b = ev.alias("a"), ev.alias("b")

    naive_theta = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_id") < F.col("b.event_id"))
            & ((F.col("b.us") - F.col("a.us")).between(0, 60_000_000)),
        )
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    assert sorted(map(tuple, join_theta_range(spark, sf_dir).collect())) == sorted(
        map(tuple, naive_theta.collect())
    )

    naive_range = (
        a.join(
            b,
            (F.col("a.event_id") != F.col("b.event_id"))
            & ((F.col("b.us") - F.col("a.us")).between(0, 5_000_000)),
        )
        .groupBy(
            F.floor(F.col("a.us") / 3_600_000_000).cast("bigint").alias("hour_bucket")
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    assert sorted(map(tuple, join_range_banded(spark, sf_dir).collect())) == sorted(
        map(tuple, naive_range.collect())
    )


def test_lang_id_hashed_beats_stopword_baseline(spark, sf_dir):
    """The trained hashed-BoW lang-id must beat the stopword
    baseline's accuracy on the labeled corpus.  The synthetic lang
    column is label-only (shared vocabulary — the raw-text ceiling IS
    the majority class, which the stopword voter achieves), so the
    fixture plants one deterministic marker token per doc; the
    trained model must recover it among the 31 shared tokens, which
    the stopword lists structurally cannot."""
    _ensure_loaded()

    def accuracy(name):
        rows = REGISTRY[name].fn(spark, sf_dir).collect()
        total = sum(r["n"] for r in rows)
        right = sum(r["n"] for r in rows if r["lang"] == r["guess"])
        return right / total

    hashed = accuracy("text_lang_id_hashed")
    stopword = accuracy("text_lang_guess")
    assert hashed > stopword, (hashed, stopword)
    assert hashed > 0.95, hashed  # planted signal: near-perfect recovery


def test_persisted_ivf_append_equals_in_memory_probe(spark, sf_dir):
    """Incremental index maintenance: build the store from half the
    vectors, append the other half with the STORED quantizer, and the
    store's probe must equal the in-memory probe over the full corpus
    with the same centroid artifact — append changes storage, never
    the answer.  Appending must not touch existing files' cells
    (assignment uses the stored centroids, not a retrain)."""
    import tempfile

    from pyspark.sql import functions as F

    from webarchive_indexing_spark.operators.similarity import (
        collect_query_vector,
        ivf_probe_topk,
    )
    from webarchive_indexing_spark.sinks.ann_index import (
        append_ivf_index,
        ivf_index_probe_topk,
        read_ivf_centroids,
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # split must keep seed ids 0..n_cents-1 in the build half
    first = emb.filter(F.col("vec_id") < 200)
    rest = emb.filter(F.col("vec_id") >= 200)
    out = tempfile.mkdtemp(prefix="ivf_append_")
    write_ivf_index(first, out, n_cents=8, train_iters=2)
    append_ivf_index(rest, out)

    cents = read_ivf_centroids(out)
    qv = collect_query_vector(emb, 123)
    got = ivf_index_probe_topk(
        spark, out, qv, k=10, nprobe=3, exclude_id=123
    ).collect()
    want = ivf_probe_topk(
        emb, cents, 123, k=10, nprobe=3, qv=qv
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) == 10


def test_persisted_ivf_compact_one_file_per_cell(spark, sf_dir):
    """Store compaction folds each appended inverted list to one file
    and changes NO probe answer (the quantizer is untouched)."""
    import glob
    import os
    import tempfile

    from pyspark.sql import functions as F

    from webarchive_indexing_spark.operators.similarity import (
        collect_query_vector,
    )
    from webarchive_indexing_spark.sinks.ann_index import (
        append_ivf_index,
        compact_ivf_index,
        ivf_index_probe_topk,
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivf_compact_")
    write_ivf_index(emb.filter(F.col("vec_id") < 200), out, n_cents=8)
    append_ivf_index(emb.filter(F.col("vec_id") >= 200), out)
    qv = collect_query_vector(emb, 123)
    before = [
        tuple(r)
        for r in ivf_index_probe_topk(
            spark, out, qv, k=10, nprobe=3, exclude_id=123
        ).collect()
    ]
    compact_ivf_index(spark, out)
    cells = glob.glob(os.path.join(out, "vectors", "cell=*"))
    assert cells
    for c in cells:
        files = [f for f in os.listdir(c) if f.endswith(".parquet")]
        assert len(files) == 1, (c, files)
    after = [
        tuple(r)
        for r in ivf_index_probe_topk(
            spark, out, qv, k=10, nprobe=3, exclude_id=123
        ).collect()
    ]
    assert after == before


def test_ann_delete_tombstone_purge_and_replay(spark, sf_dir):
    """The ANN delete contract end to end: (1) a deleted id never
    appears in top-k at ANY nprobe while merely tombstoned; (2)
    compaction makes the purge PHYSICAL — the id is gone from the
    store's parquet rows and the tombstone dir is cleared; (3) replay
    is idempotent — re-filing the same tombstone over the purged store
    changes nothing (the crash-between-swap-and-clear window)."""
    import glob
    import os
    import tempfile

    from webarchive_indexing_spark.operators.similarity import (
        collect_query_vector,
    )
    from webarchive_indexing_spark.sinks.ann_index import (
        compact_ivf_index,
        delete_from_ann_index,
        ivf_index_probe_topk,
        read_ann_tombstones,
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivf_del_")
    write_ivf_index(emb, out, n_cents=8, train_iters=2)
    qv = collect_query_vector(emb, 123)

    pre = ivf_index_probe_topk(
        spark, out, qv, k=10, nprobe=3, exclude_id=123
    ).collect()
    victim = pre[0].vec_id  # provably served before the delete
    delete_from_ann_index(out, [victim])
    assert read_ann_tombstones(out) == {victim}

    for nprobe in (1, 3, 8):
        got = ivf_index_probe_topk(
            spark, out, qv, k=10, nprobe=nprobe, exclude_id=123
        ).collect()
        assert victim not in {r.vec_id for r in got}, nprobe

    post = ivf_index_probe_topk(
        spark, out, qv, k=10, nprobe=3, exclude_id=123
    ).collect()
    compact_ivf_index(spark, out)
    # physical purge: the id is out of the parquet rows, not just hidden
    left = spark.read.parquet(os.path.join(out, "vectors"))
    assert left.filter(left.vec_id == victim).count() == 0
    assert read_ann_tombstones(out) == set()
    assert not glob.glob(os.path.join(out, "tombstones", "*"))
    # replay idempotency: the same tombstone over the purged store is
    # a no-op for probes and for a second compaction
    delete_from_ann_index(out, [victim])
    again = ivf_index_probe_topk(
        spark, out, qv, k=10, nprobe=3, exclude_id=123
    ).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in post]
    compact_ivf_index(spark, out)
    assert [
        tuple(r)
        for r in ivf_index_probe_topk(
            spark, out, qv, k=10, nprobe=3, exclude_id=123
        ).collect()
    ] == [tuple(r) for r in post]


def test_persisted_ivfpq_matches_in_query_residual(spark, sf_dir):
    """The PQ-coded store hash-matches the in-query residual-IVFADC
    twin row for row (persistence changes storage bytes, never the
    answer), deletes apply to the codes store through the same
    tombstone path, and compaction purges them physically."""
    import os
    import tempfile

    from webarchive_indexing_spark.operators.similarity import (
        collect_query_vector,
        ivfadc_residual_topk,
    )
    from webarchive_indexing_spark.sinks.ann_index import (
        compact_ivf_index,
        delete_from_ann_index,
        ivfpq_index_probe_topk,
        write_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivfpq_")
    write_ivfpq_index(emb, out, n_cells=8, n_sub=4, k_codes=8, train_iters=2)
    qv = collect_query_vector(emb, 77)

    got = ivfpq_index_probe_topk(
        spark, out, qv, k=10, nprobe=3, exclude_id=77
    ).collect()
    want = ivfadc_residual_topk(
        emb, 77, k=10, n_cells=8, nprobe=3, n_sub=4, k_codes=8, train_iters=2
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]

    victim = got[0].vec_id
    delete_from_ann_index(out, [victim])
    after = ivfpq_index_probe_topk(
        spark, out, qv, k=10, nprobe=3, exclude_id=77
    ).collect()
    assert victim not in {r.vec_id for r in after}
    compact_ivf_index(spark, out, subdir="codes")
    codes = spark.read.parquet(os.path.join(out, "codes"))
    assert codes.filter(codes.vec_id == victim).count() == 0
    still = ivfpq_index_probe_topk(
        spark, out, qv, k=10, nprobe=3, exclude_id=77
    ).collect()
    assert [tuple(r) for r in still] == [tuple(r) for r in after]


def test_quality_classifier_trained_beats_majority(spark, sf_dir):
    """The relationally-trained GLM must actually LEARN: its accuracy
    against the quality-gate label strictly exceeds the majority
    class (an all-positive-feature model plateaus exactly AT majority
    — the deficit features exist so negative weights can separate),
    and the trained weights moved off the zero init with negative
    mass on the deficit features."""
    from webarchive_indexing_spark.registry import REGISTRY

    df = REGISTRY["quality_classifier_trained"].fn(spark, sf_dir)
    rows = df.collect()
    n = len(rows)
    majority = max(
        sum(1 for r in rows if r.label == 1),
        sum(1 for r in rows if r.label == 0),
    ) / n
    acc = sum(1 for r in rows if bool(r.label) == r.pred) / n
    assert acc > majority, (acc, majority)
    assert {r.pred for r in rows} == {True, False}  # not one-class


def test_bpe_byte_level_guarantee(spark, sf_dir):
    """Byte-level BPE's defining property: NO out-of-alphabet
    fallback — every symbol decodes (no -1 ids) on text with
    contractions, punctuation, digits and multi-byte UTF-8 — and the
    learned merges actually compress (fewer tokens than raw bytes)."""
    from pyspark.sql import functions as F

    from webarchive_indexing_spark.operators.bpe import (
        bpe_encode_bytes,
        bpe_learn_merges_bytes,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" Don't—naïve café, 123!")).alias("text"),
    )
    merges = [
        (r["lhs"], r["rhs"])
        for r in bpe_learn_merges_bytes(d, n_merges=4).collect()
    ]
    assert len(merges) == 4
    enc = bpe_encode_bytes(d, merges)
    raw_bytes = d.select(
        "doc_id", F.octet_length("text").alias("nb")
    )
    j = enc.join(raw_bytes, "doc_id").collect()
    assert j
    for r in j:
        ids = r.ids.split("-")
        assert "-1" not in ids, r.doc_id  # byte-level: nothing unknown
        assert int(r.n_tokens) < r.nb, r.doc_id  # merges compress
        # every id is a valid byte or merge id
        assert all(0 <= int(i) <= 255 + len(merges) for i in ids)


def test_persisted_ivfpq_append_uses_stored_model(spark, sf_dir):
    """PQ-store append parity with the flat store: append encodes new
    vectors with the STORED quantizer + codebooks (never a retrain),
    so a probe over build-half + append-half equals the same
    residual-ADC algebra computed in-memory from that stored model
    over the full corpus — append changes storage, never scores."""
    import tempfile

    from pyspark.sql import functions as F

    from webarchive_indexing_spark.operators.similarity import (
        collect_query_vector,
        nearest_sqdist6_expr,
        py_sqdist6,
        residual_adc_expr,
        residual_codeword_tables,
        residual_encode_exprs,
        residual_query_tables,
    )
    from webarchive_indexing_spark.sinks.ann_index import (
        append_ivfpq_index,
        ivfpq_index_probe_topk,
        read_ivfpq_model,
        write_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivfpq_append_")
    write_ivfpq_index(
        emb.filter(F.col("vec_id") < 200), out,
        n_cells=8, n_sub=4, k_codes=8, train_iters=2,
    )
    append_ivfpq_index(emb.filter(F.col("vec_id") >= 200), out)

    qv = collect_query_vector(emb, 77)
    got = [
        tuple(r)
        for r in ivfpq_index_probe_topk(
            spark, out, qv, k=10, nprobe=3, exclude_id=77
        ).collect()
    ]

    # in-memory twin from the STORED model over the full corpus
    cents, cbooks, meta = read_ivfpq_model(out)
    sub_dim = meta["dim"] // meta["n_sub"]
    probe = sorted(cents, key=lambda c: (py_sqdist6(qv, cents[c]), c))[:3]
    ct = residual_codeword_tables(cents, cbooks)
    qd = residual_query_tables(cents, cbooks, qv)
    cell = nearest_sqdist6_expr("embedding", cents, id_field="cid")
    want_df = (
        emb.filter(F.col("vec_id") != 77)
        .select("vec_id", cell.getField("cid").alias("cell"), "embedding")
        .filter(F.col("cell").isin(probe))
        .selectExpr(
            "vec_id", "cell", *residual_encode_exprs(ct, "embedding", sub_dim)
        )
        .selectExpr(
            "vec_id", "cell", residual_adc_expr(qd) + " AS approx_dist"
        )
        .orderBy(F.col("approx_dist").asc(), F.col("vec_id").asc())
        .limit(10)
    )
    want = [tuple(r) for r in want_df.collect()]
    assert got == want
    # the append really covers the second half
    all_ids = spark.read.parquet(f"{out}/codes").count()
    assert all_ids == emb.count()


def test_ivfpq_refine_improves_recall(spark, sf_dir):
    """The refine stage's accuracy claim: refined top-k is exactly the
    brute-force cosine order RESTRICTED to the ADC candidate set, and
    its recall against true brute force matches or beats the raw ADC
    top-k (over-fetch + exact re-rank can only help)."""
    import tempfile

    from webarchive_indexing_spark.operators.similarity import (
        collect_query_vector,
        cosine_topk,
    )
    from webarchive_indexing_spark.sinks.ann_index import (
        ivfpq_index_probe_topk,
        ivfpq_refined_topk,
        write_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivfpq_ref_t_")
    write_ivfpq_index(emb, out, n_cells=8, n_sub=4, k_codes=8, train_iters=2)
    qv = collect_query_vector(emb, 77)

    exact = [r.vec_id for r in cosine_topk(emb, 77, k=10).collect()]
    adc = [
        r.vec_id
        for r in ivfpq_index_probe_topk(
            spark, out, qv, k=10, nprobe=3, exclude_id=77
        ).collect()
    ]
    refined_rows = ivfpq_refined_topk(
        spark, out, emb, qv, k=10, k_factor=4, nprobe=3, exclude_id=77
    ).collect()
    refined = [r.vec_id for r in refined_rows]

    # definition: exact-cosine order of the candidate set
    cand = {
        r.vec_id
        for r in ivfpq_index_probe_topk(
            spark, out, qv, k=40, nprobe=3, exclude_id=77
        ).collect()
    }
    brute = cosine_topk(emb, 77, k=emb.count()).collect()
    expect = [r.vec_id for r in brute if r.vec_id in cand][:10]
    assert refined == expect

    r_adc = len(set(adc) & set(exact))
    r_ref = len(set(refined) & set(exact))
    assert r_ref >= r_adc, (r_ref, r_adc)
    # absolute recall at (nprobe=3, k_factor=4) is a property of the
    # quantizer + over-fetch budget, not the operator — but probing
    # EVERY cell with a candidate budget covering the corpus makes
    # the candidate set the whole corpus, where refine must reproduce
    # brute force exactly (the PQ approximation fully corrected)
    budget = (emb.count() // 10) + 1
    full = [
        r.vec_id
        for r in ivfpq_refined_topk(
            spark, out, emb, qv, k=10, k_factor=budget, nprobe=8,
            exclude_id=77,
        ).collect()
    ]
    assert full == exact


def test_ann_compact_preserves_mid_compaction_tombstones(
    spark, sf_dir, monkeypatch
):
    """Deletes filed WHILE a compaction's rewrite job runs were not
    folded into that rewrite, so compaction must leave their batch
    files behind (to be honored by probes and the next compaction) —
    clearing the whole tombstone dir would silently resurrect a
    taken-down vector.  Simulated by filing a second batch from
    inside the compaction's own tombstone read."""
    import glob
    import os
    import tempfile

    from webarchive_indexing_spark.operators.similarity import (
        collect_query_vector,
    )
    from webarchive_indexing_spark.sinks import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivf_race_")
    ann_index.write_ivf_index(emb, out, n_cents=8, train_iters=2)
    qv = collect_query_vector(emb, 123)
    pre = ann_index.ivf_index_probe_topk(
        spark, out, qv, k=10, nprobe=3, exclude_id=123
    ).collect()
    first, second = pre[0].vec_id, pre[1].vec_id
    ann_index.delete_from_ann_index(out, [first])

    real = ann_index._read_ann_tombstone_files

    def race(d):
        res = real(d)
        # a concurrent taker files a delete between the compaction's
        # tombstone read and its rewrite landing
        ann_index.delete_from_ann_index(d, [second])
        return res

    monkeypatch.setattr(ann_index, "_read_ann_tombstone_files", race)
    ann_index.compact_ivf_index(spark, out)
    monkeypatch.undo()

    # the pre-read batch was applied (physical purge) and cleared;
    # the mid-compaction batch SURVIVES as a file and keeps hiding
    # its id from probes even though the row is still in the store
    vecs = spark.read.parquet(os.path.join(out, "vectors"))
    assert vecs.filter(vecs.vec_id == first).count() == 0
    assert vecs.filter(vecs.vec_id == second).count() == 1
    assert len(glob.glob(os.path.join(out, "tombstones", "*.json"))) == 1
    assert ann_index.read_ann_tombstones(out) == {second}
    got = ann_index.ivf_index_probe_topk(
        spark, out, qv, k=10, nprobe=8, exclude_id=123
    ).collect()
    assert {first, second}.isdisjoint({r.vec_id for r in got})
    # the survivor is honored by the NEXT compaction
    ann_index.compact_ivf_index(spark, out)
    vecs = spark.read.parquet(os.path.join(out, "vectors"))
    assert vecs.filter(vecs.vec_id == second).count() == 0
    assert ann_index.read_ann_tombstones(out) == set()


def test_ann_delete_batches_never_clobber(sf_dir):
    """Batch files are uuid-named: filing the same ids twice in a row
    (the degenerate form of two concurrent callers observing the same
    directory state) yields two distinct files, never an overwrite."""
    import glob
    import os
    import tempfile

    from webarchive_indexing_spark.sinks.ann_index import (
        delete_from_ann_index,
        read_ann_tombstones,
    )

    out = tempfile.mkdtemp(prefix="ivf_names_")
    delete_from_ann_index(out, [1, 2])
    delete_from_ann_index(out, [1, 2])
    delete_from_ann_index(out, [3])
    assert len(glob.glob(os.path.join(out, "tombstones", "*.json"))) == 3
    assert read_ann_tombstones(out) == {1, 2, 3}


def test_ann_tombstone_guard_switches_to_anti_join(
    spark, sf_dir, monkeypatch
):
    """Past TOMBSTONE_ISIN_MAX ids the probe's exclusion switches from
    an isin scan-literal to a broadcast LEFT ANTI join (with a
    compact-first warning) — the compaction contract made
    self-enforcing: a caller who never compacts gets a slower but
    still-correct plan instead of a mega-literal predicate.  Answers
    must be identical on both sides of the threshold.  The plans are
    the Spark path's (driver-read bound 0); the driver read, which
    drops tombstones in Python, gives the same rows on both sides."""
    import tempfile
    import warnings

    from webarchive_indexing_spark.operators.similarity import (
        collect_query_vector,
    )
    from webarchive_indexing_spark.sinks import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivf_guard_")
    ann_index.write_ivf_index(emb, out, n_cents=8, train_iters=2)
    qv = collect_query_vector(emb, 123)
    pre = ann_index.ivf_index_probe_topk(
        spark, out, qv, k=10, nprobe=3, exclude_id=123
    ).collect()
    victims = [pre[0].vec_id, pre[1].vec_id]
    # pad with ids that don't exist in the corpus: the exclusion set
    # crosses the threshold without changing which rows survive
    ann_index.delete_from_ann_index(
        out, victims + list(range(10_000_000, 10_000_004))
    )

    def spark_path(call):
        with monkeypatch.context() as m:
            m.setattr(ann_index, "_driver_read_bytes", lambda _spark: 0)
            return call()

    def probe():
        return ann_index.ivf_index_probe_topk(
            spark, out, qv, k=10, nprobe=3, exclude_id=123
        )

    below = spark_path(probe)
    assert probe().collect() == below.collect()
    assert "isin" in below._jdf.queryExecution().executedPlan().toString().lower() or (
        "IN (" in below._jdf.queryExecution().executedPlan().toString()
    )

    monkeypatch.setattr(ann_index, "TOMBSTONE_ISIN_MAX", 3)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        above = spark_path(probe)
        plan = above._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        rows_above = above.collect()
    assert any("compact_ivf_index" in str(w.message) for w in caught)
    assert [tuple(r) for r in rows_above] == [tuple(r) for r in below.collect()]
    assert {r.vec_id for r in rows_above}.isdisjoint(set(victims))
    assert probe().collect() == rows_above

    # the PQ probe shares the guard
    out2 = tempfile.mkdtemp(prefix="ivfpq_guard_")
    ann_index.write_ivfpq_index(
        emb, out2, n_cells=8, n_sub=4, k_codes=8, train_iters=2
    )
    qv2 = collect_query_vector(emb, 77)
    monkeypatch.setattr(ann_index, "TOMBSTONE_ISIN_MAX", 10_000)
    base = ann_index.ivfpq_index_probe_topk(
        spark, out2, qv2, k=10, nprobe=3, exclude_id=77
    ).collect()
    tgt = base[0].vec_id
    ann_index.delete_from_ann_index(out2, [tgt, 10_000_000, 10_000_001])
    monkeypatch.setattr(ann_index, "TOMBSTONE_ISIN_MAX", 2)
    with warnings.catch_warnings(record=True):
        warnings.simplefilter("always")
        def probe2():
            return ann_index.ivfpq_index_probe_topk(
                spark, out2, qv2, k=10, nprobe=3, exclude_id=77
            )

        got = spark_path(probe2)
        plan2 = got._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan2 and "LeftAnti" in plan2
        rows2 = got.collect()
        assert tgt not in {r.vec_id for r in rows2}
        assert probe2().collect() == rows2


def test_ann_batch_probe_equals_per_request_loop(spark, sf_dir):
    """The batch probe's rows per request must equal the one-at-a-time
    probe verbatim — amortization changes the job count, never the
    answer — including under tombstones, which apply once scan-side
    for every request."""
    import tempfile

    from webarchive_indexing_spark.sinks.ann_index import (
        delete_from_ann_index,
        ivfpq_index_probe_batch_topk,
        ivfpq_index_probe_topk,
        write_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivfpq_batchtw_")
    write_ivfpq_index(emb, out, n_cells=8, n_sub=4, k_codes=8, train_iters=2)
    qids = [77, 123, 55, 321]
    vecs = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }

    def loop():
        rows = []
        for i, q in enumerate(qids):
            for r in ivfpq_index_probe_topk(
                spark, out, vecs[q], k=7, nprobe=3, exclude_id=q
            ).collect():
                rows.append((i, r.vec_id, r.cell, r.approx_dist))
        return sorted(rows)

    got = ivfpq_index_probe_batch_topk(
        spark, out, [vecs[q] for q in qids], k=7, nprobe=3,
        exclude_ids=qids,
    )
    assert sorted(map(tuple, got.collect())) == loop()

    # tombstones hide ids from every request in the batch too
    victim = loop()[0][1]
    delete_from_ann_index(out, [victim])
    got2 = ivfpq_index_probe_batch_topk(
        spark, out, [vecs[q] for q in qids], k=7, nprobe=3,
        exclude_ids=qids,
    ).collect()
    assert victim not in {r.vec_id for r in got2}
    assert sorted(map(tuple, got2)) == loop()


def test_refine_sidecar_matches_corpus_and_compacts(spark, sf_dir):
    """The flat refine sidecar: (1) store-resident re-rank equals the
    corpus-table re-rank verbatim; (2) append keeps the sidecar in
    step with the codes (appended vectors are refinable); (3)
    compacting the codes of a sidecar-carrying store purges tombstoned
    ids from BOTH payloads before clearing the tombstone list."""
    import os
    import tempfile

    from webarchive_indexing_spark.operators.similarity import (
        collect_query_vector,
    )
    from webarchive_indexing_spark.sinks.ann_index import (
        append_ivfpq_index,
        compact_ivf_index,
        delete_from_ann_index,
        ivfpq_refined_topk,
        read_ann_tombstones,
        write_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    head = emb.filter(F.col("vec_id") < 400)
    tail = emb.filter(F.col("vec_id") >= 400)
    out = tempfile.mkdtemp(prefix="ivfpq_sidecar_")
    write_ivfpq_index(
        head, out, n_cells=8, n_sub=4, k_codes=8, train_iters=2,
        refine="flat",
    )
    qv = collect_query_vector(emb, 77)

    got = ivfpq_refined_topk(
        spark, out, None, qv, k=10, k_factor=4, nprobe=3, exclude_id=77
    ).collect()
    want = ivfpq_refined_topk(
        spark, out, head, qv, k=10, k_factor=4, nprobe=3, exclude_id=77
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]

    # append lands in BOTH payloads: refine over the grown store equals
    # refine against the full external corpus
    append_ivfpq_index(tail, out)
    side = spark.read.parquet(os.path.join(out, "refine"))
    assert side.count() == emb.count()
    got2 = ivfpq_refined_topk(
        spark, out, None, qv, k=10, k_factor=4, nprobe=3, exclude_id=77
    ).collect()
    want2 = ivfpq_refined_topk(
        spark, out, emb, qv, k=10, k_factor=4, nprobe=3, exclude_id=77
    ).collect()
    assert [tuple(r) for r in got2] == [tuple(r) for r in want2]

    # compaction purges the sidecar too, with the same tombstone set
    victim = got2[0].vec_id
    delete_from_ann_index(out, [victim])
    compact_ivf_index(spark, out, subdir="codes")
    assert read_ann_tombstones(out) == set()
    codes = spark.read.parquet(os.path.join(out, "codes"))
    side = spark.read.parquet(os.path.join(out, "refine"))
    assert codes.filter(codes.vec_id == victim).count() == 0
    assert side.filter(side.vec_id == victim).count() == 0
    assert victim not in {
        r.vec_id
        for r in ivfpq_refined_topk(
            spark, out, None, qv, k=10, k_factor=4, nprobe=3,
            exclude_id=77,
        ).collect()
    }


def test_refine_int8_sidecar_roundtrip(spark, sf_dir):
    """The int8 sidecar re-ranks on dequantized vectors: the result
    must equal computing the same quantize→dequantize→cosine chain
    against the corpus table directly (the sidecar stores the codes
    exactly), and missing-sidecar probes fail loudly."""
    import tempfile

    import pytest as _pytest

    from webarchive_indexing_spark.operators.similarity import (
        collect_query_vector,
        cosine,
        lit_double_array,
    )
    from webarchive_indexing_spark.queries.helpers import hround
    from webarchive_indexing_spark.sinks.ann_index import (
        ivfpq_index_probe_topk,
        ivfpq_refined_topk,
        write_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivfpq_int8_")
    write_ivfpq_index(
        emb, out, n_cells=8, n_sub=4, k_codes=8, train_iters=2,
        refine="int8",
    )
    qv = collect_query_vector(emb, 77)
    got = ivfpq_refined_topk(
        spark, out, None, qv, k=10, k_factor=4, nprobe=3, exclude_id=77
    ).collect()

    cand = ivfpq_index_probe_topk(
        spark, out, qv, k=40, nprobe=3, exclude_id=77
    )
    ids = [r.vec_id for r in cand.collect()]
    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    deq = emb.filter(F.col("vec_id").isin(ids)).select(
        "vec_id", xd.alias("_xd")
    ).select(
        "vec_id",
        F.array_max(F.transform(F.col("_xd"), F.abs)).alias("_s"),
        F.col("_xd"),
    ).select(
        "vec_id",
        F.transform(
            F.col("_xd"),
            lambda x: F.floor(x / F.col("_s") * 127 + F.lit(0.5)).cast(
                "double"
            )
            * F.col("_s")
            / F.lit(127.0),
        ).alias("_deq"),
    )
    want = (
        deq.select(
            "vec_id",
            hround(cosine(F.col("_deq"), lit_double_array(qv)), 6).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]

    out2 = tempfile.mkdtemp(prefix="ivfpq_noside_")
    write_ivfpq_index(emb, out2, n_cells=8, n_sub=4, k_codes=8, train_iters=2)
    with _pytest.raises(ValueError, match="no refine sidecar"):
        ivfpq_refined_topk(spark, out2, None, qv, k=10)


def test_ann_refined_batch_equals_per_request_loop(spark, sf_dir):
    """Batch+refine composition: per-request rows equal the
    one-at-a-time sidecar refine verbatim, including when a tombstone
    removes a candidate (exclusion happens in the shared ADC probe)."""
    import tempfile

    from webarchive_indexing_spark.sinks.ann_index import (
        delete_from_ann_index,
        ivfpq_refined_batch_topk,
        ivfpq_refined_topk,
        write_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivfpq_refbatch_tw_")
    write_ivfpq_index(
        emb, out, n_cells=8, n_sub=4, k_codes=8, train_iters=2,
        refine="flat",
    )
    qids = [77, 123, 55, 321]
    vecs = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }

    def loop():
        rows = []
        for i, q in enumerate(qids):
            for r in ivfpq_refined_topk(
                spark, out, None, vecs[q], k=6, k_factor=4, nprobe=3,
                exclude_id=q,
            ).collect():
                rows.append((i, r.vec_id, r.cos_sim))
        return sorted(rows)

    got = ivfpq_refined_batch_topk(
        spark, out, [vecs[q] for q in qids], k=6, k_factor=4, nprobe=3,
        exclude_ids=qids,
    )
    assert sorted(map(tuple, got.collect())) == loop()

    victim = loop()[0][1]
    delete_from_ann_index(out, [victim])
    got2 = ivfpq_refined_batch_topk(
        spark, out, [vecs[q] for q in qids], k=6, k_factor=4, nprobe=3,
        exclude_ids=qids,
    ).collect()
    assert victim not in {r.vec_id for r in got2}
    assert sorted(map(tuple, got2)) == loop()


def test_ivf_batch_probe_equals_per_request_loop(spark, sf_dir):
    """The flat and SQ8 stores' batch probe rows per request equal the
    one-at-a-time probe verbatim — exact-cosine twins of the PQ batch
    guarantee; the SQ8 batch also carries per-request ``wheres``."""
    import tempfile

    from webarchive_indexing_spark.sinks.ann_index import (
        ivf_index_probe_batch_topk,
        ivf_index_probe_topk,
        ivfsq_index_probe_batch_topk,
        ivfsq_index_probe_topk,
        write_ivf_index,
        write_ivfsq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    flat = tempfile.mkdtemp(prefix="ivf_batchtw_")
    write_ivf_index(emb, flat, n_cents=8, train_iters=2)
    sq = tempfile.mkdtemp(prefix="ivfsq_batchtw_")
    write_ivfsq_index(emb, sq, n_cents=8, train_iters=2, attrs=["label"])
    qids = [77, 123, 55, 321]
    vecs = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }
    cases = (
        (flat, ivf_index_probe_topk, ivf_index_probe_batch_topk, [None] * 4),
        (sq, ivfsq_index_probe_topk, ivfsq_index_probe_batch_topk,
         ["label = 0", None, "label <> 1", None]),
    )
    for out, single, batch, wheres in cases:
        want = sorted(
            (i, r.vec_id, r.cell, r.cos_sim)
            for i, q in enumerate(qids)
            for r in single(
                spark, out, vecs[q], k=7, nprobe=3, exclude_id=q,
                where=wheres[i],
            ).collect()
        )
        got = batch(
            spark, out, [vecs[q] for q in qids], k=7, nprobe=3,
            exclude_ids=qids, wheres=wheres,
        )
        assert sorted(map(tuple, got.collect())) == want, out


def test_versioned_ann_store_always_on(spark, sf_dir, monkeypatch):
    """Versioned stores close the compaction race the in-place writer
    documents: (1) a versioned root answers identically to a plain
    store; (2) compaction publishes a PURGED new version via one
    atomic pointer swap while the old version stays intact for
    in-flight readers; (3) tombstones live at the root, so a delete
    filed mid-compaction survives the swap and applies to the new
    version; (4) expire_store_versions retires only unpublished
    versions."""
    import os
    import tempfile

    from webarchive_indexing_spark.operators.similarity import (
        collect_query_vector,
    )
    from webarchive_indexing_spark.sinks import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="ivf_ver_")
    p1 = ann_index.write_ivf_index_versioned(
        emb, root, n_cents=8, train_iters=2
    )
    qv = collect_query_vector(emb, 123)

    def probe():
        return ann_index.ivf_index_probe_topk(
            spark, root, qv, k=10, nprobe=3, exclude_id=123
        ).collect()

    plain = tempfile.mkdtemp(prefix="ivf_plain_")
    ann_index.write_ivf_index(emb, plain, n_cents=8, train_iters=2)
    want = ann_index.ivf_index_probe_topk(
        spark, plain, qv, k=10, nprobe=3, exclude_id=123
    ).collect()
    base = probe()
    assert [tuple(r) for r in base] == [tuple(r) for r in want]

    victim = base[0].vec_id
    ann_index.delete_from_ann_index(root, [victim])
    hidden = probe()
    assert victim not in {r.vec_id for r in hidden}

    # the generic entry point delegates to the versioned rebuild
    ann_index.compact_ivf_index(spark, root)
    p2 = ann_index.resolve_store(root)
    assert p2 != p1
    old = spark.read.parquet(os.path.join(p1, "vectors"))
    assert old.filter(old.vec_id == victim).count() == 1  # reader-stable
    new = spark.read.parquet(os.path.join(p2, "vectors"))
    assert new.filter(new.vec_id == victim).count() == 0  # purged
    assert ann_index.read_ann_tombstones(root) == set()
    assert [tuple(r) for r in probe()] == [tuple(r) for r in hidden]

    # default housekeeping protects young (possibly in-flight) dirs;
    # min_age_s=0 models "all reader jobs drained"
    assert ann_index.expire_store_versions(root) == []
    gone = ann_index.expire_store_versions(root, min_age_s=0)
    assert gone == [os.path.basename(p1)]
    assert [tuple(r) for r in probe()] == [tuple(r) for r in hidden]
    # an unpublished just-created version (an in-flight build) is
    # never expired by default
    _name, building = ann_index.new_store_version(root)
    assert ann_index.expire_store_versions(root) == []
    assert os.path.isdir(building)

    # mid-compaction delete: filed between the rebuild's tombstone
    # read and the swap — must survive at the root and keep applying
    second = hidden[0].vec_id
    real = ann_index._read_ann_tombstone_files

    def race(d):
        res = real(d)
        ann_index.delete_from_ann_index(root, [second])
        return res

    monkeypatch.setattr(ann_index, "_read_ann_tombstone_files", race)
    ann_index.compact_ivf_index(spark, root)
    monkeypatch.undo()
    assert ann_index.read_ann_tombstones(root) == {second}
    assert second not in {r.vec_id for r in probe()}


def test_filtered_ann_probe_families(spark, sf_dir):
    """Round-12 filtered vector search across the store layouts:
    (1) the flat probe's where= equals the brute-force filtered
    ranking inside the probed cells; (2) the SQ8 store carries attrs
    and filters identically on dequantized ranking; (3) a uniform
    batch predicate (pushed scan-side) and heterogeneous per-request
    predicates both hash-match the one-at-a-time filtered loop;
    (4) SQ appends rediscover the stored attribute columns."""
    import tempfile

    from pyspark.sql import functions as F

    from webarchive_indexing_spark.operators.similarity import (
        collect_query_vector,
        cosine,
        ivf_probe_cells,
        lit_double_array,
    )
    from webarchive_indexing_spark.queries.helpers import hround
    from webarchive_indexing_spark.sinks import ann_index
    from webarchive_indexing_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qv = collect_query_vector(emb, 123)
    where = "label = 3"

    # (1) flat store: filtered probe == brute-force filtered ranking
    # within the probed cells
    flat = tempfile.mkdtemp(prefix="ivf_filt_flat_")
    cents = ann_index.write_ivf_index(emb, flat, n_cents=8, train_iters=2)
    got = ann_index.ivf_index_probe_topk(
        spark, flat, qv, k=10, nprobe=3, exclude_id=123, where=where
    ).collect()
    probe = ivf_probe_cells(cents, qv, 3)
    want = (
        spark.read.parquet(flat + "/vectors")
        .filter(F.col("cell").isin(probe))
        .filter(where)
        .filter(F.col("vec_id") != 123)
        .select(
            "vec_id",
            "cell",
            hround(cosine(F.col("embedding"), lit_double_array(qv)), 6).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert got and all(
        r.vec_id in {x.vec_id for x in want} for r in got
    )

    # (2) SQ8 store with attrs= carries the column and filters
    sq = tempfile.mkdtemp(prefix="ivf_filt_sq_")
    ann_index.write_ivfsq_index(
        emb, sq, n_cents=8, train_iters=2, attrs=["label"]
    )
    labels = {
        int(r.vec_id): int(r.label)
        for r in emb.select("vec_id", "label").collect()
    }
    sq_rows = ann_index.ivfsq_index_probe_topk(
        spark, sq, qv, k=10, nprobe=3, exclude_id=123, where=where
    ).collect()
    assert sq_rows and all(labels[r.vec_id] == 3 for r in sq_rows)
    unfiltered = ann_index.ivfsq_index_probe_topk(
        spark, sq, qv, k=10, nprobe=3, exclude_id=123
    ).collect()
    assert {r.vec_id for r in sq_rows} != {r.vec_id for r in unfiltered}

    # (4) append rediscovers attrs from the store schema
    extra = emb.filter(F.col("vec_id") < 0)  # empty, schema-compatible
    ann_index.append_ivfsq_index(extra, sq)
    assert "label" in spark.read.parquet(sq + "/sq").columns

    # (3) batch: uniform predicate (scan-side pushdown path) and
    # heterogeneous predicates both equal the one-at-a-time loop
    qids = [123, 77]
    vecs = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }
    for wheres in ([where, where], [where, "label IN (1, 5)"]):
        batch = ann_index.ivf_index_probe_batch_topk(
            spark, flat, [vecs[q] for q in qids], k=5, nprobe=3,
            exclude_ids=qids, wheres=wheres,
        ).collect()
        for i, q in enumerate(qids):
            single = ann_index.ivf_index_probe_topk(
                spark, flat, vecs[q], k=5, nprobe=3, exclude_id=q,
                where=wheres[i],
            ).collect()
            got_i = sorted(
                (r.vec_id, r.cell, r.cos_sim)
                for r in batch
                if r.request_no == i
            )
            assert got_i == sorted(
                (r.vec_id, r.cell, r.cos_sim) for r in single
            ), f"request {i} diverges under wheres={wheres}"


def test_expire_ann_versions_cli(spark):
    """The housekeeping CLI drives expire_store_versions: retired
    versions print and vanish, CURRENT and in-flight builds stay."""
    import os
    import tempfile

    from webarchive_indexing_spark.__main__ import main
    from webarchive_indexing_spark.sinks import ann_index

    root = tempfile.mkdtemp(prefix="ivf_cli_expire_")
    n1, p1 = ann_index.new_store_version(root)
    ann_index._publish_store_version(root, n1)
    n2, p2 = ann_index.new_store_version(root)
    ann_index._publish_store_version(root, n2)
    _n3, p3 = ann_index.new_store_version(root)  # in-flight build

    assert main(["expire-ann-versions", root, "--min-age-s", "0"]) == 0
    assert not os.path.isdir(p1)  # retired: expired
    assert os.path.isdir(p2)      # CURRENT: kept
    assert os.path.isdir(p3)      # BUILDING: kept


def test_opq_store_recall_and_append_rotation(spark, sf_dir):
    """Round-12 OPQ rung: (1) at the SAME code budget the OPQ-
    preconditioned store's aggregate recall over a query panel is >=
    the plain residual-PQ store's (energy compaction is the point);
    (2) appends rotate with the STORED reflector, so an appended
    twin of an existing vector is immediately retrievable next to it;
    (3) the reflector is orthogonal: rotated-space cosine equals
    raw-space cosine to the 6dp grain on a spot pair."""
    import tempfile

    from pyspark.sql import functions as F

    from webarchive_indexing_spark.operators.similarity import (
        collect_query_vector,
        cosine,
        lit_double_array,
    )
    from webarchive_indexing_spark.queries.helpers import hround
    from webarchive_indexing_spark.sinks import ann_index
    from webarchive_indexing_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    plain = tempfile.mkdtemp(prefix="pq_plain_")
    opq = tempfile.mkdtemp(prefix="pq_opq_")
    ann_index.write_ivfpq_index(
        emb, plain, n_cells=8, n_sub=4, k_codes=8, train_iters=2
    )
    ann_index.write_ivfpq_index(
        emb, opq, n_cells=8, n_sub=4, k_codes=8, train_iters=2,
        opq_iters=2,
    )
    qids = (77, 123, 55, 321, 9, 200)
    tot_plain = tot_opq = 0
    for qid in qids:
        qv = collect_query_vector(emb, qid)
        truth = {
            r.vec_id
            for r in emb.filter(F.col("vec_id") != qid)
            .select(
                "vec_id",
                hround(
                    cosine(F.col("embedding"), lit_double_array(qv)), 6
                ).alias("c"),
            )
            .orderBy(F.col("c").desc(), F.col("vec_id").asc())
            .limit(10)
            .collect()
        }
        got_p = {
            r.vec_id
            for r in ann_index.ivfpq_index_probe_topk(
                spark, plain, qv, k=10, nprobe=3, exclude_id=qid
            ).collect()
        }
        got_o = {
            r.vec_id
            for r in ann_index.ivfpq_index_probe_topk(
                spark, opq, qv, k=10, nprobe=3, exclude_id=qid
            ).collect()
        }
        tot_plain += len(got_p & truth)
        tot_opq += len(got_o & truth)
    assert tot_opq >= tot_plain, (tot_opq, tot_plain)

    # (2) append rotates with the stored reflector: a twin of vector
    # 321 under a fresh id must land where 321's neighborhood is
    twin = (
        emb.filter(F.col("vec_id") == 321)
        .select(
            (F.col("vec_id") * 0 + 990001).alias("vec_id"), "embedding",
            "label",
        )
    )
    ann_index.append_ivfpq_index(twin, opq)
    qv = collect_query_vector(emb, 321)
    got = ann_index.ivfpq_index_probe_topk(
        spark, opq, qv, k=3, nprobe=3, exclude_id=321
    ).collect()
    assert got[0].vec_id == 990001  # identical codes -> distance 0

    # (3) orthogonality: rotated cosine == raw cosine at the grain
    from webarchive_indexing_spark.operators.pca import (
        householder_k,
        py_rotate,
    )
    import json as _json
    import os as _os

    meta = _json.load(open(_os.path.join(opq, "pq.json")))
    u = [float(x) for x in meta["opq_u"]]
    k = householder_k(u)
    a = collect_query_vector(emb, 9)
    b = collect_query_vector(emb, 200)
    ra, rb = py_rotate(a, u, k), py_rotate(b, u, k)

    def pycos(x, y):
        import math
        d = sum(p * q for p, q in zip(x, y))
        return d / (math.sqrt(sum(p * p for p in x))
                    * math.sqrt(sum(q * q for q in y)))

    assert abs(pycos(a, b) - pycos(ra, rb)) < 1e-5


def test_expire_store_versions_guards():
    """Round-12 ADVICE hardening on housekeeping, no Spark needed:
    (1) an in-flight build is protected by its explicit BUILDING
    sentinel — mtime age is irrelevant, a build may run longer than
    any min_age_s; (2) publishing drops the sentinel, so a RETIRED
    version (superseded later) expires normally; (3) a CURRENT
    pointer that EXISTS but cannot be read aborts expiry instead of
    being treated as 'unversioned' (which would delete the published
    version)."""
    import os
    import tempfile

    import pytest as _pytest

    from webarchive_indexing_spark.sinks import ann_index

    root = tempfile.mkdtemp(prefix="ivf_expire_")

    # (1) unpublished build: sentinel present, survives min_age_s=0
    name1, p1 = ann_index.new_store_version(root)
    assert os.path.exists(os.path.join(p1, "BUILDING"))
    assert ann_index.expire_store_versions(root, min_age_s=0) == []
    assert os.path.isdir(p1)

    # (2) publish v1, then publish v2: v1 is retired (sentinel gone)
    # and expires under min_age_s=0; v2 is CURRENT and never expires
    ann_index._publish_store_version(root, name1)
    assert not os.path.exists(os.path.join(p1, "BUILDING"))
    name2, p2 = ann_index.new_store_version(root)
    ann_index._publish_store_version(root, name2)
    assert ann_index.expire_store_versions(root, min_age_s=0) == [name1]
    assert not os.path.isdir(p1) and os.path.isdir(p2)

    # ...but a fresh in-flight build alongside CURRENT still survives
    _name3, p3 = ann_index.new_store_version(root)
    assert ann_index.expire_store_versions(root, min_age_s=0) == []
    assert os.path.isdir(p3)

    # (3) CURRENT exists but is unreadable (simulated: a directory in
    # its place) -> abort loudly, delete nothing
    bad = tempfile.mkdtemp(prefix="ivf_badptr_")
    _name4, p4 = ann_index.new_store_version(bad)
    ann_index._publish_store_version(bad, _name4)
    os.remove(os.path.join(bad, "CURRENT"))
    os.mkdir(os.path.join(bad, "CURRENT"))
    with _pytest.raises(RuntimeError, match="could not be read"):
        ann_index.expire_store_versions(bad, min_age_s=0)
    assert os.path.isdir(p4)


def test_versioned_ivfpq_store_with_sidecar(spark, sf_dir):
    """The PQ store's versioned lifecycle: probes/refine resolve the
    pointer, versioned compaction rewrites BOTH payloads (codes +
    refine sidecar) into the new version with the model artifacts
    copied along."""
    import os
    import tempfile

    from webarchive_indexing_spark.operators.similarity import (
        collect_query_vector,
    )
    from webarchive_indexing_spark.sinks import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="ivfpq_ver_")
    ann_index.write_ivfpq_index_versioned(
        emb, root, n_cells=8, n_sub=4, k_codes=8, train_iters=2,
        refine="flat",
    )
    qv = collect_query_vector(emb, 77)
    base = ann_index.ivfpq_refined_topk(
        spark, root, None, qv, k=10, k_factor=4, nprobe=3, exclude_id=77
    ).collect()
    plain = tempfile.mkdtemp(prefix="ivfpq_plain_")
    ann_index.write_ivfpq_index(
        emb, plain, n_cells=8, n_sub=4, k_codes=8, train_iters=2,
        refine="flat",
    )
    want = ann_index.ivfpq_refined_topk(
        spark, plain, None, qv, k=10, k_factor=4, nprobe=3, exclude_id=77
    ).collect()
    assert [tuple(r) for r in base] == [tuple(r) for r in want]

    victim = base[0].vec_id
    ann_index.delete_from_ann_index(root, [victim])
    ann_index.compact_ivf_index(spark, root, subdir="codes")
    v = ann_index.resolve_store(root)
    for sd in ("codes", "refine"):
        df = spark.read.parquet(os.path.join(v, sd))
        assert df.filter(df.vec_id == victim).count() == 0, sd
    got = ann_index.ivfpq_refined_topk(
        spark, root, None, qv, k=10, k_factor=4, nprobe=3, exclude_id=77
    ).collect()
    assert victim not in {r.vec_id for r in got}


def test_ivfsq_store_smaller_and_recall_reasonable(spark, sf_dir):
    """The SQ8 ladder rung: the quantized store's data bytes land well
    under the flat store's (the ~4x story at fixture scale, parquet
    overheads included), and probing every cell recovers most of the
    exact top-k (quantization changes scores, not the neighborhood)."""
    import os
    import tempfile

    from webarchive_indexing_spark.operators.similarity import (
        collect_query_vector,
        cosine_topk,
    )
    from webarchive_indexing_spark.sinks import ann_index
    from webarchive_indexing_spark.sinks.ann_index import (
        ivfsq_index_probe_topk,
        write_ivf_index,
        write_ivfsq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    flat = tempfile.mkdtemp(prefix="ivf_flat_sz_")
    sq = tempfile.mkdtemp(prefix="ivfsq_sz_")
    write_ivf_index(emb, flat, n_cents=8, train_iters=2)
    write_ivfsq_index(emb, sq, n_cents=8, train_iters=2)

    def data_bytes(root, sub):
        total = 0
        for dirpath, _dirs, files in os.walk(os.path.join(root, sub)):
            total += sum(
                os.path.getsize(os.path.join(dirpath, f))
                for f in files
                if f.endswith(".parquet")
            )
        return total

    assert data_bytes(sq, "sq") < 0.6 * data_bytes(flat, "vectors")
    # store scans take the data schema from one footer, not an
    # inferring job; partition columns included, it is the same schema
    for store, sub in ((flat, "vectors"), (sq, "sq")):
        assert ann_index._store_scan(spark, store, sub).schema == (
            spark.read.parquet(f"{store}/{sub}").schema
        ), sub

    qv = collect_query_vector(emb, 123)
    got = {
        r.vec_id
        for r in ivfsq_index_probe_topk(
            spark, sq, qv, k=10, nprobe=8, exclude_id=123
        ).collect()
    }
    exact = {r.vec_id for r in cosine_topk(emb, 123, k=10).collect()}
    assert len(got & exact) >= 7, (got, exact)


def test_ivfsq_append_compact_and_versioned(spark, sf_dir):
    """The SQ8 store carries the family lifecycle: append encodes with
    the STORED model into the existing cells (probe equals the
    built-at-once store), tombstone + compact purges physically
    (subdir='sq'), and the versioned writer publishes behind the
    pointer with identical answers."""
    import os
    import tempfile

    from webarchive_indexing_spark.operators.similarity import (
        collect_query_vector,
    )
    from webarchive_indexing_spark.sinks.ann_index import (
        append_ivfsq_index,
        compact_ivf_index,
        delete_from_ann_index,
        ivfsq_index_probe_topk,
        write_ivfsq_index,
        write_ivfsq_index_versioned,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    head = emb.filter(F.col("vec_id") < 400)
    tail = emb.filter(F.col("vec_id") >= 400)
    qv = collect_query_vector(emb, 123)

    grown = tempfile.mkdtemp(prefix="ivfsq_app_")
    write_ivfsq_index(head, grown, n_cents=8, train_iters=2)
    append_ivfsq_index(tail, grown)
    got = ivfsq_index_probe_topk(
        spark, grown, qv, k=10, nprobe=3, exclude_id=123
    ).collect()
    # same model (trained on head both times) -> same answers as a
    # store whose sq payload was written in one pass over head+tail
    # cannot be compared directly (training differs on full corpus);
    # instead: every appended row is present and probeable
    sq = spark.read.parquet(os.path.join(grown, "sq"))
    assert sq.count() == emb.count()

    victim = got[0].vec_id
    delete_from_ann_index(grown, [victim])
    compact_ivf_index(spark, grown, subdir="sq")
    sq = spark.read.parquet(os.path.join(grown, "sq"))
    assert sq.filter(sq.vec_id == victim).count() == 0
    assert victim not in {
        r.vec_id
        for r in ivfsq_index_probe_topk(
            spark, grown, qv, k=10, nprobe=8, exclude_id=123
        ).collect()
    }

    root = tempfile.mkdtemp(prefix="ivfsq_ver_")
    write_ivfsq_index_versioned(emb, root, n_cents=8, train_iters=2)
    plain = tempfile.mkdtemp(prefix="ivfsq_plain_")
    write_ivfsq_index(emb, plain, n_cents=8, train_iters=2)
    a = ivfsq_index_probe_topk(
        spark, root, qv, k=10, nprobe=3, exclude_id=123
    ).collect()
    b = ivfsq_index_probe_topk(
        spark, plain, qv, k=10, nprobe=3, exclude_id=123
    ).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_range_probe_families(spark, sf_dir):
    """Round-12 range search (FAISS range_search) across the store
    layouts: (1) the flat range probe equals the brute-force radius
    cut within the probed cells, ordered (sim DESC, id); (2) the cut
    is inclusive at the 6dp-rounded boundary and monotone — a higher
    radius returns a subset; (3) tombstoned ids never surface at any
    radius; (4) an unreachable radius returns an empty frame, not an
    error; (5) the SQ8 range probe cuts on DEQUANTIZED cosine with an
    attribute predicate applied before the cut."""
    import tempfile

    from webarchive_indexing_spark.operators.similarity import (
        collect_query_vector,
        cosine,
        ivf_probe_cells,
        lit_double_array,
    )
    from webarchive_indexing_spark.queries.helpers import hround
    from webarchive_indexing_spark.sinks import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    qv = collect_query_vector(emb, 123)

    flat = tempfile.mkdtemp(prefix="ivf_range_flat_")
    cents = ann_index.write_ivf_index(emb, flat, n_cents=8, train_iters=2)
    probe = ivf_probe_cells(cents, qv, 3)

    got = ann_index.ivf_index_probe_range(
        spark, flat, qv, 0.15, nprobe=3, exclude_id=123
    ).collect()
    want = (
        spark.read.parquet(flat + "/vectors")
        .filter(F.col("cell").isin(probe))
        .filter(F.col("vec_id") != 123)
        .select(
            "vec_id",
            "cell",
            hround(cosine(F.col("embedding"), lit_double_array(qv)), 6).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= 0.15)
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert got, "radius 0.15 should match something at every sf"

    # (2) inclusive boundary + monotonicity: cutting AT a returned
    # score keeps that row; a higher radius returns a subset
    edge = got[-1].cos_sim
    at_edge = ann_index.ivf_index_probe_range(
        spark, flat, qv, float(edge), nprobe=3, exclude_id=123
    ).collect()
    assert {r.vec_id for r in at_edge} >= {
        r.vec_id for r in got if r.cos_sim >= edge
    }
    tighter = ann_index.ivf_index_probe_range(
        spark, flat, qv, 0.25, nprobe=3, exclude_id=123
    ).collect()
    assert {r.vec_id for r in tighter} <= {r.vec_id for r in got}

    # (3) tombstones: delete the best hit, it must vanish from the
    # range result at the same radius
    best = got[0].vec_id
    ann_index.delete_from_ann_index(flat, [int(best)])
    after = ann_index.ivf_index_probe_range(
        spark, flat, qv, 0.15, nprobe=3, exclude_id=123
    ).collect()
    assert best not in {r.vec_id for r in after}
    assert {r.vec_id for r in after} == {r.vec_id for r in got} - {best}

    # (4) unreachable radius -> empty result, sane schema
    none = ann_index.ivf_index_probe_range(
        spark, flat, qv, 0.999, nprobe=3, exclude_id=123
    )
    assert none.count() == 0
    assert none.columns == ["vec_id", "cell", "cos_sim"]

    # (5) SQ8: dequantized cut + attribute predicate before the cut
    sq = tempfile.mkdtemp(prefix="ivfsq_range_")
    ann_index.write_ivfsq_index(
        emb, sq, n_cents=8, train_iters=2, attrs=["label"]
    )
    got_sq = ann_index.ivfsq_index_probe_range(
        spark, sq, qv, 0.15, nprobe=3, exclude_id=123, where="label <= 4"
    ).collect()
    probe_sq = ivf_probe_cells(ann_index.read_ivf_centroids(sq), qv, 3)
    deq = F.transform(
        F.col("q"),
        lambda v: v.cast("double") * F.col("scale") / F.lit(127.0),
    )
    want_sq = (
        spark.read.parquet(sq + "/sq")
        .filter(F.col("cell").isin(probe_sq))
        .filter(F.col("vec_id") != 123)
        .filter("label <= 4")
        .select(
            "vec_id",
            "cell",
            hround(cosine(deq, lit_double_array(qv)), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.15)
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .collect()
    )
    assert [tuple(r) for r in got_sq] == [tuple(r) for r in want_sq]
    assert all(r.cos_sim >= 0.15 for r in got_sq)


def test_range_batch_and_pq_range_match_serving_loops(spark, sf_dir):
    """Round-12 range-matrix completion: (1) the flat-store BATCH
    range probe's per-request rows equal the one-at-a-time range
    probe loop (heterogeneous radii); (2) the PQ store's range probe
    equals the ADC top-k prefix at the same distance cut (one shared
    scored frame by construction)."""
    import tempfile

    from webarchive_indexing_spark.operators.similarity import (
        collect_query_vector,
    )
    from webarchive_indexing_spark.sinks import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [77, 123, 55, 321]
    radii = [0.2, 0.2, 0.18, 0.15]
    vecs = {q: collect_query_vector(emb, q) for q in qids}

    flat = tempfile.mkdtemp(prefix="ivf_rbatch_")
    ann_index.write_ivf_index(emb, flat, n_cents=8, train_iters=2)
    batch = ann_index.ivf_index_probe_batch_range(
        spark, flat, [vecs[q] for q in qids], radii,
        nprobe=3, exclude_ids=qids,
    ).collect()
    for i, (qid, r) in enumerate(zip(qids, radii)):
        one = ann_index.ivf_index_probe_range(
            spark, flat, vecs[qid], r, nprobe=3, exclude_id=qid
        ).collect()
        got_i = [
            (row.vec_id, row.cell, row.cos_sim)
            for row in batch
            if row.request_no == i
        ]
        assert got_i == [(row.vec_id, row.cell, row.cos_sim) for row in one]

    pq = tempfile.mkdtemp(prefix="ivfpq_rng_")
    ann_index.write_ivfpq_index(
        emb, pq, n_cells=8, n_sub=4, k_codes=8, train_iters=2
    )
    rng = ann_index.ivfpq_index_probe_range(
        spark, pq, vecs[77], 1.05, nprobe=3, exclude_id=77
    ).collect()
    assert rng, "ADC radius 1.05 should match something at every sf"
    topk = ann_index.ivfpq_index_probe_topk(
        spark, pq, vecs[77], k=10_000, nprobe=3, exclude_id=77
    ).collect()
    want = [
        (row.vec_id, row.cell, row.approx_dist)
        for row in topk
        if row.approx_dist <= 1.05
    ]
    assert [(row.vec_id, row.cell, row.approx_dist) for row in rng] == want


def test_metric_probe_families(spark, sf_dir):
    """Round-12 query-side metrics over ONE flat store: (1) the
    inner-product probe equals brute-force dot ranking within the
    IP-ranked probe cells; (2) the L2 range probe equals the
    brute-force distance ceiling, ascending; (3) an unknown metric
    refuses loudly."""
    import tempfile

    import pytest

    from webarchive_indexing_spark.operators.similarity import (
        collect_query_vector,
        dot6,
        ivf_probe_cells,
        lit_double_array,
        sqdist6,
    )
    from webarchive_indexing_spark.sinks import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    qv = collect_query_vector(emb, 123)
    flat = tempfile.mkdtemp(prefix="ivf_metric_")
    cents = ann_index.write_ivf_index(emb, flat, n_cents=8, train_iters=2)
    lit = lit_double_array(qv)

    got_ip = ann_index.ivf_index_probe_topk(
        spark, flat, qv, k=10, nprobe=3, exclude_id=123, metric="ip"
    ).collect()
    cells_ip = ivf_probe_cells(cents, qv, 3, metric="ip")
    want_ip = (
        spark.read.parquet(flat + "/vectors")
        .filter(F.col("cell").isin(cells_ip))
        .filter(F.col("vec_id") != 123)
        .select("vec_id", "cell", dot6(F.col("embedding"), lit).alias("dot"))
        .orderBy(F.col("dot").desc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    )
    assert [tuple(r) for r in got_ip] == [tuple(r) for r in want_ip]
    assert got_ip[0].dot >= got_ip[-1].dot

    got_l2 = ann_index.ivf_index_probe_range(
        spark, flat, qv, 1.6, nprobe=3, exclude_id=123, metric="l2"
    ).collect()
    cells_l2 = ivf_probe_cells(cents, qv, 3, metric="l2")
    want_l2 = (
        spark.read.parquet(flat + "/vectors")
        .filter(F.col("cell").isin(cells_l2))
        .filter(F.col("vec_id") != 123)
        .select(
            "vec_id", "cell",
            sqdist6(F.col("embedding"), lit).alias("sq_dist"),
        )
        .filter(F.col("sq_dist") <= 1.6)
        .orderBy(F.col("sq_dist").asc(), F.col("vec_id").asc())
        .collect()
    )
    assert [tuple(r) for r in got_l2] == [tuple(r) for r in want_l2]
    assert got_l2, "l2 ceiling 1.6 should match something at every sf"
    assert all(r.sq_dist <= 1.6 for r in got_l2)

    with pytest.raises(ValueError, match="unknown metric"):
        ann_index.ivf_index_probe_topk(
            spark, flat, qv, k=5, metric="hamming"
        )


def test_pq_range_batch_equals_per_request_loop(spark, sf_dir):
    """The PQ batch range probe's per-request rows equal the
    one-at-a-time PQ range loop (heterogeneous ADC ceilings)."""
    import tempfile

    from webarchive_indexing_spark.operators.similarity import (
        collect_query_vector,
    )
    from webarchive_indexing_spark.sinks import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [77, 123, 55, 321]
    radii = [1.05, 1.05, 1.1, 1.08]
    vecs = {q: collect_query_vector(emb, q) for q in qids}
    pq = tempfile.mkdtemp(prefix="ivfpq_rb_")
    ann_index.write_ivfpq_index(
        emb, pq, n_cells=8, n_sub=4, k_codes=8, train_iters=2
    )
    batch = ann_index.ivfpq_index_probe_batch_range(
        spark, pq, [vecs[q] for q in qids], radii,
        nprobe=3, exclude_ids=qids,
    ).collect()
    assert batch, "ADC ceilings should match something at every sf"
    for i, (qid, r) in enumerate(zip(qids, radii)):
        one = ann_index.ivfpq_index_probe_range(
            spark, pq, vecs[qid], r, nprobe=3, exclude_id=qid
        ).collect()
        got_i = [
            (row.vec_id, row.cell, row.approx_dist)
            for row in batch
            if row.request_no == i
        ]
        assert got_i == [
            (row.vec_id, row.cell, row.approx_dist) for row in one
        ]


def test_sq_range_batch_equals_per_request_loop(spark, sf_dir):
    """The SQ8 batch range probe's per-request rows equal the
    one-at-a-time SQ8 range loop (heterogeneous radius floors)."""
    import tempfile

    from webarchive_indexing_spark.operators.similarity import (
        collect_query_vector,
    )
    from webarchive_indexing_spark.sinks import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [77, 123, 55, 321]
    radii = [0.15, 0.15, 0.18, 0.12]
    vecs = {q: collect_query_vector(emb, q) for q in qids}
    sq = tempfile.mkdtemp(prefix="ivfsq_rb_")
    ann_index.write_ivfsq_index(emb, sq, n_cents=8, train_iters=2)
    batch = ann_index.ivfsq_index_probe_batch_range(
        spark, sq, [vecs[q] for q in qids], radii,
        nprobe=3, exclude_ids=qids,
    ).collect()
    assert batch, "radius floors should match something at every sf"
    for i, (qid, r) in enumerate(zip(qids, radii)):
        one = ann_index.ivfsq_index_probe_range(
            spark, sq, vecs[qid], r, nprobe=3, exclude_id=qid
        ).collect()
        got_i = [
            (row.vec_id, row.cell, row.cos_sim)
            for row in batch
            if row.request_no == i
        ]
        assert got_i == [(row.vec_id, row.cell, row.cos_sim) for row in one]


def test_refined_probe_where_matching_nothing_is_empty(spark, sf_dir):
    """A ``where`` that matches no row leaves the refine stage no
    candidate id: both the sidecar and the external-vectors refine
    must return an empty frame (an empty id list is FALSE, never a
    string-built ``IN ()``).  The same store checks the footer-schema
    scans of its ``codes`` and ``refine`` directories."""
    import tempfile

    from webarchive_indexing_spark.operators.similarity import (
        collect_query_vector,
    )
    from webarchive_indexing_spark.sinks import ann_index
    from webarchive_indexing_spark.sinks.ann_index import (
        ivfpq_refined_topk,
        write_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivfpq_refine_none_")
    write_ivfpq_index(
        emb, out, n_cells=8, n_sub=4, k_codes=8, train_iters=2,
        attrs=["label"], refine="flat",
    )
    qv = collect_query_vector(emb, 77)
    nothing = "label < 0"
    assert emb.filter(nothing).count() == 0
    for src in (None, emb):
        got = ivfpq_refined_topk(spark, out, src, qv, k=10, where=nothing)
        assert got.collect() == []
    # the footer-schema scans of the PQ store (attrs, refine sidecar),
    # and of the one zero-row file Spark writes for an empty frame
    empty = tempfile.mkdtemp(prefix="scan_empty_")
    spark.range(0).write.mode("overwrite").parquet(f"{empty}/codes")
    for store, sub in ((out, "codes"), (out, "refine"), (empty, "codes")):
        assert ann_index._store_scan(spark, store, sub).schema == (
            spark.read.parquet(f"{store}/{sub}").schema
        ), (store, sub)


_NON_FINITE = [float("nan"), float("inf"), float("-inf")]


@pytest.mark.parametrize(
    "bad, part",
    [pytest.param(b, "query", id=str(b)) for b in _NON_FINITE]
    + [pytest.param(b, "radius", id=f"radius-{b}") for b in _NON_FINITE],
)
def test_pq_probes_refuse_non_finite_query(spark, tmp_path, bad, part):
    """A NaN/inf query component, or range radius, is refused up front
    with a ``ValueError`` naming the request — before any store read,
    so no store is needed — by the single and batch PQ probes and, for
    radii, the single and batch range probes of the PQ and flat
    stores."""
    from webarchive_indexing_spark.sinks import ann_index as A

    qv = [0.125] * 64
    store = str(tmp_path / "no_store")
    if part == "query":
        poisoned = qv[:5] + [bad] + qv[6:]
        with pytest.raises(ValueError, match="query vector 0 has a non-finite"):
            A.ivfpq_index_probe_topk(spark, store, poisoned)
        with pytest.raises(ValueError, match="query vector 1 has a non-finite"):
            A.ivfpq_index_probe_batch_topk(spark, store, [qv, poisoned])
        return
    for single, batch in (
        (A.ivfpq_index_probe_range, A.ivfpq_index_probe_batch_range),
        (A.ivf_index_probe_range, A.ivf_index_probe_batch_range),
    ):
        with pytest.raises(ValueError, match="request 0 has a non-finite radius"):
            single(spark, store, qv, bad)
        with pytest.raises(ValueError, match="request 1 has a non-finite radius"):
            batch(spark, store, [qv, qv], [0.5, bad])


def _by_request(rows: list) -> list:
    """Probe rows with a batch's requests in ``request_no`` order, each
    request's rows kept in rank order: a Spark window emits requests in
    partition order."""
    if rows and "request_no" in rows[0].__fields__:
        return sorted(rows, key=lambda r: r.request_no)
    return rows


def _spark_path(monkeypatch, call):
    """``call``'s probe frame and rows on the Spark path: the
    driver-read bound 0, as for probed cells too large to read on the
    driver."""
    from webarchive_indexing_spark.sinks import ann_index

    with monkeypatch.context() as m:
        m.setattr(ann_index, "_driver_read_bytes", lambda _spark: 0)
        df = call()
        return df, df.collect()


def test_probe_forms_bounded_py4j_calls_and_jobs(
    spark, sf_dir, py4j_calls, monkeypatch
):
    """Every public probe form over the flat, SQ8 and PQ stores runs
    through the one kernel.  Below the driver-read bound the call reads
    the probed cells on the driver and scores them with exact twins:
    no Spark job for the call plus its collect, a bounded number of
    py4j calls while the call runs, and the same rows, schema and
    order as the Spark path (bound 0) gives.  The in-plan IVF probe
    and the flat store's cell projection render their quantizer as
    parsed SQL text, so they meet the single forms' former bound of
    180 calls and one job."""
    import tempfile

    from webarchive_indexing_spark.operators.similarity import (
        ivf_cell_sql,
        ivf_probe_topk,
    )
    from webarchive_indexing_spark.sinks import ann_index as A

    emb = load_table(spark, sf_dir, "embeddings")
    flat = tempfile.mkdtemp(prefix="ivf_calls_")
    sq = tempfile.mkdtemp(prefix="ivfsq_calls_")
    pq = tempfile.mkdtemp(prefix="ivfpq_calls_")
    A.write_ivf_index(emb, flat, n_cents=8, train_iters=2)
    A.write_ivfsq_index(emb, sq, n_cents=8, train_iters=2)
    A.write_ivfpq_index(
        emb, pq, n_cells=8, n_sub=4, k_codes=8, train_iters=2, refine="flat"
    )
    qids = [77, 123, 55, 321]
    vecs = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }
    qs = [vecs[q] for q in qids]
    cents = A.read_ivf_centroids(flat)
    # form -> (call, py4j bound, jobs bound); the driver-read forms'
    # bounds are their measured count, 24 each
    forms = {
        "ivf_topk": (lambda: A.ivf_index_probe_topk(spark, flat, qs[0]), 24, 0),
        "ivf_range": (lambda: A.ivf_index_probe_range(spark, flat, qs[0], 0.15), 24, 0),
        "ivf_batch_topk": (lambda: A.ivf_index_probe_batch_topk(spark, flat, qs), 24, 0),
        "ivf_batch_range": (
            lambda: A.ivf_index_probe_batch_range(spark, flat, qs, [0.15] * 4), 24, 0),
        "sq_topk": (lambda: A.ivfsq_index_probe_topk(spark, sq, qs[0]), 24, 0),
        "sq_range": (lambda: A.ivfsq_index_probe_range(spark, sq, qs[0], 0.15), 24, 0),
        "sq_batch_topk": (lambda: A.ivfsq_index_probe_batch_topk(spark, sq, qs), 24, 0),
        "sq_batch_range": (
            lambda: A.ivfsq_index_probe_batch_range(spark, sq, qs, [0.15] * 4), 24, 0),
        "pq_topk": (lambda: A.ivfpq_index_probe_topk(spark, pq, qs[0]), 24, 0),
        "pq_range": (lambda: A.ivfpq_index_probe_range(spark, pq, qs[0], 1.05), 24, 0),
        "pq_batch_topk": (lambda: A.ivfpq_index_probe_batch_topk(spark, pq, qs), 24, 0),
        "pq_batch_range": (
            lambda: A.ivfpq_index_probe_batch_range(spark, pq, qs, [1.05] * 4), 24, 0),
        "refined": (lambda: A.ivfpq_refined_topk(spark, pq, None, qs[0]), 24, 0),
        "refined_batch": (lambda: A.ivfpq_refined_batch_topk(spark, pq, qs), 24, 0),
        # the in-plan probe over the flat store's model, and that
        # model's cell assignment as the build and append project it
        "in_plan_ivf_probe": (
            lambda: ivf_probe_topk(emb, cents, qids[0], qv=qs[0]), 180, 1),
        "flat_cell_projection": (
            lambda: emb.withColumn("cell", F.expr(ivf_cell_sql(cents, "embedding"))),
            180, 1),
    }
    sc = spark.sparkContext
    for name, (call, max_calls, max_jobs) in forms.items():
        group = f"probe_form_{name}"
        sc.setJobGroup(group, name)
        try:
            with py4j_calls() as calls:
                df = call()
            rows = df.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert rows, name
        assert calls.n <= max_calls, (name, calls.n)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert len(jobs) <= max_jobs, (name, jobs)
        if max_jobs == 0:
            spark_df, spark_rows = _spark_path(monkeypatch, call)
            assert df.schema == spark_df.schema, name
            assert _by_request(rows) == _by_request(spark_rows), name


def test_driver_probe_rows_equal_spark_path(spark, sf_dir, monkeypatch, tmp_path):
    """Below the driver-read bound a probe returns the Spark path's
    rows, schema and order (bound 0): with ``where`` and ``exclude_id``,
    on the flat store under every metric, on a PQ store with an int8
    refine sidecar, an OPQ store and a versioned store after
    ``append_ivfpq_index``; with tombstones on the ``isin`` path and on
    the anti-join path above ``TOMBSTONE_ISIN_MAX``.  Edge cases give
    the same defined result on both paths: a ``where`` that matches
    nothing, k larger than the candidates, a missing cell directory,
    every probed cell tombstoned.  An ADC table entry outside
    DECIMAL(18,6) is a ``ValueError`` naming the request."""
    import shutil
    import warnings

    from webarchive_indexing_spark.sinks import ann_index as A

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [77, 321]
    vecs = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }
    qs = [vecs[q] for q in qids]
    label = emb.filter(F.col("vec_id") == 321).first().label
    flat, pq, opq, ver = (str(tmp_path / d) for d in ("flat", "pq", "opq", "ver"))
    A.write_ivf_index(emb, flat, n_cents=8, train_iters=2)
    A.write_ivfpq_index(
        emb, pq, n_cells=8, n_sub=4, k_codes=8, train_iters=2, attrs=["label"],
        refine="int8",
    )
    A.write_ivfpq_index(
        emb, opq, n_cells=8, n_sub=4, k_codes=8, train_iters=2, opq_iters=2,
        refine="flat",
    )
    A.write_ivfpq_index_versioned(
        emb.filter(F.col("vec_id") < 300), ver, n_cells=8, n_sub=4, k_codes=8,
        train_iters=2, refine="flat",
    )
    A.append_ivfpq_index(emb.filter(F.col("vec_id") >= 300), ver)

    def same(call) -> list:
        df = call()
        rows = df.collect()
        spark_df, spark_rows = _spark_path(monkeypatch, call)
        assert df.schema == spark_df.schema
        assert _by_request(rows) == _by_request(spark_rows)
        return rows

    def pq_forms(store, where=None, k=10):
        return {
            "topk": lambda: A.ivfpq_index_probe_topk(
                spark, store, qs[0], k=k, exclude_id=77, where=where),
            "range": lambda: A.ivfpq_index_probe_range(
                spark, store, qs[0], 1.1, exclude_id=77, where=where),
            "batch": lambda: A.ivfpq_index_probe_batch_topk(
                spark, store, qs, k=k, exclude_ids=qids, wheres=[where, None]),
            "batch_range": lambda: A.ivfpq_index_probe_batch_range(
                spark, store, qs, [1.1, 1.0], exclude_ids=qids, wheres=[None, where]),
            "refined": lambda: A.ivfpq_refined_topk(
                spark, store, None, qs[0], k=k, exclude_id=77, where=where),
            "refined_batch": lambda: A.ivfpq_refined_batch_topk(
                spark, store, qs, k=k, exclude_ids=qids),
        }

    def check(store, **kw) -> dict:
        return {name: same(call) for name, call in pq_forms(store, **kw).items()}

    for store in (opq, ver):
        assert all(check(store).values()), store
    for metric in ("cosine", "ip", "l2"):
        assert same(lambda: A.ivf_index_probe_topk(
            spark, flat, qs[1], k=10, exclude_id=321, metric=metric,
            where=f"label = {label}"))
        assert same(lambda: A.ivf_index_probe_range(
            spark, flat, qs[1], {"l2": 1.2}.get(metric, 0.2), metric=metric))
    assert all(check(pq, where=f"label = {label}").values())
    # a where that matches nothing; k past every candidate
    assert not any(check(pq, where="label < 0")[n] for n in ("topk", "range", "refined"))
    wide = check(pq, k=10_000)
    assert 0 < len(wide["topk"]) < 10_000
    # tombstones: the isin scan filter, then the broadcast anti-join
    base = wide["topk"]
    A.delete_from_ann_index(pq, [r.vec_id for r in base[:3]])
    assert check(pq)["topk"][0].vec_id == base[3].vec_id
    monkeypatch.setattr(A, "TOMBSTONE_ISIN_MAX", 2)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        assert check(pq)["topk"][0].vec_id == base[3].vec_id
    monkeypatch.setattr(A, "TOMBSTONE_ISIN_MAX", 10_000)
    # a probed cell's directory gone: the others still answer
    gone = base[3].cell
    shutil.rmtree(f"{pq}/codes/cell={gone}")
    left = check(pq)
    assert left["topk"] and gone not in {r.cell for r in left["topk"]}
    # every probed cell of request 0 tombstoned
    probed = {r.cell for r in base}
    A.delete_from_ann_index(pq, [
        int(r.vec_id)
        for r in spark.read.parquet(f"{pq}/codes").filter(F.col("cell").isin(probed)).collect()
    ])
    dead = check(pq)
    assert dead["topk"] == dead["range"] == dead["refined"] == []
    assert {r.request_no for r in dead["batch"]} <= {1}
    # a query whose ADC table overflows DECIMAL(18,6)
    with pytest.raises(ValueError, match=r"request 0, vec_id \d+: an ADC table entry"):
        A.ivfpq_index_probe_topk(spark, ver, [3e5] * 64).collect()


def test_pq_where_probe_reads_on_driver_only_below_cutoff(
    spark, sf_dir, monkeypatch, tmp_path
):
    """A PQ probe with a ``where`` reads its cells on the driver only up
    to ``_PQ_WHERE_BYTES``, since each chunk's mask is a round trip
    through the JVM that costs more than the scan's own filter past
    that size; above it the same probe runs the Spark scan and returns
    the same rows, while the probe without a ``where`` still reads on
    the driver."""
    import itertools

    from webarchive_indexing_spark.sinks import ann_index as A

    emb = load_table(spark, sf_dir, "embeddings")
    store = str(tmp_path / "pq")
    A.write_ivfpq_index(
        emb, store, n_cells=8, n_sub=4, k_codes=8, train_iters=2, attrs=["label"]
    )
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 77).first().embedding]
    sc = spark.sparkContext
    groups = itertools.count()

    def jobs_and_rows(where):
        group = f"where_cutoff_{next(groups)}"
        sc.setJobGroup(group, "where cutoff")
        try:
            rows = A.ivfpq_index_probe_topk(spark, store, qv, k=10, where=where).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), rows

    jobs, below = jobs_and_rows("label >= 1")
    assert jobs == 0 and below
    monkeypatch.setattr(A, "_PQ_WHERE_BYTES", 0)
    jobs, above = jobs_and_rows("label >= 1")
    assert jobs >= 1 and above == below
    jobs, plain = jobs_and_rows(None)
    assert jobs == 0 and plain
