"""The in-plan quantizer literals are parsed Spark SQL text: the IVF
cell argmax (``ivf_cell_sql``) and the sign-LSH bucket
(``lsh_bucket_sql``) must give exactly the rows of the ``Column``
trees they replaced, which live here as the reference.  Also: a PQ
subspace count that does not divide the dimension is a ``ValueError``
on every PQ entry point."""

from __future__ import annotations

import functools

import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webarchive_indexing_spark.operators import similarity as S
from webarchive_indexing_spark.queries.helpers import hround
from webarchive_indexing_spark.tables import load_table


def _ivf_cell_expr(cents: dict[int, list[float]], vec_col: str) -> Column:
    """The Column-built IVF cell argmax ``ivf_cell_sql`` replaced."""
    def fast_dot(v: Column, cv: list[float]) -> Column:
        return F.aggregate(
            F.zip_with(v, S.lit_double_array(cv), lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    scored = F.array(
        *[
            F.struct(
                hround(
                    fast_dot(F.col(vec_col), cv) / F.lit(S._py_norm(cv)), 6
                ).alias("s"),
                F.lit(-cid).alias("negid"),
            )
            for cid, cv in sorted(cents.items())
        ]
    )
    return -F.array_max(scored).getField("negid")


def _lsh_bucket_expr(vec_col: str, n_planes: int, dim: int) -> Column:
    """The Column-built sign-LSH bucket ``lsh_bucket_sql`` replaced."""
    planes = S._planes(n_planes, dim)
    bits = []
    for kp in range(n_planes):
        w = F.array(*[F.lit(v) for v in planes[kp]])
        dot = F.aggregate(
            F.zip_with(
                F.col(vec_col), w,
                lambda x, p: (x.cast("double") * p).cast("decimal(18,7)"),
            ),
            F.lit(0).cast("decimal(18,7)"),
            lambda acc, x: (acc + x).cast("decimal(18,7)"),
        )
        bits.append(F.when(dot > 0, F.lit(1 << kp)).otherwise(F.lit(0)))
    return functools.reduce(lambda x, y: x + y, bits).cast("bigint")


_EMB = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
])


def _models():
    """Hypothesis strategy: (vectors, centroids, n_planes) over one
    small dimension.  Centroids are drawn, then some are repeated under
    new ids and some vectors copy a centroid, so the argmax meets exact
    score ties; components come from a coarse grid so dot products and
    LSH signs land on exact zeros as well."""
    from hypothesis import strategies as st

    comp = st.sampled_from([-2.0, -1.0, -0.5, 0.0, 0.25, 0.5, 1.0, 3.0]) | st.floats(
        -4, 4, allow_nan=False, width=32
    )

    @st.composite
    def draw(d):
        dim = d(st.integers(1, 6))
        vec = st.lists(comp, min_size=dim, max_size=dim)
        cents = d(st.lists(vec.filter(lambda v: any(v)), min_size=1, max_size=4))
        cents += d(st.lists(st.sampled_from(cents), max_size=3))
        vecs = d(st.lists(vec | st.sampled_from(cents), min_size=1, max_size=8))
        return vecs, dict(enumerate(cents)), d(st.integers(1, 8))

    return draw()


def test_quantizer_sql_matches_column_form(spark):
    """``ivf_cell_sql`` and ``lsh_bucket_sql`` give the Column forms'
    values on every row: same cell under exact argmax ties (the
    smaller id wins), same bucket bits."""
    from hypothesis import HealthCheck, example, given, settings

    @settings(max_examples=25, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(_models())
    # a tie between the duplicate centroids 0 and 1, and a zero vector
    # whose every LSH dot is exactly 0
    @example((
        [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0], [0.0, 0.0]],
        {0: [1.0, 0.0], 1: [1.0, 0.0], 2: [0.0, 2.0]},
        3,
    ))
    def prop(model):
        vecs, cents, n_planes = model
        dim = len(vecs[0])
        df = spark.createDataFrame(list(enumerate(vecs)), _EMB)
        got = df.select(
            "vec_id",
            _ivf_cell_expr(cents, "embedding").alias("cell_col"),
            F.expr(S.ivf_cell_sql(cents, "embedding")).alias("cell_sql"),
            _lsh_bucket_expr("embedding", n_planes, dim).alias("lsh_col"),
            F.expr(S.lsh_bucket_sql("embedding", n_planes, dim)).alias("lsh_sql"),
        ).collect()
        assert [(r.cell_col, r.lsh_col) for r in got] == [
            (r.cell_sql, r.lsh_sql) for r in got
        ]

    prop()


def test_quantizer_sql_matches_column_form_on_fixture(spark, sf_dir):
    """The same parity over the fixture corpus at the registry's
    model sizes: 16 seed centroids, 8 planes over 64 dimensions."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = S.collect_seed_vectors(emb, 16)
    want = emb.select(
        "vec_id",
        _ivf_cell_expr(cents, "embedding").alias("cell"),
        _lsh_bucket_expr("embedding", 8, 64).alias("bucket"),
    )
    got = emb.selectExpr(
        "vec_id",
        f"{S.ivf_cell_sql(cents, 'embedding')} AS cell",
        f"{S.lsh_bucket_sql('embedding', 8, 64)} AS bucket",
    )
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


@pytest.mark.parametrize(
    "entry", ["pq_adc_topk", "ivf_pq_topk", "ivfadc_residual_topk", "write_ivfpq_index"]
)
def test_pq_subspaces_must_divide_dim(spark, sf_dir, tmp_path, entry):
    """``n_sub`` not dividing ``dim`` is refused with a ``ValueError``
    (an ``assert`` would vanish under ``python -O``)."""
    from webarchive_indexing_spark.sinks.ann_index import write_ivfpq_index

    emb = load_table(spark, sf_dir, "embeddings")
    call = {
        "pq_adc_topk": lambda: S.pq_adc_topk(emb, 77, n_sub=5),
        "ivf_pq_topk": lambda: S.ivf_pq_topk(emb, 55, n_sub=5),
        "ivfadc_residual_topk": lambda: S.ivfadc_residual_topk(emb, 77, n_sub=5),
        "write_ivfpq_index": lambda: write_ivfpq_index(emb, str(tmp_path), n_sub=5),
    }[entry]
    with pytest.raises(ValueError, match="divide evenly"):
        call()


_PAIRS = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("v", T.ArrayType(T.DoubleType())),
    T.StructField("q", T.ArrayType(T.DoubleType())),
])


def _cosine_pairs():
    """Hypothesis strategy: up to 12 (vector, query) pairs over one
    dimension.  A query is drawn, or a near-duplicate of its vector, or
    its vector rescaled by 0.01-30; every vector keeps a component of
    magnitude at least 0.01, so no norm is zero."""
    from hypothesis import strategies as st

    comp = st.floats(-4, 4, allow_nan=False) | st.floats(-4, 4, width=32)

    @st.composite
    def draw(d):
        dim = d(st.integers(1, 8))
        vec = st.lists(comp, min_size=dim, max_size=dim).filter(
            lambda v: max(map(abs, v)) >= 0.01
        )
        pairs = []
        for _ in range(d(st.integers(1, 12))):
            v = d(vec)
            how = d(st.sampled_from(["drawn", "near", "scaled"]))
            if how == "drawn":
                q = d(vec)
            elif how == "near":
                eps = d(st.lists(st.floats(-1e-6, 1e-6), min_size=dim, max_size=dim))
                q = [x + e for x, e in zip(v, eps)]
            else:
                q = [x * d(st.floats(0.01, 30)) for x in v]
            pairs.append((v, q))
        return pairs

    return draw()


def test_py_cosine6_matches_spark(spark):
    """``py_cosine6`` gives ``spark_cosine6_sql``'s doubles bit for
    bit: drawn, near-duplicate and rescaled vectors, and products that
    sit exactly on a 14-dp half, which Spark rounds HALF_UP from the
    shortest decimal repr (not from the binary value)."""
    from hypothesis import HealthCheck, example, given, settings

    @settings(max_examples=25, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(_cosine_pairs())
    # products whose repr ends in a 5 at the 15th decimal
    @example([
        ([1.0, 1.0, 1.0, -1.0], [0.123456789012345, 2.5e-14, 5e-15, 0.987654321098765]),
        ([1.0, 1.0, 1.0, 1.0], [5.825e-12, 4.388891176928505, 0.002525519212055, 7.1745e-11]),
    ])
    # ... where that half decides the 6-dp result: the query norm is
    # exactly 1 and the dot rounds to 0.1000005 (0.1250255); rounding
    # the binary value of 0.100000499999995 (or a float estimate of
    # 0.125025499999995 · 1e14) instead gives 0.1 (0.125025)
    @example([
        ([1.0, 0.0], [0.100000499999995, 0.9949873868546028]),
        ([1.0, 0.0], [0.125025499999995, 0.9921535286183037]),
    ])
    def prop(pairs):
        df = spark.createDataFrame([(i, v, q) for i, (v, q) in enumerate(pairs)], _PAIRS)
        want = [
            r.s
            for r in df.orderBy("id")
            .select(F.expr(S.spark_cosine6_sql("v", "q")).alias("s"))
            .collect()
        ]
        got = S.py_cosine6([v for v, _q in pairs], [q for _v, q in pairs])
        assert [float(x) for x in got] == want

    prop()


@pytest.mark.parametrize(
    "v, q, why",
    [
        ([1.0, 2.0, 3.0], [1.0, 2.0], "has 3 elements, the query 2"),
        (None, [1.0], "stored vector is NULL"),
        ([1.0, None], [1.0, 2.0], "NULL or not finite"),
        ([1.0, float("nan")], [1.0, 2.0], "NULL or not finite"),
        ([1e300, 1.0], [1e300, 1.0], "NULL or not finite"),
        ([1e8, 1.0], [1e7, 1.0], "product overflows"),
        ([9e6, 9e6, -9e6], [1e7, 1e7, 1e7], "partial sum overflows"),
        ([1e-8, 0.0], [1.0, 2.0], "stored vector has zero norm"),
        ([1.0, 2.0], [0.0, 0.0], "query has zero norm"),
    ],
)
def test_py_cosine6_refuses_what_spark_cannot_score(v, q, why):
    """A pair Spark scores NULL or fails on (length mismatch, NULL or
    NaN element, an infinite product, a product or partial sum outside
    DECIMAL(28,14), a zero norm) raises ``PairError`` naming the pair;
    the twin never returns NaN or inf."""
    with pytest.raises(S.PairError, match=why) as err:
        S.py_cosine6([[1.0], v], [[1.0], q])
    assert err.value.pair == 1


@pytest.mark.parametrize(
    "probe",
    [
        "ivf_topk", "ivf_probe_topk", "ivf_trained_topk", "pq_adc_topk",
        "ivf_pq_topk", "ivfadc_trained_topk", "ivfadc_residual_topk",
    ],
)
def test_in_plan_probes_refuse_non_finite_query(spark, sf_dir, probe):
    """A query vector with a NaN component is a ``ValueError`` naming
    the probe and the request, raised before any training, on every
    in-plan probe: the corpus row of ``query_vec_id`` holds the NaN, or
    (``ivf_probe_topk``) the ``qv`` passed in does."""
    emb = load_table(spark, sf_dir, "embeddings")
    nan_row = "transform(embedding, (x, i) -> IF(i = 5, CAST('NaN' AS FLOAT), x))"
    poisoned = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 77, F.expr(nan_row)).otherwise(F.col("embedding")),
    )
    if probe == "ivf_probe_topk":
        qv = S.collect_query_vector(emb, 77)
        qv[5] = float("nan")
        call = lambda: S.ivf_probe_topk(emb, S.collect_seed_vectors(emb, 8), 77, qv=qv)  # noqa: E731
    else:
        call = lambda: getattr(S, probe)(poisoned, 77)  # noqa: E731
    with pytest.raises(ValueError, match=f"{probe}: query vector 0 has a non-finite"):
        call()
