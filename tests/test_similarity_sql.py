"""The in-plan quantizer literals are parsed Spark SQL text: the IVF
cell argmax (``ivf_cell_sql``) and the sign-LSH bucket
(``lsh_bucket_sql``) must give exactly the rows of the ``Column``
trees they replaced, which live here as the reference.  The driver
twins of the Spark scores (6-dp cosine, dot and squared L2, the
dequantized SQ8 cosine and the integer PQ ADC sum) give Spark's
doubles bit for bit, and refuse with ``PairError`` what Spark cannot
score.  Also: a PQ subspace count that does not divide the dimension
is a ``ValueError`` on every PQ entry point."""

from __future__ import annotations

import functools
import math

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


def _adc_cases():
    """Hypothesis strategy: (table, rows) for ``residual_adc_expr``.
    The table is [cell, subspace, code]; entries are on the 6-dp grid
    (``py_sqdist6`` values, halves like 2.5e-06 among them), drawn
    doubles off the grid, exact halves of a 1e-6 unit, or large
    magnitudes up to 9e11 whose sums pass 2^53 units.  Rows are
    (cell, codes)."""
    from hypothesis import strategies as st

    grid = st.integers(-(10**7), 10**8).map(lambda n: n / 1e6)
    half = st.integers(0, 10**6).map(lambda n: (n + 0.5) / 1e6)
    large = st.floats(1e9, 9e11) | st.integers(10**15, 9 * 10**17).map(lambda n: n / 1e6)
    entry = grid | half | large | st.floats(0, 50, allow_nan=False)

    @st.composite
    def draw(d):
        n_cells, n_sub, k = d(st.integers(1, 3)), d(st.integers(1, 5)), d(st.integers(1, 4))
        flat = d(st.lists(entry, min_size=n_cells * n_sub * k, max_size=n_cells * n_sub * k))
        code = st.integers(0, k - 1)
        rows = d(st.lists(
            st.tuples(st.integers(0, n_cells - 1), st.lists(code, min_size=n_sub, max_size=n_sub)),
            min_size=1, max_size=10,
        ))
        return flat, (n_cells, n_sub, k), rows

    return draw()


def _adc_rows(spark, rows):
    n_sub = len(rows[0][1])
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("cell", T.IntegerType())]
        + [T.StructField(f"j{m}", T.IntegerType()) for m in range(n_sub)]
    )
    return spark.createDataFrame([(i, c, *js) for i, (c, js) in enumerate(rows)], schema)


def test_py_adc6_matches_spark(spark):
    """``py_adc6`` over ``adc_units`` gives ``residual_adc_expr``'s
    doubles bit for bit: Spark casts each entry to DECIMAL(18,6) HALF_UP
    from its shortest repr, sums exactly and casts the sum to double
    with one correct rounding — also for sums past 2^53 units."""
    import numpy as np
    from hypothesis import HealthCheck, example, given, settings

    @settings(max_examples=25, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(_adc_cases())
    # exact unit halves round away from zero; four 9e11 entries sum
    # to 3.6e18 units
    @example(([2.5e-6, 5e-7, 1.5e-6, 0.1234565], (1, 4, 1), [(0, [0, 0, 0, 0])]))
    @example(([899999999999.9999, 899999999999.999, 123456789012.34567, 9e11],
              (1, 4, 1), [(0, [0, 0, 0, 0])]))
    def prop(case):
        flat, shape, rows = case
        tab = np.array(flat, np.float64).reshape(shape)
        want = [
            r.d
            for r in _adc_rows(spark, rows).orderBy("id")
            .selectExpr(f"{S.residual_adc_expr(S.adc_table_sql(tab))} AS d")
            .collect()
        ]
        units, ok = S.adc_units(tab)
        got = S.py_adc6(
            units, ok, np.array([c for c, _ in rows]), np.array([js for _, js in rows]),
            list(range(len(rows))),
        )
        assert [float(x) for x in got] == want

    prop()


@pytest.mark.parametrize(
    "bad", [1e12, 3.5e15, float("nan"), float("inf"), float("-inf")]
)
def test_py_adc6_refuses_what_spark_cannot_cast(spark, bad):
    """A table entry that ``CAST(… AS DECIMAL(18,6))`` overflows, or a
    NaN/inf one, makes Spark fail on the row that looks it up; the twin
    raises ``PairError`` for that row (never NaN) and scores the rows
    that do not touch it.  A code outside the codebook likewise."""
    import numpy as np

    tab = np.array([[[0.25, bad]]])
    units, ok = S.adc_units(tab)
    cell, codes = np.array([0, 0]), np.array([[0], [1]])
    assert list(S.py_adc6(units, ok, cell[:1], codes[:1], [0])) == [0.25]
    with pytest.raises(S.PairError, match="not finite or overflows") as err:
        S.py_adc6(units, ok, cell, codes, [7, 9])
    assert err.value.pair == 9
    with pytest.raises(S.PairError, match="outside 0..1"):
        S.py_adc6(units, ok, cell[:1], np.array([[2]]), [0])
    if math.isfinite(bad):
        with pytest.raises(Exception, match="DECIMAL|Decimal|decimal"):
            _adc_rows(spark, [(0, [1])]).selectExpr(
                f"{S.residual_adc_expr(S.adc_table_sql(tab))} AS d"
            ).collect()


def test_residual_query_table_matches_py_sqdist6():
    """The vectorised ADC table equals ``py_sqdist6`` of each query
    subvector and combined codeword, entry by entry, for all cells and
    for a subset of cell positions."""
    import random

    rng = random.Random(5)
    dim, n_sub, k = 12, 3, 5
    w = dim // n_sub
    cents = {c: [rng.gauss(0, 1) for _ in range(dim)] for c in range(4)}
    cbooks = [{j: [rng.gauss(0, 0.3) for _ in range(w)] for j in range(k)}
              for _ in range(n_sub)]
    for q in ([rng.gauss(0, 1) for _ in range(dim)], [rng.gauss(0, 40) for _ in range(dim)]):
        for cells in (None, [1, 3]):
            tab = S.residual_query_table(cents, cbooks, q, cells)
            for p, c in enumerate(cells or range(4)):
                for m in range(n_sub):
                    for j in range(k):
                        cw = [cents[c][m * w + i] + cbooks[m][j][i] for i in range(w)]
                        assert tab[p, m, j] == S.py_sqdist6(q[m * w:(m + 1) * w], cw)


def test_py_dot6_and_l2_twins_match_spark(spark):
    """``py_dot6`` gives ``spark_dot6_sql``'s doubles and
    ``py_sqdist6_rows`` gives ``spark_sqdist6_sql``'s, bit for bit, on
    the cosine twin's drawn, near-duplicate and rescaled pairs."""
    import numpy as np
    from hypothesis import HealthCheck, given, settings

    @settings(max_examples=25, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(_cosine_pairs())
    def prop(pairs):
        df = spark.createDataFrame([(i, v, q) for i, (v, q) in enumerate(pairs)], _PAIRS)
        want = df.orderBy("id").select(
            F.expr(S.spark_dot6_sql("v", "q")).alias("dot"),
            F.expr(S.spark_sqdist6_sql("v", "q")).alias("l2"),
        ).collect()
        a = np.array([v for v, _q in pairs], np.float64)
        b = np.array([q for _v, q in pairs], np.float64)
        idx = list(range(len(pairs)))
        assert [float(x) for x in S.py_dot6(a, b, idx)] == [r.dot for r in want]
        assert [float(x) for x in S.py_sqdist6_rows(a, b, idx)] == [r.l2 for r in want]

    prop()


def test_sq_dequantized_cosine_matches_spark(spark):
    """The SQ8 payload's driver twin — ``v·scale/127`` in IEEE order,
    then ``_cosine6`` — gives the Spark ``_DEQ`` projection's 6-dp
    cosine bit for bit, rows with a NULL scale or code refused."""
    import numpy as np
    import pyarrow as pa
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from webarchive_indexing_spark.sinks import ann_index as A

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("scale", T.DoubleType()),
        T.StructField("q", T.ArrayType(T.ByteType())),
    ])

    @st.composite
    def case(d):
        dim = d(st.integers(1, 8))
        code = st.lists(st.integers(-127, 127), min_size=dim, max_size=dim).filter(any)
        rows = d(st.lists(st.tuples(st.floats(1e-3, 10), code), min_size=1, max_size=8))
        qv = d(st.lists(st.floats(-4, 4), min_size=dim, max_size=dim).filter(
            lambda v: max(map(abs, v)) >= 0.01))
        return rows, qv

    @settings(max_examples=25, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(case())
    def prop(c):
        rows, qv = c
        df = spark.createDataFrame([(i, s, q) for i, (s, q) in enumerate(rows)], schema)
        want = [
            r.s
            for r in df.orderBy("id").selectExpr(f"{A._DEQ} AS __v").selectExpr(
                f"{S.spark_cosine6_sql('__v', S.sql_double_array(qv))} AS s"
            ).collect()
        ]
        batch = pa.RecordBatch.from_pydict({
            "id": list(range(len(rows))),
            "scale": [s for s, _q in rows],
            "q": pa.array([q for _s, q in rows], pa.list_(pa.int8())),
        })
        score = A._vector_twin("q", "scale", S._cosine6)(qv, [])
        got = score(A._Chunk(batch, "id"), np.arange(len(rows)))
        assert [float(x) for x in got] == want

    prop()
    batch = pa.RecordBatch.from_pydict({
        "id": [0, 1, 2],
        "scale": [1.0, None, 1.0],
        "q": pa.array([[1, 2], [1, 2], [1, None]], pa.list_(pa.int8())),
    })
    score = A._vector_twin("q", "scale", S._cosine6)([1.0, 0.5], [])
    chunk = A._Chunk(batch, "id")
    assert list(score(chunk, np.array([0]))) == [0.8]
    for row, why in ((1, "scale is NULL"), (2, "NULL or not finite")):
        with pytest.raises(S.PairError, match=why) as err:
            score(chunk, np.array([0, row]))
        assert err.value.pair == row
