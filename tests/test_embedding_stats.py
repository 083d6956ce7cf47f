"""Embedding statistics fixtures: Gramian/covariance, quantization, PC1."""

import math

import pytest
from pyspark.sql import Row

from glamr_omics_pipelines_spark.operators import similarity


def _emb(spark, vecs):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v])
         for i, v in enumerate(vecs)])


def test_gram_matrix_hand_computed(spark):
    df = _emb(spark, [[1.0, 2.0], [3.0, 4.0]])
    # a null vector carries no data: it is dropped, not a job error
    df = df.unionByName(spark.createDataFrame(
        [Row(vec_id=2, embedding=None)], schema=df.schema))
    g = {(r.i, r.j): r.value
         for r in similarity.gram_matrix(df, "embedding").collect()}
    # XtX = [[1+9, 2+12], [2+12, 4+16]]
    assert g == {(0, 0): 10.0, (0, 1): 14.0, (1, 0): 14.0, (1, 1): 20.0}


def test_covariance_matches_definition(spark):
    vecs = [[1.0, 10.0], [2.0, 20.0], [3.0, 33.0]]
    df = _emb(spark, vecs)
    got = {(r.i, r.j): r.value
           for r in similarity.gram_matrix(
               df, "embedding", centered=True,
               sample_covariance=True).collect()}
    import statistics
    c0 = statistics.variance([v[0] for v in vecs])
    c1 = statistics.variance([v[1] for v in vecs])
    m0 = sum(v[0] for v in vecs) / 3
    m1 = sum(v[1] for v in vecs) / 3
    c01 = sum((v[0] - m0) * (v[1] - m1) for v in vecs) / 2
    assert math.isclose(got[(0, 0)], c0, rel_tol=1e-12)
    assert math.isclose(got[(1, 1)], c1, rel_tol=1e-12)
    assert math.isclose(got[(0, 1)], c01, rel_tol=1e-12)
    assert math.isclose(got[(0, 1)], got[(1, 0)], rel_tol=1e-12)


def test_sample_covariance_requires_centering(spark):
    df = _emb(spark, [[1.0], [2.0]])
    with pytest.raises(ValueError):
        similarity.gram_matrix(df, "embedding", centered=False,
                               sample_covariance=True)


def test_gram_arrow_single_vector_null_covariance(spark):
    df = _emb(spark, [[1.0, 2.0]])
    rows = similarity.gram_matrix(df, "embedding", centered=True,
                                  sample_covariance=True).collect()
    assert len(rows) == 4 and all(r.value is None for r in rows)


def test_quantize_embeddings_bounds_and_constant_dim(spark):
    df = _emb(spark, [[0.0, 7.0], [5.0, 7.0], [10.0, 7.0]])
    q = {(r.vec_id, r.dim): r.q
         for r in similarity.quantize_embeddings(
             df, "vec_id", "embedding").collect()}
    assert q[(0, 0)] == 0 and q[(2, 0)] == 255  # min->0, max->levels-1
    assert q[(1, 0)] == 128                      # midpoint rounds to 128
    assert q[(0, 1)] == q[(1, 1)] == q[(2, 1)] == 0  # constant dim -> 0


def test_top_principal_component_dominant_axis(spark):
    # variance overwhelmingly along dim 0 (+ slight dim-1 noise)
    vecs = [[x, 0.01 * (x % 2)] for x in range(-5, 6)]
    df = _emb(spark, vecs)
    v = similarity.top_principal_component(df, "embedding", iterations=100)
    assert len(v) == 2
    assert abs(v[0]) > 0.99            # PC1 ~ the x axis
    assert v[0] > 0                    # sign convention: pivot positive
    assert math.isclose(sum(x * x for x in v), 1.0, rel_tol=1e-9)


def test_rp_project_hand_values(spark):
    from glamr_omics_pipelines_spark.operators import similarity as S
    df = spark.createDataFrame([(1, [1.0, 2.0]), (2, [0.0, -1.0])],
                               ["vec_id", "embedding"])
    m = [[1.0, 0.0], [0.5, 0.5], [0.0, 2.0]]
    out = {r["vec_id"]: r["proj"] for r in
           S.rp_project(df, "embedding", m).collect()}
    assert out[1] == [1.0, 1.5, 4.0]
    assert out[2] == [0.0, -0.5, -2.0]


def test_rp_project_jl_distortion_and_plan(spark):
    """Seeded 64→16 projection roughly preserves pairwise sq-distances
    (generous JL band — deterministic, seeds fixed) and stays a single
    zero-shuffle projection."""
    import random
    from glamr_omics_pipelines_spark.operators import similarity as S
    rng = random.Random(5)
    rows = [(i, [rng.gauss(0.0, 1.0) for _ in range(64)]) for i in range(40)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    m = S.rp_matrix_random(64, 16, seed=13)
    out = S.rp_project(df, "embedding", m)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    got = {r["vec_id"]: r["proj"] for r in out.collect()}
    orig = dict(rows)

    def sq(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    ratios = []
    for i in range(0, 30, 3):
        for j in range(i + 1, 30, 7):
            ratios.append(sq(got[i], got[j]) / sq(orig[i], orig[j]))
    assert all(0.3 < r < 2.2 for r in ratios), ratios
    # mean distortion should be near 1 (unbiased estimator)
    mean = sum(ratios) / len(ratios)
    assert 0.75 < mean < 1.3, mean


def test_rp_guards(spark):
    import pytest as _pytest
    from glamr_omics_pipelines_spark.operators import similarity as S
    df = spark.createDataFrame([(1, [1.0])], ["vec_id", "embedding"])
    with _pytest.raises(ValueError):
        S.rp_matrix_random(0, 4)
    with _pytest.raises(ValueError):
        S.rp_project(df, "embedding", [])
