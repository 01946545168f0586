"""PCA / whitening over an embedding column: the moments scan vs numpy
(np.cov / np.linalg.eigh re-derivation), the Arrow GEMM projection vs
numpy and its plan shape, NULL / id-type / wrong-length inputs, whitening
variance, the deterministic sign convention, and validation errors."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mrmr_spark.operators.pca import (
    covariance_matrix,
    pca_project,
    pca_train,
)

DIM = 12


@pytest.fixture(scope="module")
def vectors(spark):
    """300 x 12 with anisotropic covariance (a few dominant directions)."""
    rng = np.random.default_rng(17)
    A = rng.normal(size=(DIM, DIM))
    scales = np.linspace(3.0, 0.2, DIM)
    X = (rng.normal(size=(300, DIM)) * scales) @ A + rng.normal(size=DIM) * 2.0
    X = X.astype(np.float32)
    pdf = pd.DataFrame(
        {"vec_id": range(len(X)), "embedding": [list(map(float, v)) for v in X]}
    )
    sdf = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
    return sdf.cache(), X.astype(np.float64)


def test_covariance_matches_numpy(vectors):
    sdf, X = vectors
    got = covariance_matrix(sdf, DIM)
    exp = np.cov(X, rowvar=False, ddof=1)
    np.testing.assert_allclose(got, exp, rtol=0, atol=1e-10)


def test_covariance_partitioning_stable(vectors):
    sdf, _ = vectors
    a = covariance_matrix(sdf.repartition(1), DIM)
    b = covariance_matrix(sdf.repartition(7, "vec_id"), DIM)
    # Chan merges are order-fixed per partitioning (sorted pid) but not
    # associative across partitionings — agreement must still be ~exact
    np.testing.assert_allclose(a, b, rtol=0, atol=1e-11)
    # and bit-identical run to run on the SAME partitioning
    c = covariance_matrix(sdf.repartition(7, "vec_id"), DIM)
    assert (b == c).all()


def test_train_matches_numpy_eigh(vectors):
    sdf, X = vectors
    k = 5
    m = pca_train(sdf, DIM, k=k)
    cov = np.cov(X, rowvar=False, ddof=1)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    np.testing.assert_allclose(m["mean"], X.mean(axis=0), atol=1e-10)
    np.testing.assert_allclose(m["eigvals"], vals[order], rtol=1e-9)
    np.testing.assert_allclose(
        m["explained_variance_ratio"], vals[order] / np.trace(cov), rtol=1e-9
    )
    # components match up to the sign convention: |cos| == 1 componentwise
    for j, col in enumerate(order):
        cos = float(m["components"][j] @ vecs[:, col])
        assert abs(abs(cos) - 1.0) < 1e-9
        # convention: max-|coordinate| entry is non-negative
        w = m["components"][j]
        assert w[np.argmax(np.abs(w))] >= 0


def test_project_backends_equal_and_column_plan_pure(vectors):
    """The Arrow GEMM matches the numpy projection; one Python stage, no
    exchange."""
    sdf, X = vectors
    m = pca_train(sdf, DIM, k=4)
    out = pca_project(sdf, m)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("MapInArrow") == 1, plan
    a = out.toPandas().sort_values("vec_id").reset_index(drop=True)
    A = np.stack(a["pca"].to_numpy())
    exp = (X - m["mean"]) @ m["components"].T
    np.testing.assert_allclose(A, exp, rtol=0, atol=1e-9)


@pytest.mark.parametrize("case", ["null_embedding", "int_id", "wrong_length"])
def test_project_input_edge_cases(spark, case):
    """A NULL embedding projects to NULL, the id keeps its input type, and
    a wrong-length vector raises a ValueError naming both lengths."""
    W = np.array([[1.0, 0.0, 2.0], [0.0, 1.0, -1.0]])
    mu = np.array([0.5, 0.0, 1.0])
    id_t = "int" if case == "int_id" else "long"
    rows = [(1, [1.0, 2.0, 3.0]), (2, None if case == "null_embedding" else [0.0, 1.0, 0.0])]
    if case == "wrong_length":
        rows.append((3, [1.0, 2.0]))
    df = spark.createDataFrame(rows, f"vec_id {id_t}, embedding array<double>")
    out = pca_project(df, mean=mu, components=W)
    if case == "wrong_length":
        with pytest.raises(Exception, match=r"ValueError.*length 2 != model d=3"):
            out.collect()
        return
    assert out.schema["vec_id"].dataType == df.schema["vec_id"].dataType
    got = {r.vec_id: r.pca for r in out.collect()}
    assert got[1] == pytest.approx(list(W @ (np.array([1.0, 2.0, 3.0]) - mu)))
    if case == "null_embedding":
        assert got[2] is None
    else:
        assert got[2] == pytest.approx(list(W @ (np.array([0.0, 1.0, 0.0]) - mu)))


@pytest.mark.parametrize("source", ["arrow", "column"])
def test_whiten_unit_variance(vectors, frame_from, source):
    """Whitening on a frame converted through Arrow and on one read back
    through the Parquet scan."""
    _, X = vectors
    rows = [(i, list(map(float, v))) for i, v in enumerate(X.astype(np.float32))]
    sdf = frame_from(rows, "vec_id long, embedding array<float>", source)
    k = 6
    m = pca_train(sdf, DIM, k=k)
    out = pca_project(sdf, m, whiten=True).toPandas()
    Y = np.stack(out["pca"].to_numpy())
    np.testing.assert_allclose(Y.var(axis=0, ddof=1), np.ones(k), rtol=1e-6)
    # whitened components are uncorrelated
    off = np.cov(Y, rowvar=False, ddof=1) - np.eye(k)
    assert np.abs(off).max() < 1e-6


def test_projection_feeds_knn(vectors, spark):
    """The reduced space is a drop-in embedding column for the ANN family."""
    from mrmr_spark.operators.similarity import knn_bruteforce

    sdf, _ = vectors
    m = pca_train(sdf, DIM, k=DIM)
    # rotation only (mean=0): a full-rank orthonormal rotation preserves
    # dot products and norms, so cosine kNN answers are identical (a
    # CENTERED projection would legitimately change cosine)
    proj = pca_project(
        sdf, mean=np.zeros(DIM), components=m["components"]
    ).withColumnRenamed("pca", "embedding")
    full = knn_bruteforce(sdf, sdf.where(F.col("vec_id") < 3), k=5).toPandas()
    red = knn_bruteforce(proj, proj.where(F.col("vec_id") < 3), k=5).toPandas()
    key = ["q_id", "rank"]
    full, red = full.sort_values(key), red.sort_values(key)
    assert full["vec_id"].tolist() == red["vec_id"].tolist()
    np.testing.assert_allclose(
        full["sim"].to_numpy(), red["sim"].to_numpy(), atol=1e-9
    )


def test_validation_errors(vectors, spark):
    sdf, _ = vectors
    with pytest.raises(ValueError, match="k=0"):
        pca_train(sdf, DIM, k=0)
    with pytest.raises(ValueError, match="k=13"):
        pca_train(sdf, DIM, k=13)
    empty = sdf.where(F.lit(False))
    with pytest.raises(ValueError, match="no rows"):
        pca_train(empty, DIM)
    m = pca_train(sdf, DIM, k=3)
    with pytest.raises(ValueError, match="mismatch"):
        pca_project(sdf, mean=np.zeros(5), components=m["components"])
    with pytest.raises(ValueError, match="needs eigvals"):
        pca_project(sdf, mean=m["mean"], components=m["components"], whiten=True)
    with pytest.raises(TypeError):
        pca_project(sdf, m, backend="column")
