"""Integer power-iteration PCA (distributed scatter pass, power rounds
on the driver over the collected d×d matrix): direction agreement with
a numpy eigendecomposition of the same int8 lattice for BOTH
components (k=2 via per-iteration Gram-Schmidt deflation), plus
invariants (unit micro-norm, orthogonality, deterministic reruns).
Cross-engine hash parity is covered by tests/test_oracle_parity.py
and the driver gate."""

import numpy as np

from graphem_rapids_spark.pipeline.similarity import pca_power_int8
from graphem_rapids_spark.queries import embedding_pca_power

SF = "/root/testdata/sf0.001"


def _numpy_reference(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    X = np.array([r["embedding"] for r in emb.collect()], dtype=np.float64)
    # same int8 grid as quantize_int8: per-vector amax/127 scale
    amax = np.abs(X).max(axis=1, keepdims=True)
    scale = np.where(amax > 0, amax / 127.0, 1.0)
    Q = np.round(X / scale)
    n = Q.shape[0]
    C = n * (Q.T @ Q) - np.outer(Q.sum(axis=0), Q.sum(axis=0))
    B = np.floor_divide(C.astype(np.int64), n)
    w, v = np.linalg.eigh(B)
    return B, w, v


def test_pca_directions_match_numpy(spark):
    rows = embedding_pca_power(spark, SF).collect()
    assert len(rows) == 128
    got = {1: np.zeros(64), 2: np.zeros(64)}
    lam = {}
    for r in rows:
        got[r["component"]][r["dim"]] = r["v_micro"] / 1e6
        lam[r["component"]] = r["lam"]
    B, w, v = _numpy_reference(spark)
    for comp, eig_idx in ((1, -1), (2, -2)):
        v_ref, w_ref = v[:, eig_idx], w[eig_idx]
        g = got[comp]
        cos = abs(g @ v_ref) / (np.linalg.norm(g) * np.linalg.norm(v_ref))
        assert cos > 0.99, f"component {comp} direction cosine {cos}"
        assert abs(lam[comp] - w_ref) / abs(w_ref) < 0.02, (comp, lam[comp], w_ref)
    # extracted components are mutually orthogonal (up to micro-unit
    # quantization of the Gram-Schmidt step)
    ortho = abs(got[1] @ got[2]) / (np.linalg.norm(got[1]) * np.linalg.norm(got[2]))
    assert ortho < 0.01, f"components not orthogonal: cos={ortho}"


def test_pca_unit_micro_norm_and_deterministic(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    r1 = sorted(tuple(r) for r in pca_power_int8(emb, components=2).collect())
    r2 = sorted(tuple(r) for r in pca_power_int8(emb, components=2).collect())
    assert r1 == r2
    for comp in (1, 2):
        norm = sum(v * v for c, _, v, _ in r1 if c == comp) ** 0.5
        # re-quantized unit vector: micro-norm within rounding of 1e6
        assert abs(norm - 1e6) < 100, (comp, norm)
