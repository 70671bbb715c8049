"""functions/pca.py: the distributed fixed-point gram matrix, checked
against a straight numpy X^T X."""

from __future__ import annotations

import numpy as np
import pandas as pd

from mapreducewordoccurences_spark.functions.pca import gram_matrix
from tests.conftest import SF_DIR


def _np_data():
    pdf = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    return pdf["vec_id"].to_numpy(), np.stack(
        [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
    )


def test_gram_matches_numpy(spark):
    ids, x = _np_data()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    g = gram_matrix(emb, "embedding").collect()
    want = x.T @ x
    for r in g:
        assert abs(r.g - want[r.i][r.j]) < 1e-9
