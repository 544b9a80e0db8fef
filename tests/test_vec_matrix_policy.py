"""Null and ragged vectors at the numpy ANN kernel's Arrow boundary.

`similarity._vec_matrix` turns one Arrow batch of a list<float> column
into the (rows, dim) float64 matrix the fused kernel multiplies. It
has one path: a flatten and a reshape. A batch with a NULL row or rows
of different lengths has no such matrix, so it raises a ValueError
that names the vector column; zero-length vectors give (rows, 0)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from tidb_lightning_release_4_0_spark.operators.similarity import (
    _vec_matrix,
    ann_topk_pq,
)


def _col(rows):
    return pa.array(rows, pa.list_(pa.float32()))


def test_rectangular_batch_widens_exactly():
    rows = [[0.1, 0.2, 0.3], [1.5, -2.25, 3.0]]
    got = _vec_matrix(_col(rows), 2, "emb")
    assert got.dtype == np.float64 and got.shape == (2, 3)
    want = np.array(rows, dtype=np.float32).astype(np.float64)
    assert np.array_equal(got, want)


def test_sliced_batch_reads_its_own_rows():
    arr = _col([[9.0, 9.0], [1.0, 2.0], [3.0, 4.0]]).slice(1)
    assert _vec_matrix(arr, 2, "emb").tolist() == [[1.0, 2.0], [3.0, 4.0]]


def test_zero_length_vectors_take_the_reshape_path():
    assert _vec_matrix(_col([[], []]), 2, "emb").shape == (2, 0)


def test_ragged_batch_raises_naming_the_column():
    with pytest.raises(ValueError, match=r"'emb' is ragged: lengths 2 to 3"):
        _vec_matrix(_col([[1.0, 2.0], [1.0, 2.0, 3.0]]), 2, "emb")


def test_one_null_row_raises_naming_the_column():
    with pytest.raises(ValueError, match=r"'emb': 1 of 3 rows are NULL"):
        _vec_matrix(_col([[1.0, 2.0], None, [3.0, 4.0]]), 3, "emb")


def test_all_null_batch_raises_naming_the_column():
    with pytest.raises(ValueError, match=r"'emb': 2 of 2 rows are NULL"):
        _vec_matrix(_col([None, None]), 2, "emb")


def test_null_corpus_vector_fails_the_numpy_ann_query(spark):
    """The policy holds inside the fused Spark pass: the task error
    names the column instead of a numpy shape message."""
    rng = np.random.default_rng(3)
    vecs = [[float(x) for x in rng.standard_normal(64)] for _ in range(6)]
    corpus = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)] + [(99, None)],
        "vec_id long, embedding array<float>",
    )
    queries = corpus.filter("vec_id < 2")
    with pytest.raises(Exception, match="vector column 'embedding'"):
        ann_topk_pq(queries, corpus, k=2, encode="numpy").collect()
