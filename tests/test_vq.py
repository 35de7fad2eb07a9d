"""k-means, IVF assignment and PQ share one quantization kernel.

``train_kmeans`` on one slice of the vectors must give exactly the codebook
that ``pq_codebooks`` trains for that subspace, and ``_assign``'s nearest
centroid must be the single code ``pq_encode`` emits for a one-book encode.
Values are compared bit for bit (the float64 bytes), not within a tolerance.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tesseract_spark.operators import pq
from tesseract_spark.operators.similarity import _assign, train_kmeans

DIM, M, N_CODES = 64, 4, 8


@pytest.fixture(scope="module")
def vecs(spark, sf_dir):
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = embs.select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    # a NULL vector with the smallest id must seed neither trainer
    null_row = spark.createDataFrame([(-1, None)], base.schema)
    return base.unionByName(null_row)


def _book_bytes(frame):
    return sorted(
        (int(r.cid), np.asarray(r.cvec, dtype=np.float64).tobytes())
        for r in frame.collect()
    )


@pytest.mark.parametrize(
    "iters,train_max_rows",
    [(0, 1_000_000), (1, 1_000_000), (3, 1_000_000), (1, 120), (3, 120)],
)
def test_train_kmeans_on_a_slice_equals_its_pq_subspace(vecs, iters, train_max_rows):
    """``train_max_rows=120`` of 501 rows takes the id-hash training
    sample; both trainers must draw the same one."""
    books = pq.pq_codebooks(vecs, M, N_CODES, DIM, iters, train_max_rows)
    sd = DIM // M
    for j, book in enumerate(books):
        sliced = vecs.select("id", F.slice("vec", j * sd + 1, sd).alias("vec"))
        cents = train_kmeans(sliced, N_CODES, iters, train_max_rows)
        got, want = _book_bytes(cents), _book_bytes(book)
        assert len(want) > 0
        assert got == want, f"subspace {j}"


def test_assign_cids_equal_single_group_pq_codes(vecs):
    cents = train_kmeans(vecs, N_CODES, 1)
    cids = {r.id: r.cid for r in _assign(vecs, cents).collect()}
    codes = {r.id: r.codes for r in pq.pq_encode(vecs, [cents], DIM).collect()}
    assert len(cids) == 500 and -1 not in cids
    assert codes.keys() == cids.keys()
    assert all(len(c) == 1 and c[0] == cids[i] for i, c in codes.items())
