"""The vector-quantization kernel shared by k-means, IVF and PQ.

Jégou/Douze/Schmid's IVFADC (TPAMI 2011) is built from three pieces, and
each is written once here:

- a **codebook** ``(cids, C, css)``: codeword ids sorted ascending, the
  codewords as a float64 matrix, and each codeword's exact ``c·c``
  (:func:`_codebook`);
- the **assignment** of rows to their nearest codeword, the margin-banded
  exact-fold argmin (:func:`_slice_argmin`), run over the corpus in one
  ``mapInPandas`` pass per group of vector slices (:func:`_encode_grouped`);
- the deterministic **Lloyd trainer** (:func:`_train_grouped_mats`), which
  trains one codebook per group in one fused pipeline.

k-means is the one-group case ``(1, dim, k)``: ``similarity.train_kmeans``
and ``similarity._assign`` call into this module, as do the PQ subspace
codebooks (``m`` groups) and the IVF-PQ build (coarse quantizer plus ``m``
subspaces). Query-side distance tables — IVF probe selection and the ADC
lookup tables — use :func:`_query_sq_dists`.

Every distance is ``a·a − 2·a·b + b·b`` with each dot product an
``np.cumsum`` fold, which is the same strictly sequential sum as DuckDB's
``list_dot_product``; ties break on ``(exact d², cid)``. So the SQL oracles
(``similarity._sql_assign``, ``_sql_kmeans_ctes``) pick the same codewords
bit for bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _codebook(pairs):
    """``(cid, vector)`` pairs → ``(cids int64[k], C float64[k, d], css
    float64[k])``, sorted by cid. ``css`` is each codeword's exact-fold
    ``c·c``, shared by every assignment and query table."""
    pairs = sorted(pairs, key=lambda p: p[0])
    cids = np.array([c for c, _ in pairs], dtype=np.int64)
    C = np.array([list(v) for _, v in pairs], dtype=np.float64)
    css = np.cumsum(C * C, axis=1)[:, -1] if pairs else np.zeros(0)
    return cids, C, css


def _codeword_rows(mat) -> list:
    """A codebook back as ``(cid, [floats])`` rows, for a local relation or
    a metadata table."""
    cids, C, _ = mat
    return [(int(c), [float(x) for x in row]) for c, row in zip(cids, C)]


def _query_sq_dists(Q, mat):
    """Exact-fold ``|q − c|²`` of every query row of ``Q`` to every codeword
    of ``mat``, as the ``qss − 2·dot + css`` chain the SQL oracles
    evaluate: shape ``[queries, codewords]``."""
    _, C, css = mat
    qss = np.cumsum(Q * Q, axis=1)[:, -1]
    dot = np.cumsum(Q[:, None, :] * C[None, :, :], axis=2)[:, :, -1]
    return qss[:, None] - 2.0 * dot + css[None, :]


def _slice_argmin(S, mat):
    """Nearest codeword of each row of ``S`` in ``mat = (cids, C, css)``.

    One BLAS matmul gives approximate distances to every codeword. The
    matmul sums pairwise and the fold sums strictly in order, so the two
    differ by about ``dim·ulp·magnitude`` (≈1e-11 at dim 64); a 1e-6
    relative band above each row's approximate minimum therefore contains
    the exact argmin and every exact tie. Only those survivors (almost
    always one) are rescored with the sequential fold, and the winner is the
    least ``(exact d², cid)``. Returns ``(winning cids, winning row indices
    into C)``."""
    cids, C, css = mat
    daa = np.cumsum(S * S, axis=1)[:, -1]
    approx = daa[:, None] - 2.0 * (S @ C.T) + css[None, :]
    amin = approx.min(axis=1)
    margin = 1e-6 * (np.abs(daa)[:, None] + np.abs(css)[None, :] + 1.0)
    ri, ci = np.nonzero(approx <= (amin[:, None] + margin))
    dab = np.cumsum(S[ri] * C[ci], axis=1)[:, -1]
    d2 = daa[ri] - 2.0 * dab + css[ci]
    order = np.lexsort((cids[ci], d2, ri))  # by (row, exact d², cid)
    first = np.unique(ri[order], return_index=True)[1]
    win = ci[order[first]]  # rows appear sorted 0..n-1
    return cids[win], win


def _encode_grouped(
    vecs: DataFrame,
    mats,
    groups: list[tuple[int, int, int]],
    keep_vec: bool = False,
) -> DataFrame:
    """``(id [, vec], codes array<bigint>)``: one linear ``mapInPandas``
    pass emitting, per row, one code per group — the :func:`_slice_argmin`
    of the group's ``vec[start, start+width)`` slice (1-based ``start``)
    against its codebook in ``mats``. No join, no shuffle, no row expansion:
    each vector moves through Arrow once.

    NULL vectors are dropped (a NULL distance would win the NULLS-FIRST rank
    of the SQL oracle). Any empty codebook (an empty or all-NULL corpus
    trains none) gives an empty result with the output schema rather than
    raising: empty slices and increments are a legitimate pipeline state."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    src = vecs.where(F.col("vec").isNotNull()).select("id", "vec")
    fields = [src.schema["id"]]
    if keep_vec:
        fields.append(src.schema["vec"])
    fields.append(StructField("codes", ArrayType(LongType())))
    out_schema = StructType(fields)
    if any(len(cids) == 0 for cids, _, _ in mats):
        out = src.withColumn("codes", F.lit(None).cast(ArrayType(LongType())))
        cols = ["id", "vec", "codes"] if keep_vec else ["id", "codes"]
        return out.where(F.lit(False)).select(*cols)
    bounds = [(s - 1, s - 1 + w) for s, w, _ in groups]

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["vec"].tolist(), dtype=np.float64)
            codes = np.empty((len(pdf), len(mats)), dtype=np.int64)
            for g, ((lo, hi), mat) in enumerate(zip(bounds, mats)):
                codes[:, g] = _slice_argmin(V[:, lo:hi], mat)[0]
            # positional (to_numpy): never let pandas re-align a non-Range
            # batch index against the positional code array
            cols = {"id": pdf["id"].to_numpy()}
            if keep_vec:
                cols["vec"] = pdf["vec"].to_numpy()
            cols["codes"] = codes.tolist()
            yield pd.DataFrame(cols)

    return src.mapInPandas(encode, out_schema)


def _seed_rows(vecs: DataFrame, k: int) -> list:
    """The ``k`` smallest-id non-NULL rows as ``(cid, cvec)`` Rows: every
    trainer's seeds (no RNG). A NULL vector cannot seed a codeword, since
    it would poison every distance, and assignment drops it anyway."""
    return (
        vecs.where(F.col("vec").isNotNull())
        .orderBy("id")
        .limit(k)
        .select(F.col("id").alias("cid"), F.col("vec").alias("cvec"))
        .collect()
    )


def _train_grouped_mats(
    vecs: DataFrame,
    groups: list[tuple[int, int, int]],
    iters: int,
    train_max_rows: int | None,
    probe_frame: DataFrame | None = None,
    seed_rows: list | None = None,
):
    """Deterministic Lloyd k-means over several views of the same
    ``(id, vec)`` rows in one fused pipeline → one codebook per group.

    ``groups`` is ``[(start, width, k), ...]``: group ``g`` trains a
    ``k``-codeword codebook on ``vec[start : start+width-1]`` (1-based,
    inclusive). ``similarity.train_kmeans`` is the one group
    ``(1, dim, k)``; the PQ subspaces are ``m`` groups, and the IVF-PQ build
    adds its coarse quantizer as one more. All groups share:

    - **seeds**: each group's ``k`` smallest-id non-NULL rows, sliced, so
      one collect of ``max(k)`` rows serves every group. ``seed_rows``
      passes pre-collected ``(cid, cvec)`` rows instead; they must be those
      rows of ``vecs`` (the residual IVF-PQ trainer derives them on the
      driver from the base seeds, through the same arithmetic the residual
      frame applies).
    - **sampling**: above ``train_max_rows`` rows the Lloyd loop trains on a
      deterministic id-hash sample of about that size (``xxhash64(id) %
      denom < num``: no RNG, independent of partitioning). The count
      includes NULL vectors. ``probe_frame`` is a cheaper frame with the
      same row count to count instead (the residual trainer counts the raw
      non-NULL rows rather than running the residual pass). ``None``
      disables sampling.
    - **means**: exact decimal sums per ``(group, cid, position)``
      (``sum(cast(x as decimal(38,9))) / count``), which are independent of
      row order, hence bit-stable across partitionings and engines.

    Cost: one probe, one seed collect, then per Lloyd iteration one linear
    assignment pass, one means shuffle and one bounded collect, for all
    groups together."""
    train = vecs.select("id", "vec")
    if train_max_rows is not None and iters > 0:
        # limit-probe first: the full count only runs when actually oversized
        probe = probe_frame if probe_frame is not None else vecs
        if probe.limit(train_max_rows + 1).count() > train_max_rows:
            n_total = probe.count()
            denom = 1 << 20
            num = max(1, (denom * train_max_rows) // n_total)
            train = train.where(
                F.pmod(F.xxhash64(F.col("id")), F.lit(denom)) < F.lit(num)
            )
    if train_max_rows is not None and iters > 1:
        # each Lloyd iteration re-evaluates `train`. For a derived view (the
        # residual frame runs a full coarse argmin per evaluation) that
        # repeats the computation, so the bounded training frame (≤ about
        # train_max_rows rows) is materialized lazily once; at iters == 1 it
        # is evaluated once and the checkpoint's block write buys nothing
        train = train.localCheckpoint(eager=False)
    if seed_rows is None:
        seed_rows = _seed_rows(vecs, max(k for _, _, k in groups))
    seeds = sorted(seed_rows, key=lambda r: r.cid)
    mats = [
        _codebook((r.cid, list(r.cvec)[s - 1 : s - 1 + w]) for r in seeds[:k])
        for s, w, k in groups
    ]
    if not seeds:
        return mats
    starts = F.array(*[F.lit(s) for s, _, _ in groups])
    widths = F.array(*[F.lit(w) for _, w, _ in groups])
    for _ in range(iters):
        assigned = _encode_grouped(train, mats, groups, keep_vec=True)
        means = (
            assigned.select("vec", F.posexplode("codes").alias("g", "cid"))
            .select(
                "g",
                "cid",
                F.posexplode(
                    F.slice(
                        "vec",
                        F.element_at(starts, F.col("g") + 1),
                        F.element_at(widths, F.col("g") + 1),
                    )
                ).alias("pos", "x"),
            )
            .groupBy("g", "cid", (F.col("pos") + 1).alias("i"))
            .agg(
                (
                    F.sum(F.col("x").cast("decimal(38,9)")).cast("double")
                    / F.count("*")
                ).alias("v")
            )
        )
        # bounded collect (Σ_g k_g × width_g rows of codebook metadata): the
        # driver assembles the codeword arrays, ordering each by position
        by_key: dict = {}
        for r in means.collect():
            by_key.setdefault((r.g, r.cid), []).append((r.i, r.v))
        mats = [
            _codebook(
                (cid, [v for _, v in sorted(vs)])
                for (gg, cid), vs in by_key.items()
                if gg == g
            )
            for g in range(len(groups))
        ]
    return mats
