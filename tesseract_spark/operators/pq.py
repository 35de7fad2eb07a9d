"""Product-quantization (PQ) ANN — the memory-bounded 100 TB serving tier.

Jégou/Douze/Schmid's product quantization (TPAMI 2011, public method): split
each dim-``d`` vector into ``m`` subspaces, train an independent k-means
codebook per subspace, and store each vector as ``m`` code ids. The corpus
then serves ANN queries from the CODES table alone — ``m`` small ints per
vector instead of ``d`` floats (4 codes ≈ 32 B/row vs 64×8 B raw: a 16×
smaller scan; with byte codes in production storage, 64×) — via asymmetric
distance computation (ADC): per query, a tiny ``m × n_codes`` lookup table
of exact subspace distances, summed per stored code tuple.

Scale shape (every stage linear, corpus never shuffles):

- **Codebooks**: the ``m`` subspaces train as ``m`` groups of the shared
  Lloyd trainer, :func:`~.vq._train_grouped_mats` (deterministic seeding,
  exact decimal means, hash-bucket-capped training sample). Subspace ``j``'s
  codebook is bit-equal to :func:`~.similarity.train_kmeans` on that slice
  (``tests/test_vq.py``): ``n_codes × d`` doubles total, a bounded driver
  table.
- **Encode**: ONE ``mapInPandas`` pass over the corpus
  (:func:`~.vq._encode_grouped`); per Arrow batch and subspace, one BLAS
  matmul + the margin-banded exact-fold argmin that ``similarity._assign``
  also runs. No join, no shuffle, no row expansion.
- **ADC scan**: ONE linear pass over the CODES table (Arrow moves ``m``
  longs per row, not ``d`` doubles); per batch each query keeps only its
  top-``rerank`` partial by ``(adc, id)``, so the global rank window sees
  ``batches × queries × rerank`` rows, never N.
- **Exact rescore**: the ≤ ``queries × rerank`` winning candidates are
  BROADCAST back against the corpus for true cosine — one scan, no corpus
  shuffle — then the final top-k window.

Determinism/oracle: codebooks and codes reuse the k-means machinery whose
SQL mirror is proven by the IVF/SemDeDup oracle family; ADC distances are
sums (in fixed subspace order) of exact sequential-fold subspace distances,
so Spark's ``np.cumsum`` folds and DuckDB's ``list_dot_product`` agree
bit-for-bit and both engines rank the SAME candidate set without any
rounding (the :func:`~.similarity._sql_assign` precedent). Only the final
cosine is rounded (HALF_UP, 6 dp) like every other ANN entry.

No reference counterpart (tesseract-olap serves OLAP aggregates only) —
this extends the engine's ANN tiers: brute-force (exact), LSH (bucketed),
IVF (partition-pruned lists), int8 (4× scan), PQ (16-64× scan).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity import _sql_assign, _sql_kmeans_ctes, cosine_col
from .vq import (
    _codebook,
    _codeword_rows,
    _encode_grouped,
    _query_sq_dists,
    _slice_argmin,
    _train_grouped_mats,
)


def _residual_frame(vecs: DataFrame, coarse_mat) -> DataFrame:
    """``(id, vec = v − nearest coarse centroid)`` in ONE linear
    ``mapInPandas`` pass: the shared assignment kernel picks each row's
    coarse centroid, then a float64 elementwise subtraction (IEEE — the
    DuckDB ``list_transform(list_zip(v, c), z -> z[1] - z[2])`` mirror is
    bit-equal). This frame exists to TRAIN the residual subspace codebooks
    (Jégou et al. TPAMI 2011 §IV's IVFADC form: quantize the residual, not
    the vector — the residual's energy is what the coarse quantizer didn't
    explain, so the same code budget buys a finer reconstruction); the
    full-corpus encode recomputes residuals inside its own single pass
    (:func:`_encode_residual`) rather than materializing this."""
    src = vecs.where(F.col("vec").isNotNull()).select("id", "vec")
    if len(coarse_mat[0]) == 0:
        return src.where(F.lit(False))
    _, C, _ = coarse_mat

    def resid(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["vec"].tolist(), dtype=np.float64)
            _, win = _slice_argmin(V, coarse_mat)
            yield pd.DataFrame({"id": pdf["id"].to_numpy(), "vec": (V - C[win]).tolist()})

    return src.mapInPandas(resid, src.schema)


def _encode_residual(
    vecs: DataFrame, coarse_mat, pq_mats, sd: int, keep_vec: bool = False
) -> DataFrame:
    """``(id [, vec], cid, codes)`` — the IVFADC encode: per Arrow batch one
    coarse argmin (full vector), one float64 residual subtraction, and per
    subspace the shared argmin kernel over the RESIDUAL slice. One linear
    pass, no join, no shuffle, no row expansion — same scan shape as
    :func:`_encode_grouped`, the residual arithmetic rides the batch."""
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StructField,
        StructType,
    )

    src = vecs.where(F.col("vec").isNotNull()).select("id", "vec")
    fields = [src.schema["id"]]
    if keep_vec:
        fields.append(src.schema["vec"])
    fields.append(StructField("cid", LongType()))
    fields.append(StructField("codes", ArrayType(LongType())))
    out_schema = StructType(fields)
    if len(coarse_mat[0]) == 0 or any(len(m[0]) == 0 for m in pq_mats):
        return (
            src.withColumn("cid", F.lit(None).cast(LongType()))
            .withColumn("codes", F.lit(None).cast(ArrayType(LongType())))
            .where(F.lit(False))
            .select(*[f.name for f in fields])
        )
    _, C, _ = coarse_mat
    m = len(pq_mats)

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["vec"].tolist(), dtype=np.float64)
            coarse_cids, win = _slice_argmin(V, coarse_mat)
            R = V - C[win]
            codes = np.empty((len(pdf), m), dtype=np.int64)
            for j, mat in enumerate(pq_mats):
                codes[:, j] = _slice_argmin(R[:, j * sd : (j + 1) * sd], mat)[0]
            cols = {"id": pdf["id"].to_numpy()}
            if keep_vec:
                cols["vec"] = pdf["vec"].to_numpy()
            cols["cid"] = coarse_cids
            cols["codes"] = codes.tolist()
            yield pd.DataFrame(cols)

    return src.mapInPandas(encode, out_schema)


def _subspace_luts(Q, mats, sd: int) -> list:
    """ADC lookup tables: per subspace ``j``, ``(cids, d²[query, code])``
    of the query rows' ``j``-th slice against codebook ``j``."""
    return [
        (mat[0], _query_sq_dists(Q[:, j * sd : (j + 1) * sd], mat))
        for j, mat in enumerate(mats)
    ]


def _adc_candidates_residual(
    codes: DataFrame,
    pq_mats,
    coarse_rows: dict[int, "list[float]"],
    qids,
    Q,
    sd: int,
    rerank: int,
    probed: dict[int, frozenset],
) -> DataFrame:
    """Residual-ADC candidate selection over a ``(id, codes, cid)`` table:
    the lookup table is per (query, PROBED COARSE LIST) — the query's
    residual against THAT list's centroid, sliced per subspace — because
    under IVFADC two rows in different lists with the same PQ code tuple
    reconstruct different points. Still ONE linear scan: per batch the rows
    are grouped by their (few, probed-only) cid values and each group sums
    its list's LUT terms in fixed subspace order; per-batch partial
    top-``rerank`` by raw ``(adc, id)``, then the global rank window —
    exactly the :func:`_adc_candidates` shape with a cid-indexed LUT."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    nq = len(qids)
    luts = {
        c: _subspace_luts(Q - np.array(coarse_rows[c], dtype=np.float64), pq_mats, sd)
        for c in sorted({c for s in probed.values() for c in s})
    }

    id_field = codes.schema["id"]
    scan_schema = StructType(
        [
            StructField("query_id", id_field.dataType),
            StructField("id", id_field.dataType),
            StructField("adc", DoubleType()),
        ]
    )
    probed_arrays = [
        np.array(sorted(probed.get(int(q), ())), dtype=np.int64) for q in qids
    ]

    def adc_scan(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = np.array(pdf["codes"].tolist(), dtype=np.int64)
            ids = pdf["id"].to_numpy()
            row_cids = pdf["cid"].to_numpy().astype(np.int64)
            adc = np.full((nq, len(ids)), np.inf)
            for c in np.unique(row_cids):
                if int(c) not in luts:
                    continue  # unprobed list: every query's mask drops it
                rows = np.nonzero(row_cids == c)[0]
                acc = None
                # fixed subspace order: left-assoc sum matches the SQL chain
                for j, (cids, d2) in enumerate(luts[int(c)]):
                    term = d2[:, np.searchsorted(cids, cm[rows, j])]
                    acc = term.copy() if acc is None else acc + term
                adc[:, rows] = acc
            for qi in range(nq):
                mask = np.isin(row_cids, probed_arrays[qi])
                cand_ids = ids[mask]
                vals = adc[qi][mask]
                if len(cand_ids) == 0:
                    continue
                order = np.lexsort((cand_ids, vals))[:rerank]
                yield pd.DataFrame(
                    {
                        "query_id": np.full(len(order), qids[qi], dtype=np.int64),
                        "id": cand_ids[order],
                        "adc": vals[order],
                    }
                )

    partials = codes.mapInPandas(adc_scan, scan_schema)
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("id").asc()
    )
    return (
        partials.withColumn("rn", F.row_number().over(w_adc))
        .filter(F.col("rn") <= rerank)
        .select("query_id", F.col("id").alias("neighbor_id"))
    )


def _subspace_groups(m: int, sd: int, k: int = 0) -> list[tuple[int, int, int]]:
    """The ``m`` contiguous ``sd``-wide subspaces as kernel groups
    ``(start, width, k)``; ``k`` matters only to training."""
    return [(j * sd + 1, sd, k) for j in range(m)]


def pq_codebooks(
    vecs: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    iters: int = 1,
    train_max_rows: int | None = 1_000_000,
) -> list[DataFrame]:
    """One deterministic k-means codebook per subspace over ``(id, vec)``
    rows: subspace ``j`` trains on ``vec[j*sd+1 : (j+1)*sd]`` (1-based
    ``F.slice``; ``sd = dim // m``) and returns ``(cid, cvec)``, bit-equal
    to :func:`~.similarity.train_kmeans` on that slice
    (``tests/test_vq.py``), so the unrolled-CTE SQL mirror applies per
    subspace. The m trainings run as one fused pipeline
    (:func:`~.vq._train_grouped_mats`); the returned frames are the
    materialized codebooks (m × n_codes rows — driver-bounded like every
    centroid table)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    groups = _subspace_groups(m, dim // m, n_codes)
    mats = _train_grouped_mats(vecs, groups, iters, train_max_rows)
    from ..session import local_df

    ddl = "cid bigint, cvec array<double>"
    return [local_df(vecs.sparkSession, _codeword_rows(mat), ddl) for mat in mats]


def _collect_books(books: list[DataFrame]):
    """Collect each codebook ONCE (this runs the Lloyd job) into a kernel
    codebook ``(cids, C, css)``."""
    return [_codebook(b.select("cid", "cvec").collect()) for b in books]


def pq_encode(vecs: DataFrame, books: list[DataFrame], dim: int) -> DataFrame:
    """Public encode entry: ``(id, vec)`` + trained codebooks → ``(id,
    codes)``, one linear ``mapInPandas`` pass (:func:`~.vq._encode_grouped`).
    Collects the codebooks (bounded: ``n_codes × dim`` doubles)."""
    groups = _subspace_groups(len(books), dim // len(books))
    return _encode_grouped(vecs, _collect_books(books), groups)


def _adc_candidates(
    codes: DataFrame,
    mats,
    qids,
    Q,
    sd: int,
    rerank: int,
    exclude_self: bool = True,
    probed: dict[int, frozenset] | None = None,
) -> DataFrame:
    """ADC candidate selection over a ``(id, codes [, cid])`` table:
    per-query lookup tables of exact-fold subspace distances (the same
    ``(qss - 2·dot) + css`` shape as the SQL expression), ONE linear
    ``mapInPandas`` scan summing them per stored code tuple in fixed
    subspace order (left-assoc, matching the SQL ``+`` chain), per-batch
    partial top-``rerank`` by raw ``(adc, id)`` (no rounding needed — both
    engines' folds are bit-equal, the ``_sql_assign`` precedent), then the
    global rank window over the bounded partials. Returns ``(query_id,
    neighbor_id)``. ``probed`` (qid → allowed coarse-cid set) restricts each
    query to its own probed inverted lists (IVF-PQ serving; requires a
    ``cid`` column); ``exclude_self`` drops id == query_id (self-query
    shape)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    lut = _subspace_luts(Q, mats, sd)

    id_field = codes.schema["id"]
    scan_schema = StructType(
        [
            StructField("query_id", id_field.dataType),
            StructField("id", id_field.dataType),
            StructField("adc", DoubleType()),
        ]
    )
    nq = len(qids)
    probed_arrays = (
        [
            np.array(sorted(probed.get(int(q), ())), dtype=np.int64)
            for q in qids
        ]
        if probed is not None
        else None
    )

    def adc_scan(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = np.array(pdf["codes"].tolist(), dtype=np.int64)
            ids = pdf["id"].to_numpy()
            row_cids = (
                pdf["cid"].to_numpy().astype(np.int64)
                if probed_arrays is not None
                else None
            )
            adc = None
            # fixed subspace order: left-assoc sum matches the SQL `+` chain
            for j, (cids, d2) in enumerate(lut):
                term = d2[:, np.searchsorted(cids, cm[:, j])]
                adc = term.copy() if adc is None else adc + term
            for qi in range(nq):
                mask = np.ones(len(ids), dtype=bool)
                if exclude_self:
                    mask &= ids != qids[qi]
                if probed_arrays is not None:
                    mask &= np.isin(row_cids, probed_arrays[qi])
                cand_ids = ids[mask]
                vals = adc[qi][mask]
                if len(cand_ids) == 0:
                    continue
                order = np.lexsort((cand_ids, vals))[:rerank]
                yield pd.DataFrame(
                    {
                        "query_id": np.full(len(order), qids[qi], dtype=np.int64),
                        "id": cand_ids[order],
                        "adc": vals[order],
                    }
                )

    partials = codes.mapInPandas(adc_scan, scan_schema)
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("id").asc()
    )
    return (
        partials.withColumn("rn", F.row_number().over(w_adc))
        .filter(F.col("rn") <= rerank)
        .select("query_id", F.col("id").alias("neighbor_id"))
    )


def pq_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    m: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    iters: int = 1,
    rerank: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_max_rows: int | None = 1_000_000,
) -> DataFrame:
    """PQ ANN: per-subspace codebooks → one-pass encode → ADC scan of the
    codes table with per-batch partial top-``rerank`` → exact cosine rescore
    of the broadcast candidates → top-k. Output matches the other ANN tiers:
    ``(query_id, neighbor_id, cos_sim, rank)``."""
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    vecs = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sd = dim // m
    groups = _subspace_groups(m, sd, n_codes)
    mats = _train_grouped_mats(vecs, groups, iters, train_max_rows)
    codes = _encode_grouped(vecs, mats, groups)

    queries = vecs.filter(F.col("id").isin(query_ids)).select(
        F.col("id").alias("query_id"), F.col("vec").alias("qvec")
    )
    qrows = sorted(queries.collect(), key=lambda r: r.query_id)
    if not qrows or any(len(cids) == 0 for cids, _, _ in mats):
        id_t = codes.schema["id"].dataType
        empty = StructType(
            [
                StructField("query_id", id_t),
                StructField("neighbor_id", id_t),
                StructField("cos_sim", DoubleType()),
                StructField("rank", IntegerType()),
            ]
        )
        return vecs.sparkSession.createDataFrame([], empty)

    Q = np.array([list(r.qvec) for r in qrows], dtype=np.float64)
    qids = np.array([r.query_id for r in qrows], dtype=np.int64)
    cand = _adc_candidates(codes, mats, qids, Q, sd, rerank)
    scored = (
        vecs.join(F.broadcast(cand), F.col("id") == F.col("neighbor_id"))
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_col(F.col("qvec"), F.col("vec")), 6).alias("cos_sim"),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def pq_topk_oracle_sql(
    query_ids: list[int],
    k: int = 5,
    m: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    iters: int = 1,
    rerank: int = 20,
    table: str = "embeddings",
) -> str:
    """Exact SQL mirror of :func:`pq_topk`: per-subspace k-means CTEs
    (prefixed ``s{j}_``, vectors sliced ``[a:b]``), per-subspace assignment
    (= codes), ADC as the left-assoc sum of per-subspace exact-fold
    distances ranked RAW by ``(adc, id)`` (the ``_sql_assign`` precedent:
    both engines' folds are bit-equal, so no rounding is needed to agree on
    the candidate set), then the rounded exact-cosine top-k."""
    sd = dim // m
    ctes: list[str] = []
    finals: list[str] = []
    for j in range(m):
        p = f"s{j}_"
        sub, cur = _sql_kmeans_ctes(
            n_codes,
            iters,
            sd,
            table,
            prefix=p,
            vec_expr=f"(embedding::DOUBLE[])[{j * sd + 1}:{(j + 1) * sd}]",
        )
        ctes += sub
        finals.append(cur)
        ctes.append(f"{p}codes AS {_sql_assign(f'{p}v', cur, 'id, cid')}")
    ctes.append(
        f"vq AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM {table})"
    )
    ids = ", ".join(str(i) for i in query_ids)
    ctes.append(
        f"q AS (SELECT id AS query_id, vec AS qvec FROM vq WHERE id IN ({ids}))"
    )
    joins = ["q CROSS JOIN s0_codes c0"]
    for j in range(1, m):
        joins.append(f"JOIN s{j}_codes c{j} ON c{j}.id = c0.id")
    for j in range(m):
        joins.append(f"JOIN {finals[j]} b{j} ON b{j}.cid = c{j}.cid")
    terms = []
    for j in range(m):
        qs = f"q.qvec[{j * sd + 1}:{(j + 1) * sd}]"
        terms.append(
            f"(list_dot_product({qs}, {qs}) - 2*list_dot_product({qs}, b{j}.cvec)"
            f" + list_dot_product(b{j}.cvec, b{j}.cvec))"
        )
    adc_expr = " + ".join(terms)
    ctes.append(
        f"""adc AS (
      SELECT q.query_id, c0.id, {adc_expr} AS adc
      FROM {" ".join(joins)}
      WHERE c0.id != q.query_id
    )"""
    )
    ctes.append(
        f"""cand AS (
      SELECT query_id, id FROM (
        SELECT query_id, id,
               row_number() OVER (PARTITION BY query_id ORDER BY adc ASC, id ASC) AS rn
        FROM adc) WHERE rn <= {rerank}
    )"""
    )
    ctes.append(
        """scored AS (
      SELECT cand.query_id, cand.id AS neighbor_id,
             round(list_dot_product(q.qvec, nv.vec)
                   / (sqrt(list_dot_product(q.qvec, q.qvec))
                    * sqrt(list_dot_product(nv.vec, nv.vec))), 6) AS cos_sim
      FROM cand JOIN q ON q.query_id = cand.query_id
      JOIN vq nv ON nv.id = cand.id
    )"""
    )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM scored)
    WHERE rank <= {k}
    """


def ivfpq_residual_external_query_oracle_sql(
    corpus_sql: str,
    queries_sql: str,
    k: int = 5,
    n_centroids: int = 8,
    m: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    iters: int = 1,
    nprobe: int = 2,
    rerank: int = 20,
    allowed_sql: str | None = None,
) -> str:
    """Exact SQL mirror of the RESIDUAL (IVFADC) index form —
    ``ann_index.build_ivfpq_index(residual=True)`` + ``query_ivfpq_index``:

    - coarse k-means + ``lists`` assignment exactly as the plain form;
    - ``resid``: each row's vector minus ITS coarse centroid
      (``list_transform(list_zip(v, c), z -> z[1] - z[2])`` — IEEE double
      subtraction, bit-equal to the numpy batch form);
    - the m subspace codebooks train on ``resid`` (passed to the k-means
      CTE builder as a derived table), codes assign on residual slices;
    - ``qres``: per (query, probed list) the query's residual against THAT
      list's centroid — the ADC terms dot ``qres.rvec[a:b]`` against the
      codebook rows, left-assoc sum in fixed subspace order, ranked RAW by
      ``(adc, id)`` (the ``_sql_assign`` precedent);
    - exact rescore on the ORIGINAL vectors, rounded cosine top-k.

    No self-match exclusion (external queries)."""
    sd = dim // m
    ctes, cur = _sql_kmeans_ctes(n_centroids, iters, dim, corpus_sql)
    ctes.append(f"lists AS {_sql_assign('v', cur)}")
    allow_join = ""
    if allowed_sql is not None:
        ctes.append(f"allowed AS ({allowed_sql})")
        allow_join = " JOIN (SELECT DISTINCT id FROM allowed) aw ON aw.id = l.id"
    ctes.append(
        f"""resid AS (
      SELECT l.id, list_transform(list_zip(l.vec, c.cvec), z -> z[1] - z[2]) AS vec
      FROM lists l JOIN {cur} c ON c.cid = l.cid
    )"""
    )
    resid_src = "(SELECT id AS vec_id, vec AS embedding FROM resid)"
    finals: list[str] = []
    for j in range(m):
        p = f"s{j}_"
        sub, scur = _sql_kmeans_ctes(
            n_codes,
            iters,
            sd,
            resid_src,
            prefix=p,
            vec_expr=f"(embedding::DOUBLE[])[{j * sd + 1}:{(j + 1) * sd}]",
        )
        ctes += sub
        finals.append(scur)
        ctes.append(f"{p}codes AS {_sql_assign(f'{p}v', scur, 'id, cid')}")
    ctes.append(f"q AS ({queries_sql})")
    d2q = (
        "(list_dot_product(q.qvec, q.qvec) - 2*list_dot_product(q.qvec, c.cvec)"
        " + list_dot_product(c.cvec, c.cvec))"
    )
    ctes.append(
        f"""probe AS (
      SELECT query_id, cid FROM (
        SELECT q.query_id, c.cid,
               row_number() OVER (PARTITION BY q.query_id ORDER BY {d2q} ASC, c.cid ASC) AS pr
        FROM q CROSS JOIN {cur} c) WHERE pr <= {nprobe}
    )"""
    )
    ctes.append(
        f"""qres AS (
      SELECT q.query_id, p.cid,
             list_transform(list_zip(q.qvec, cc.cvec), z -> z[1] - z[2]) AS rvec
      FROM q JOIN probe p ON p.query_id = q.query_id
      JOIN {cur} cc ON cc.cid = p.cid
    )"""
    )
    joins = [
        "qres",
        "JOIN lists l ON l.cid = qres.cid" + allow_join,
        "JOIN s0_codes c0 ON c0.id = l.id",
    ]
    for j in range(1, m):
        joins.append(f"JOIN s{j}_codes c{j} ON c{j}.id = l.id")
    for j in range(m):
        joins.append(f"JOIN {finals[j]} b{j} ON b{j}.cid = c{j}.cid")
    terms = []
    for j in range(m):
        rq = f"qres.rvec[{j * sd + 1}:{(j + 1) * sd}]"
        terms.append(
            f"(list_dot_product({rq}, {rq}) - 2*list_dot_product({rq}, b{j}.cvec)"
            f" + list_dot_product(b{j}.cvec, b{j}.cvec))"
        )
    adc_expr = " + ".join(terms)
    ctes.append(
        f"""adc AS (
      SELECT qres.query_id, l.id, {adc_expr} AS adc
      FROM {" ".join(joins)}
    )"""
    )
    ctes.append(
        f"""cand AS (
      SELECT query_id, id FROM (
        SELECT query_id, id,
               row_number() OVER (PARTITION BY query_id ORDER BY adc ASC, id ASC) AS rn
        FROM adc) WHERE rn <= {rerank}
    )"""
    )
    ctes.append(
        """scored AS (
      SELECT cand.query_id, cand.id AS neighbor_id,
             round(list_dot_product(q.qvec, nv.vec)
                   / (sqrt(list_dot_product(q.qvec, q.qvec))
                    * sqrt(list_dot_product(nv.vec, nv.vec))), 6) AS cos_sim
      FROM cand JOIN q ON q.query_id = cand.query_id
      JOIN v nv ON nv.id = cand.id
    )"""
    )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM scored)
    WHERE rank <= {k}
    """


def ivfpq_external_query_oracle_sql(
    corpus_sql: str,
    queries_sql: str,
    k: int = 5,
    n_centroids: int = 8,
    m: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    iters: int = 1,
    nprobe: int = 2,
    rerank: int = 20,
    allowed_sql: str | None = None,
) -> str:
    """Exact SQL mirror of ``ann_index.build_ivfpq_index`` +
    ``query_ivfpq_index``: the coarse k-means/probe CTEs of
    :func:`~.similarity.ivf_external_query_oracle_sql` composed with the
    per-subspace codebook/codes/ADC CTEs of :func:`pq_topk_oracle_sql`.
    Each query's ADC candidates are restricted to its OWN probed lists
    (the ``probe ⋈ lists`` join), ranked RAW by ``(adc, id)``, then
    exact-rescored. ``corpus_sql`` must expose ``vec_id``/``embedding``;
    ``queries_sql`` must yield ``query_id, qvec DOUBLE[]``. No self-match
    exclusion (external queries). ``allowed_sql`` (one ``id`` column)
    mirrors the FILTERED serving path: a semi-join on the scan feeding the
    ADC ranking, exactly where ``query_ivfpq_index(allowed=...)`` applies
    it."""
    sd = dim // m
    ctes, cur = _sql_kmeans_ctes(n_centroids, iters, dim, corpus_sql)
    ctes.append(f"lists AS {_sql_assign('v', cur)}")
    allow_join = ""
    if allowed_sql is not None:
        ctes.append(f"allowed AS ({allowed_sql})")
        allow_join = " JOIN (SELECT DISTINCT id FROM allowed) aw ON aw.id = l.id"
    finals: list[str] = []
    for j in range(m):
        p = f"s{j}_"
        sub, scur = _sql_kmeans_ctes(
            n_codes,
            iters,
            sd,
            corpus_sql,
            prefix=p,
            vec_expr=f"(embedding::DOUBLE[])[{j * sd + 1}:{(j + 1) * sd}]",
        )
        ctes += sub
        finals.append(scur)
        ctes.append(f"{p}codes AS {_sql_assign(f'{p}v', scur, 'id, cid')}")
    ctes.append(f"q AS ({queries_sql})")
    d2q = (
        "(list_dot_product(q.qvec, q.qvec) - 2*list_dot_product(q.qvec, c.cvec)"
        " + list_dot_product(c.cvec, c.cvec))"
    )
    ctes.append(
        f"""probe AS (
      SELECT query_id, cid FROM (
        SELECT q.query_id, c.cid,
               row_number() OVER (PARTITION BY q.query_id ORDER BY {d2q} ASC, c.cid ASC) AS pr
        FROM q CROSS JOIN {cur} c) WHERE pr <= {nprobe}
    )"""
    )
    joins = [
        "q",
        "JOIN probe p ON p.query_id = q.query_id",
        "JOIN lists l ON l.cid = p.cid" + allow_join,
        "JOIN s0_codes c0 ON c0.id = l.id",
    ]
    for j in range(1, m):
        joins.append(f"JOIN s{j}_codes c{j} ON c{j}.id = l.id")
    for j in range(m):
        joins.append(f"JOIN {finals[j]} b{j} ON b{j}.cid = c{j}.cid")
    terms = []
    for j in range(m):
        qs = f"q.qvec[{j * sd + 1}:{(j + 1) * sd}]"
        terms.append(
            f"(list_dot_product({qs}, {qs}) - 2*list_dot_product({qs}, b{j}.cvec)"
            f" + list_dot_product(b{j}.cvec, b{j}.cvec))"
        )
    adc_expr = " + ".join(terms)
    ctes.append(
        f"""adc AS (
      SELECT q.query_id, l.id, {adc_expr} AS adc
      FROM {" ".join(joins)}
    )"""
    )
    ctes.append(
        f"""cand AS (
      SELECT query_id, id FROM (
        SELECT query_id, id,
               row_number() OVER (PARTITION BY query_id ORDER BY adc ASC, id ASC) AS rn
        FROM adc) WHERE rn <= {rerank}
    )"""
    )
    ctes.append(
        """scored AS (
      SELECT cand.query_id, cand.id AS neighbor_id,
             round(list_dot_product(q.qvec, nv.vec)
                   / (sqrt(list_dot_product(q.qvec, q.qvec))
                    * sqrt(list_dot_product(nv.vec, nv.vec))), 6) AS cos_sim
      FROM cand JOIN q ON q.query_id = cand.query_id
      JOIN v nv ON nv.id = cand.id
    )"""
    )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM scored)
    WHERE rank <= {k}
    """
