"""Persistent IVF ANN index: build once, serve queries with partition pruning.

`similarity.ivf_topk` re-trains and re-assigns the inverted lists on every
call — fine for a one-shot query, wrong for a serving path: at 100 TB the
assignment pass IS the expensive part (a full corpus map), and an index that
cannot be reused isn't an index (VERDICT r6 "next round" #5).

This module splits the lifecycle:

- :func:`build_ivf_index` trains k-means (``similarity.train_kmeans`` —
  deterministic seeding, exact decimal means, capped training sample),
  assigns every vector to its inverted list, and materializes the lists as
  parquet **partitioned by centroid id** (one directory per list — the
  on-disk analog of an IVF inverted file) plus a tiny ``centroids`` table.
- :func:`query_ivf_index` reads ONLY the probed lists: the probed-centroid
  set is collected to the driver (bounded by ``n_centroids`` — index
  METADATA, like reading an index header; it can never grow with the corpus
  or the query count) and pushed as a literal ``cid IN (...)`` filter, so
  the parquet scan statically prunes to ``≤ n_queries·nprobe`` directories
  (``PartitionFilters`` in the plan — asserted by tests). Candidates are
  then exact-rescored by cosine, identical to the in-memory path.
- The query-by-id VECTOR LOOKUP is pruned too (ADVICE r7): the build also
  writes ``{path}/id_index`` — a two-column ``(id, cid)`` map partitioned
  by ``id % N_ID_BUCKETS`` (16 bytes/row vs ≥512 bytes/row for the vector
  lists, so it is ~3% of the index). A query-id batch reads only its id
  buckets from that map, learns each query's HOME list, and fetches the
  query vectors from exactly those list directories — every scan in the
  serving path is statically partition-pruned; nothing touches the full
  corpus.

Because the index stores the SAME trained centroids and assignments the
in-memory path computes, query results are bit-equal to
``similarity.ivf_topk`` with the same parameters — tested, and the catalog
entry reuses ``ivf_topk_oracle_sql`` unchanged.

Scale: the build is one train + one assignment pass + one partitioned write
(a shuffle on ``cid`` to form directories); each query touches ``nprobe``
lists ≈ ``nprobe/n_centroids`` of the corpus. Raising ``n_centroids``
shrinks the probed fraction — standard IVF tuning.

The IVF-PQ index (second half of the module) adds product-quantization
codes to the lists. Both index kinds train, assign, encode and pick probes
through the one quantization kernel in :mod:`.vq`: the coarse quantizer is
``train_kmeans``'s one-group case, and the IVF-PQ build trains it beside
the ``m`` PQ subspaces as one more group.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import local_df
from .pq import (
    _adc_candidates,
    _adc_candidates_residual,
    _encode_residual,
    _residual_frame,
    _subspace_groups,
)
from .similarity import _assign, cosine_col, train_kmeans
from .vq import (
    _codebook,
    _codeword_rows,
    _encode_grouped,
    _query_sq_dists,
    _seed_rows,
    _slice_argmin,
    _train_grouped_mats,
)

# id_index bucket count: the bucket function must be computable in plain
# Python (the driver folds query-id buckets into literal partition filters),
# so it is ``pmod(id, N_ID_BUCKETS)`` — not a JVM-only hash. Power of two,
# large enough that one bucket of the (id, cid) map is a small fraction of
# a 10^9-row index (~16 GB / 64 = 250 MB per bucket scan, row-group stats
# prune further), small enough not to spray tiny files at build time.
N_ID_BUCKETS = 64

import collections as _collections

#: driver-derived residual seed row — duck-types the ``(cid, cvec)`` Rows
#: the trainer's ``seed_rows`` takes (one TakeOrdered serves both the
#: coarse and residual trainings' seeds)
_ResidSeed = _collections.namedtuple("_ResidSeed", ["cid", "cvec"])


def _id_bucket_col(id_col):
    return F.pmod(id_col, F.lit(N_ID_BUCKETS)).cast("int")


#: sub-splits per partition directory for clustered writes: bounds BOTH the
#: file count (≤ splits files per directory instead of one per write task —
#: the unclustered id_index write emitted ~2000 tiny files at sf0.1 and was
#: the single most expensive step of the build) AND the skew exposure (a hot
#: inverted list spreads over up to `splits` write tasks, deterministically
#: via xxhash64(id) — guide §2.5: never salt with rand() under retries).
_WRITE_SPLITS = 8


def _clustered(df: DataFrame, part_col: str, id_col: str = "id") -> DataFrame:
    """Cluster rows by their partition directory (plus a deterministic id
    sub-split) before a ``partitionBy`` write, so each task writes a
    handful of files instead of one per (task × directory)."""
    return df.repartition(
        F.col(part_col), F.pmod(F.xxhash64(F.col(id_col)), F.lit(_WRITE_SPLITS))
    )


# --------------------------- bounded metadata I/O ---------------------------
#
# The index's centroids / codebooks / meta tables are BOUNDED,
# DRIVER-RESIDENT metadata (n_centroids / m×n_codes / 1 rows — an index
# header, never corpus-sized). Writing or reading them through a Spark job
# costs 0.3–0.9 s of pure scheduling each (measured r16: a build+serve pair
# paid ~6 such jobs), so local paths go through pyarrow on the driver — the
# guide's §5 point cuts both ways: the driver should do no DATA work, and
# the executors should do no METADATA work. Parquet is written/read in both
# directions interoperably (Spark reads pyarrow files and vice versa;
# pyarrow ignores _SUCCESS markers), so remote ("://") paths simply fall
# back to the Spark writer/reader with identical on-disk semantics.

_META_PA_TYPES = {
    "bigint": "int64",
    "long": "int64",
    "int": "int32",
    "boolean": "bool",
    "double": "float64",
    "array<double>": "list<double>",
}


def _meta_write(
    spark: SparkSession, target: str, rows, ddl: str, mode: str = "overwrite"
) -> None:
    """Write a bounded metadata table; driver-side pyarrow for local paths
    (no Spark job), Spark writer otherwise. ``rows``: list of tuples in
    ``ddl`` column order."""
    if "://" in target or mode != "overwrite":
        local_df(spark, rows, ddl).write.mode(mode).parquet(target)
        return
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as papq

    fields = []
    for part in ddl.split(","):
        name, typ = part.strip().split(None, 1)
        typ = typ.strip().lower()
        pa_t = {
            "bigint": pa.int64(),
            "long": pa.int64(),
            "int": pa.int32(),
            "boolean": pa.bool_(),
            "double": pa.float64(),
            "array<double>": pa.list_(pa.float64()),
        }[typ]
        fields.append(pa.field(name, pa_t))
    schema = pa.schema(fields)
    cols = list(zip(*rows)) if rows else [[] for _ in fields]
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, fields)],
        schema=schema,
    )
    if os.path.isdir(target):
        shutil.rmtree(target)
    os.makedirs(target, exist_ok=True)
    papq.write_table(table, os.path.join(target, "part-00000.parquet"))


def _meta_read(spark: SparkSession, path: str):
    """All rows of a bounded metadata table as attribute-access objects;
    driver-side pyarrow for local paths (no Spark job). Missing local paths
    raise ``FileNotFoundError`` (callers that demote a missing table catch
    it alongside Spark's AnalysisException)."""
    if "://" in path:
        return spark.read.parquet(path).collect()
    import os
    from types import SimpleNamespace

    import pyarrow.parquet as papq

    if not os.path.isdir(path):
        raise FileNotFoundError(path)
    table = papq.read_table(path)
    return [SimpleNamespace(**d) for d in table.to_pylist()]


def _driver_probes(crows, Q, qids, nprobe: int):
    """nprobe nearest coarse centroids per query, computed on the driver
    over the collected centroid table. The distance is the SAME sequential
    fold the JVM/SQL paths use (``cumsum(x·y)`` last element ≡ the
    ``aggregate`` HOF's left fold, then the identical ``qq − 2·qc + cc``
    IEEE chain — the proven ``_adc_candidates`` LUT pattern), and ties
    break on cid exactly like the ``row_number`` window it replaces, so the
    probed sets are bit-identical. Replaces a crossJoin+window+collect job
    (~0.5 s of scheduling per serve) with O(queries × centroids × dim)
    driver flops on already-driver-resident data."""
    mat = _codebook((r.cid, r.cvec) for r in crows)
    cids, dist = mat[0], _query_sq_dists(Q, mat)
    out: dict[int, list[int]] = {}
    for qi in range(len(qids)):
        order = np.lexsort((cids, dist[qi]))[:nprobe]
        out[int(qids[qi])] = [int(c) for c in cids[order]]
    return out


def build_ivf_index(
    df: DataFrame,
    path: str,
    n_centroids: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_max_rows: int | None = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """Train and materialize an IVF index at ``path``: ``{path}/lists``
    (parquet partitioned by ``cid``) and ``{path}/centroids``."""
    vecs = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    cents = train_kmeans(vecs, n_centroids, iters, train_max_rows)
    lists = _assign(vecs, cents)
    # centroids are a LOCAL relation (train_kmeans materializes them) —
    # write the bounded rows driver-side instead of scheduling a Spark job
    _meta_write(
        df.sparkSession,
        f"{path}/centroids",
        [(int(r.cid), [float(x) for x in r.cvec]) for r in cents.collect()],
        "cid bigint, cvec array<double>",
        mode,
    )
    _clustered(lists, "cid").write.mode(mode).partitionBy("cid").parquet(
        f"{path}/lists"
    )
    # id→home-list map for pruned query-vector lookup (see module docstring).
    # Derived from the WRITTEN lists (column-pruned 2-column read), not the
    # logical plan — re-evaluating `lists` would repeat the assignment pass.
    _write_id_index(df.sparkSession, path, mode=mode)


def _write_id_index(spark: SparkSession, path: str, mode: str = "overwrite") -> None:
    idx = (
        spark.read.parquet(f"{path}/lists")
        .select("id", F.col("cid").cast("int").alias("cid"))
        .withColumn("id_bucket", _id_bucket_col(F.col("id")))
    )
    _clustered(idx, "id_bucket").write.mode(mode).partitionBy(
        "id_bucket"
    ).parquet(f"{path}/id_index")


def query_ivf_index(
    spark: SparkSession,
    path: str,
    query_ids: list[int],
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """Serve top-k neighbors for ``query_ids`` from a built index.

    Query vectors are looked up in the index's own lists (standard
    self-query shape, mirroring ``ivf_topk``) through the ``id_index`` map,
    so the lookup reads ≤ ``len(query_ids)`` id buckets of the tiny map
    plus ≤ ``len(query_ids)`` home-list directories — never the full lists.
    The probed-list scan is partition-pruned via a literal ``cid IN``
    predicate derived from the collected probe set (≤ ``n_centroids``
    values — bounded metadata)."""
    # step 1: pruned read of the (id, cid) map — which list holds each query
    q_buckets = sorted({int(q) % N_ID_BUCKETS for q in query_ids})
    home_cids = sorted(
        {
            r[0]
            for r in spark.read.parquet(f"{path}/id_index")
            .filter(F.col("id_bucket").isin(q_buckets) & F.col("id").isin(query_ids))
            .select("cid")
            .distinct()
            .collect()  # bounded by len(query_ids)
        }
    )
    # step 2: fetch the query vectors from exactly those home lists
    # (bounded: ≤ len(query_ids) rows — collected so probe selection runs
    # on the driver against the already-bounded centroid table)
    qrows = sorted(
        spark.read.parquet(f"{path}/lists")
        .filter(F.col("cid").isin(home_cids) & F.col("id").isin(query_ids))
        .select(F.col("id").alias("query_id"), F.col("vec").alias("qvec"))
        .collect(),
        key=lambda r: r.query_id,
    )
    crows = _meta_read(spark, f"{path}/centroids")
    if not qrows or not crows:
        probed: dict[int, list[int]] = {}
    else:
        Q = np.array([list(r.qvec) for r in qrows], dtype=np.float64)
        qids = np.array([r.query_id for r in qrows], dtype=np.int64)
        probed = _driver_probes(crows, Q, qids, nprobe)
    probes = local_df(
        spark,
        [
            (int(r.query_id), [float(x) for x in r.qvec], int(c))
            for r in qrows
            for c in probed.get(int(r.query_id), [])
        ],
        "query_id bigint, qvec array<double>, cid bigint",
    )
    # the distinct probed-cid set has at most n_centroids elements —
    # bounded index metadata. Folding it into a literal IN predicate is
    # what turns the lists read into a statically partition-pruned scan of
    # nprobe directories per query.
    probed_cids = sorted({c for cs in probed.values() for c in cs})
    lists = spark.read.parquet(f"{path}/lists").filter(
        F.col("cid").isin(probed_cids)
    )

    cand = probes.join(lists, "cid").filter(F.col("id") != F.col("query_id"))
    scored = cand.select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        F.round(cosine_col(F.col("qvec"), F.col("vec")), 6).alias("cos_sim"),
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def append_to_ivf_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally add vectors to an existing index WITHOUT retraining —
    the standard IVF add path: assign the new batch to the FROZEN stored
    centroids and append to the partitioned lists. One broadcast-assign map
    over the new batch + one partitioned append; the existing lists are
    never rewritten (each parquet partition directory just gains files).

    Centroids drift as the corpus grows — the usual practice is periodic
    :func:`build_ivf_index` re-trains between which appends accumulate.
    Queries over an appended index are exactly the frozen-centroid answer:
    bit-equal to rebuilding the ASSIGNMENT over the union corpus with the
    same centroids (tested)."""
    spark = df.sparkSession
    cents = local_df(
        spark,
        [
            (int(r.cid), [float(x) for x in r.cvec])
            for r in _meta_read(spark, f"{path}/centroids")
        ],
        "cid bigint, cvec array<double>",
    )
    vecs = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    assigned = _assign(vecs, cents)
    _clustered(assigned, "cid").write.mode("append").partitionBy("cid").parquet(
        f"{path}/lists"
    )
    _clustered(
        assigned.select("id", F.col("cid").cast("int").alias("cid")).withColumn(
            "id_bucket", _id_bucket_col(F.col("id"))
        ),
        "id_bucket",
    ).write.mode("append").partitionBy("id_bucket").parquet(f"{path}/id_index")


def query_ivf_index_with_vectors(
    spark: SparkSession,
    path: str,
    query_vectors: list[tuple[int, list[float]]],
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """Serve top-k neighbors for ARBITRARY query vectors (not necessarily
    indexed) — the online-serving shape: a fresh embedding arrives, probe
    the index, return neighbors. ``query_vectors`` is a small
    ``[(query_id, vector), ...]`` batch (becomes a broadcast literal table);
    the pruned-scan mechanics are identical to :func:`query_ivf_index`,
    minus the self-match exclusion (an external query has no index row).
    Probe selection runs on the DRIVER (r16): the query vectors are already
    driver-resident and the centroid table is bounded index metadata, so
    the former crossJoin+window+collect job chain is pure scheduling
    overhead — :func:`_driver_probes` reproduces its ordering bit-exactly."""
    crows = _meta_read(spark, f"{path}/centroids")
    qv = [(int(i), [float(x) for x in v]) for i, v in query_vectors]
    if not qv or not crows:
        probed: dict[int, list[int]] = {}
    else:
        Q = np.array([v for _, v in qv], dtype=np.float64)
        qids = np.array([i for i, _ in qv], dtype=np.int64)
        probed = _driver_probes(crows, Q, qids, nprobe)
    probes = local_df(
        spark,
        [(i, v, int(c)) for i, v in qv for c in probed.get(i, [])],
        "query_id long, qvec array<double>, cid bigint",
    )
    probed_cids = sorted({c for cs in probed.values() for c in cs})
    lists = spark.read.parquet(f"{path}/lists").filter(
        F.col("cid").isin(probed_cids)
    )
    scored = probes.join(lists, "cid").select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        F.round(cosine_col(F.col("qvec"), F.col("vec")), 6).alias("cos_sim"),
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def pruned_lists_scan(spark: SparkSession, path: str, cids: list[int]) -> DataFrame:
    """The pruned inverted-list scan on its own (for plan inspection)."""
    return spark.read.parquet(f"{path}/lists").filter(F.col("cid").isin(cids))


# --------------------------- IVF-PQ index ---------------------------
#
# The two serving tiers composed (the FAISS-style architecture at scale):
# coarse k-means partitions the corpus into inverted lists (partition
# pruning bounds WHICH rows a query touches), product quantization bounds
# HOW MUCH of each touched row the ADC scan reads — (id, codes) columns
# only, m longs instead of dim doubles; parquet's columnar layout makes
# that a physical property of the scan (asserted by plan test: the ADC
# scan's ReadSchema has no vec column). Exact rescore then reads the vec
# column of the SAME probed directories for just the candidate ids.
#
# By default PQ encodes RAW vectors, not residuals (vec - coarse centroid):
# raw encoding reuses the proven per-subspace codebook oracle unchanged, at
# some recall cost vs the classic residual refinement — the rescore stage
# absorbs the difference for the oracle contract (exactness limit: rerank
# >= list size degrades to IVF-exact). ``residual=True`` builds the IVFADC
# form.


def _read_ivfpq_meta(spark: SparkSession, path: str) -> bool:
    """``residual`` flag of an IVF-PQ index; indexes built before the flag
    existed have no meta table and are plain (vector-coded). ONLY the
    missing-table case may demote to plain — a transient read failure on a
    residual index must raise, because appending through the plain encode
    path would permanently mix raw-vector codes into residual lists (wrong
    ADC distances forever, no error at serve time)."""
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        return bool(_meta_read(spark, f"{path}/meta")[0].residual)
    except FileNotFoundError:
        return False  # pre-flag layout — plain index (local fast path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return False
        raise


def build_ivfpq_index(
    df: DataFrame,
    path: str,
    n_centroids: int = 8,
    m: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_max_rows: int | None = 1_000_000,
    mode: str = "overwrite",
    residual: bool = False,
) -> None:
    """Train and materialize an IVF-PQ index at ``path``:

    - ``{path}/lists``: ``(id, vec, codes)`` parquet partitioned by coarse
      ``cid`` — ONE combined table; the ADC scan column-prunes to
      ``(id, codes)``, the rescore reads ``(id, vec)`` of probed dirs only.
    - ``{path}/centroids``: the coarse table; ``{path}/codebooks``:
      ``(j, cid, cvec)`` — both bounded metadata.

    ONE grouped fused training (the coarse quantizer rides
    :func:`~.vq._train_grouped_mats` as one more group beside the m
    subspaces — 1 probe + 1 seed collect + 1 assign pass + 1 means shuffle
    for everything), then ONE encode pass emitting coarse cid + PQ codes
    together, then one partitioned write. Bit-equal to training the pieces
    independently: the coarse group is ``train_kmeans``'s own one-group
    case, and each subspace equals ``train_kmeans`` on its slice
    (``tests/test_vq.py``).

    ``residual=True`` builds the IVFADC form (Jégou et al. TPAMI 2011 §IV):
    the PQ codebooks train on and encode ``v − coarse_centroid(v)`` instead
    of ``v`` — the same code budget reconstructs the part of each vector the
    coarse quantizer did NOT explain, which is what makes IVF-PQ accurate at
    production scale. Cost shape: the coarse training must finish before
    residuals exist, so the build is TWO fused trainings (coarse alone, then
    the m subspace groups over the residual frame — still one pipeline for
    all m; the trainer materializes its bounded sample so Lloyd iterations
    never re-run the residual computation, leaving one full argmin pass for
    the seeds and a partial one for the sampling probe) plus the same
    single encode pass (coarse argmin + subtraction + subspace argmins all
    ride one Arrow batch). Serving reads the ``{path}/meta`` flag and
    switches the ADC lookup tables to per-(query, probed list) residuals."""
    vecs = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sd = dim // m
    spark = df.sparkSession

    pq_groups = _subspace_groups(m, sd, n_codes)
    if residual:
        # One TakeOrdered job serves BOTH trainings' seeds, and the residual
        # trainer's limit-probe runs on the raw non-null base rows instead
        # of the residual mapInPandas view (r17): the residual frame maps
        # non-null base rows 1:1, so probing/seeding through it re-ran the
        # full coarse-argmin Python pass twice just to count rows and take
        # max_k of them (~1 s of the build at sf0.1). Residual seed vectors
        # are derived driver-side from the base seeds through the SAME
        # kernel the residual frame applies per batch (_slice_argmin +
        # C[win] subtraction — row-independent, so bit-identical).
        src_nn = vecs.where(F.col("vec").isNotNull())
        base_seeds = _seed_rows(vecs, max(n_centroids, n_codes))
        coarse_mat = _train_grouped_mats(
            vecs,
            [(1, dim, n_centroids)],
            iters,
            train_max_rows,
            seed_rows=base_seeds,
        )[0]
        if base_seeds and len(coarse_mat[0]):
            V = np.array([list(r.cvec) for r in base_seeds], dtype=np.float64)
            _, win = _slice_argmin(V, coarse_mat)
            R = V - coarse_mat[1][win]
            resid_seeds = [
                _ResidSeed(int(r.cid), list(map(float, R[i])))
                for i, r in enumerate(base_seeds)
            ]
        else:
            resid_seeds = []
        pq_mats = _train_grouped_mats(
            _residual_frame(vecs, coarse_mat),
            pq_groups,
            iters,
            train_max_rows,
            probe_frame=src_nn,
            seed_rows=resid_seeds,
        )
        lists = _encode_residual(vecs, coarse_mat, pq_mats, sd, keep_vec=True)
    else:
        groups = [(1, dim, n_centroids)] + pq_groups
        mats = _train_grouped_mats(vecs, groups, iters, train_max_rows)
        coarse_mat, pq_mats = mats[0], mats[1:]
        enc = _encode_grouped(vecs, mats, groups, keep_vec=True)
        lists = enc.select(
            "id",
            "vec",
            F.element_at("codes", 1).alias("cid"),
            F.slice("codes", 2, m).alias("codes"),
        )
    # Crash-safe write protocol (r11, hardened twice):
    # 1. meta BEFORE lists: _read_ivfpq_meta demotes a missing meta table
    #    to plain, so a residual=True build interrupted after lists-but-
    #    before-meta would leave residual-encoded lists that read back as
    #    plain — appends would mix raw-vector codes into residual lists and
    #    ADC would serve wrong distances with no error. Meta-first leaves
    #    meta-without-lists: loud missing-path on {path}/lists.
    # 2. overwrite REBUILDS of an existing index go through a staging dir +
    #    rename (local paths): writing in place, a crash between the meta
    #    overwrite and the lists overwrite would pair NEW meta with OLD
    #    lists — the same silent-corruption class in-place ordering cannot
    #    fix. Staged, a crash mid-build leaves the OLD index fully intact;
    #    a crash between rmtree and rename leaves NO index (loud). Object
    #    stores without atomic rename fall back to in-place meta-first
    #    (production answer there: a manifest/table format).
    staged = mode == "overwrite" and "://" not in path
    if staged:
        import shutil as _sh
        import uuid as _uuid

        # uuid-keyed (ADVICE r11): a PID-only suffix orphans the staging
        # dir if the build crashes and never retries in-process, and two
        # concurrent builds to the same path in one process would share
        # (and rmtree) each other's staging dir
        target = f"{path}.staging.{_uuid.uuid4().hex}"
    else:
        target = path
    try:
        # meta/centroids/codebooks are bounded, already-driver-resident
        # metadata — _meta_write skips the per-table Spark job (r16)
        _meta_write(
            spark,
            f"{target}/meta",
            [(bool(residual), int(m), int(dim))],
            "residual boolean, m int, dim int",
            mode,
        )
        _clustered(lists, "cid").write.mode(mode).partitionBy("cid").parquet(
            f"{target}/lists"
        )
        # centroids/codebooks from the already-collected mats — writing them
        # must NOT re-run training (the first form re-evaluated the lazy
        # train_kmeans DAG once per action)
        _meta_write(
            spark,
            f"{target}/centroids",
            _codeword_rows(coarse_mat),
            "cid bigint, cvec array<double>",
            mode,
        )
        books = [
            (j, *row) for j, mat in enumerate(pq_mats) for row in _codeword_rows(mat)
        ]
        _meta_write(
            spark,
            f"{target}/codebooks",
            books,
            "j int, cid bigint, cvec array<double>",
            mode,
        )
    except BaseException:
        if staged:
            _sh.rmtree(target, ignore_errors=True)
        raise
    if staged:
        _sh.rmtree(path, ignore_errors=True)
        import os as _os

        _os.rename(target, path)


def append_to_ivfpq_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally add vectors to an existing IVF-PQ index WITHOUT
    retraining (the :func:`append_to_ivf_index` contract): the new batch is
    coarse-assigned AND PQ-encoded against the FROZEN stored centroids +
    codebooks in one ``mapInPandas`` pass, then appended to the partitioned
    lists — existing list files are never rewritten. Queries over the
    appended index are exactly the frozen-quantizer answer: bit-equal to
    rebuilding the lists over the union corpus with the same centroids and
    codebooks (tested). Residual (IVFADC) indexes encode the batch's
    residuals against the frozen coarse centroids — the ``meta`` flag picks
    the path."""
    spark = df.sparkSession
    crows = sorted(_meta_read(spark, f"{path}/centroids"), key=lambda r: r.cid)
    brows = sorted(
        _meta_read(spark, f"{path}/codebooks"), key=lambda r: (r.j, r.cid)
    )
    if not crows or not brows:
        # an index built over an empty / all-NULL-vector corpus has no
        # trained quantizers — encoding a batch against it would be
        # meaningless, and SILENTLY skipping it would lose data. Loud.
        raise ValueError(
            f"IVF-PQ index at {path!r} has no trained quantizers "
            "(built from an empty corpus?) — rebuild before appending"
        )
    m = 1 + max(r.j for r in brows)
    dim = len(crows[0].cvec)
    sd = dim // m

    coarse_mat = _codebook((r.cid, r.cvec) for r in crows)
    pq_mats = [_codebook((r.cid, r.cvec) for r in brows if r.j == j) for j in range(m)]
    vecs = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    if _read_ivfpq_meta(spark, path):
        out = _encode_residual(vecs, coarse_mat, pq_mats, sd, keep_vec=True)
    else:
        groups = [(1, dim, 0)] + _subspace_groups(m, sd)
        enc = _encode_grouped(vecs, [coarse_mat] + pq_mats, groups, keep_vec=True)
        out = enc.select(
            "id",
            "vec",
            F.element_at("codes", 1).alias("cid"),
            F.slice("codes", 2, m).alias("codes"),
        )
    _clustered(out, "cid").write.mode("append").partitionBy("cid").parquet(
        f"{path}/lists"
    )


def query_ivfpq_index(
    spark: SparkSession,
    path: str,
    query_vectors: list[tuple[int, list[float]]],
    k: int = 5,
    nprobe: int = 2,
    rerank: int = 20,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Serve top-k for external query vectors from an IVF-PQ index: probe
    ``nprobe`` coarse lists per query (literal ``cid IN`` → static partition
    pruning), ADC-scan the probed lists' ``(id, codes)`` columns (each query
    restricted to ITS probed lists), exact-rescore the ≤ queries×rerank
    candidates from the probed dirs' vec column (literal id filter — a
    bounded-metadata collect, like the probed-cid set), final top-k. No
    self-match exclusion (external queries have no index row). Residual
    (IVFADC) indexes — ``meta.residual`` — swap in the per-(query, probed
    list) residual lookup tables; the scan/rescore shapes are identical.

    ``allowed``: FILTERED ANN (the production serving shape: "nearest
    documents *matching a predicate*") — a one-column ``id`` frame, usually
    a metadata-table predicate; the probed codes scan left-semi joins it
    BEFORE the ADC ranking, so the top-``rerank``/top-k compete only among
    matching rows (post-filtering the final k would under-fill when the
    filter is selective) and the per-batch partial bound is unchanged. The
    semi-join shuffles only the PROBED lists' ``(id, codes, cid)`` columns
    against the filter frame — AQE broadcasts selective filters; the raw
    vec columns and unprobed lists never move."""
    # centroids/codebooks/meta are bounded index metadata and the query
    # batch is already driver-resident — probe selection runs on the driver
    # (bit-exact: _driver_probes), removing the former crossJoin+window
    # probe job and the per-table metadata-read jobs (r16)
    crows = _meta_read(spark, f"{path}/centroids")
    qv = sorted(
        [(int(i), [float(x) for x in v]) for i, v in query_vectors]
    )
    queries = local_df(
        spark, qv, "query_id long, qvec array<double>"
    )
    Q = np.array([v for _, v in qv], dtype=np.float64)
    qids = np.array([i for i, _ in qv], dtype=np.int64)
    if qv and crows:
        probed = {
            q: set(cs) for q, cs in _driver_probes(crows, Q, qids, nprobe).items()
        }
    else:
        probed = {}
    probed_cids = sorted({c for cs in probed.values() for c in cs})

    brows = sorted(
        _meta_read(spark, f"{path}/codebooks"), key=lambda r: (r.j, r.cid)
    )
    if not brows or not probed_cids or not qv:
        # quantizer-less index (empty-corpus build) or no queries: empty
        # result with the serving schema, not a crash — the pq-module
        # contract (ADVICE r9)
        from pyspark.sql.types import (
            DoubleType,
            IntegerType,
            LongType,
            StructField,
            StructType,
        )

        return spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("query_id", LongType()),
                    StructField("neighbor_id", LongType()),
                    StructField("cos_sim", DoubleType()),
                    StructField("rank", IntegerType()),
                ]
            ),
        )
    m = 1 + max(r.j for r in brows)
    mats = [_codebook((r.cid, r.cvec) for r in brows if r.j == j) for j in range(m)]
    dim = Q.shape[1]
    sd = dim // m

    # ONE lists frame reused by the codes scan and the rescore (one parquet
    # relation resolution instead of two), and literal IN predicates built
    # as single SQL strings (isin constructs one py4j literal per element —
    # measured r17: ~0.1 s of plan-build per serve for the three lists)
    lists_df = spark.read.parquet(f"{path}/lists")
    in_probed = F.expr(f"cid IN ({','.join(str(int(c)) for c in probed_cids)})")
    codes = lists_df.filter(in_probed).select("id", "codes", "cid")
    if allowed is not None:
        codes = codes.join(allowed.select("id").distinct(), "id", "leftsemi")
    probed_sets = {q: frozenset(s) for q, s in probed.items()}
    if _read_ivfpq_meta(spark, path):
        coarse_rows = {
            int(r.cid): [float(x) for x in r.cvec] for r in crows
        }
        cand = _adc_candidates_residual(
            codes, mats, coarse_rows, qids, Q, sd, rerank, probed=probed_sets
        )
    else:
        cand = _adc_candidates(
            codes,
            mats,
            qids,
            Q,
            sd,
            rerank,
            exclude_self=False,
            probed=probed_sets,
        )
    cand_rows = cand.collect()  # ≤ queries×rerank — bounded by the serving
    # batch, not the corpus. Collected ONCE: the rescore join below reuses
    # these rows as a local relation instead of referencing the lazy `cand`
    # plan, which would re-execute the whole mapInPandas ADC scan over the
    # probed lists a second time just to broadcast the candidate pairs.
    cand_ids = sorted({int(r.neighbor_id) for r in cand_rows})
    cand_local = local_df(
        spark,
        [(int(r.query_id), int(r.neighbor_id)) for r in cand_rows],
        "query_id long, neighbor_id long",
    )
    in_cand = F.expr(
        f"id IN ({','.join(str(int(i)) for i in cand_ids)})"
    ) if cand_ids else F.lit(False)
    rescore_src = lists_df.filter(in_probed & in_cand).select("id", "vec")
    scored = (
        rescore_src.join(
            F.broadcast(cand_local), F.col("id") == F.col("neighbor_id")
        )
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
