# -*- coding: utf-8 -*-
"""Similarity search over an embedding column (array<float>).

In-flight top-k over a full scan:

* :func:`brute_force_topk` — exact cosine top-k.  Distributed as
  two-stage top-k: the (small) query matrix is broadcast, each
  partition computes its LOCAL top-k per query with one numpy matmul
  inside ``mapInPandas`` (Arrow batches), then a single shuffle of
  k·|queries| candidate rows merges to the global top-k with a window.
  The full corpus is never shuffled.
* :func:`lsh_topk` — random-hyperplane LSH bucketing (deterministic
  planes derived from blake2b, no RNG state), probing each query's
  bucket ± multiprobe flips, exact rerank inside candidate buckets.
  Approximate: recall < 1 by design; gauged against brute force in
  tests.
* :func:`ivf_topk` — deterministic k-means cells, probing each
  query's ``n_probe`` nearest cells.

Build once, probe many: :func:`write_ann_index` materializes the LSH
or IVF bucketing as a bucket-partitioned parquet index, and
:func:`ann_index_topk` reads only the probed buckets.

Similarities are computed in float32 numpy (then rounded) in BOTH the
distributed and the single-node gold path, so comparisons are exact.
"""
from __future__ import annotations

import hashlib
from typing import Iterator, List, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

TOPK_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("sim", T.DoubleType()),
    ]
)


def _normalize_rows(m: np.ndarray) -> np.ndarray:
    m = m.astype(np.float32, copy=False)
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return m / n


def topk_merge(cands: DataFrame, k: int) -> DataFrame:
    """Global top-k per query from candidate rows; deterministic
    tie-break (sim desc, neighbor_id asc)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                "neighbor_id", F.round("sim", 4).alias("sim"))
    )


def brute_force_topk(
    embeddings: DataFrame,
    queries: List[Tuple[int, List[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k of each query vector against the corpus.

    ``queries``: [(query_id, vector)] — small, broadcast to executors.
    Output: (query_id, rank, neighbor_id, sim[rounded 4dp]).
    """
    spark = embeddings.sparkSession
    q_ids = np.array([q[0] for q in queries], dtype=np.int64)
    q_mat = _normalize_rows(np.array([q[1] for q in queries], dtype=np.float32))
    bc = spark.sparkContext.broadcast((q_ids, q_mat))

    src = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vec")
    )

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, mat = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            corpus = _normalize_rows(np.vstack(pdf["vec"].to_numpy()))
            nids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            # float64 matmul over float32-normalized rows: products are
            # exact, so results are stable across batch shapes
            sims = mat.astype(np.float64) @ corpus.T.astype(np.float64)
            # +1 slot when excluding self: the query's own vector may
            # occupy one local top-k slot
            kk = min(k + (1 if exclude_self else 0), sims.shape[1])
            out_q, out_n, out_s = [], [], []
            for qi in range(sims.shape[0]):
                # deterministic local cut: (sim desc, neighbor_id asc)
                # tie-break — a bare argpartition drops arbitrary
                # members of a tie straddling the kk boundary, which
                # would make results depend on batch shape
                order = np.lexsort((nids, -sims[qi]))[:kk]
                for j in order:
                    if exclude_self and nids[j] == ids[qi]:
                        continue
                    out_q.append(ids[qi])
                    out_n.append(nids[j])
                    out_s.append(float(sims[qi, j]))
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "sim": out_s}
            )

    cands = src.mapInPandas(local_topk, TOPK_SCHEMA)
    return topk_merge(cands, k)


# --------------------------------------------------------------------------
# IVF variant: deterministic k-means coarse quantizer + cell probing


def lloyd_centroids(
    mat: np.ndarray, n_centroids: int, iters: int = 10
) -> np.ndarray:
    """Deterministic Lloyd k-means over an already-normalized f32
    matrix — the single shared kernel of :func:`train_centroids` AND
    the single-node gold twin (sources/docgold.py), so both paths run
    bit-identical math.  Centroid init = evenly spaced rows; empty
    cells re-seed from the farthest point (deterministic argmax)."""
    n = mat.shape[0]
    k = min(n_centroids, n)
    idx = np.linspace(0, n - 1, k).astype(int)
    cent = mat[idx].copy()
    for _ in range(iters):
        sims = mat.astype(np.float64) @ cent.T.astype(np.float64)
        assign = np.argmax(sims, axis=1)
        for c in range(k):
            members = mat[assign == c]
            if len(members):
                m = members.mean(axis=0)
                norm = np.linalg.norm(m)
                cent[c] = (m / norm if norm else cent[c]).astype(np.float32)
            else:
                # deterministic re-seed: farthest point from its centroid
                d = 1.0 - sims[np.arange(n), assign]
                cent[c] = mat[int(np.argmax(d))]
    return cent


def train_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    sample: int = 2048,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic Lloyd k-means on a fixed sample (the ``sample``
    smallest ids — order-free), driver-side numpy via
    :func:`lloyd_centroids`."""
    rows = (
        embeddings.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(sample)
        .collect()
    )
    mat = _normalize_rows(
        np.array([list(r[vec_col]) for r in rows], dtype=np.float32)
    )
    return lloyd_centroids(mat, n_centroids, iters)


def ivf_topk(
    embeddings: DataFrame,
    queries: List[Tuple[int, List[float]]],
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Approximate cosine top-k via an IVF coarse quantizer: corpus
    vectors are bucketed by nearest centroid; each query probes its
    ``n_probe`` nearest cells and reranks exactly inside them.

    recall/latency dial = (n_centroids, n_probe); recall gauged vs
    brute force in tests."""
    spark = embeddings.sparkSession
    if centroids is None:
        centroids = train_centroids(
            embeddings, n_centroids, id_col=id_col, vec_col=vec_col
        )
    q_ids = np.array([q[0] for q in queries], dtype=np.int64)
    q_mat = _normalize_rows(np.array([q[1] for q in queries], dtype=np.float32))
    q_sims = q_mat.astype(np.float64) @ centroids.T.astype(np.float64)
    n_probe = min(n_probe, centroids.shape[0])
    probe: dict = {}
    for qi in range(len(queries)):
        cells = np.argsort(-q_sims[qi])[:n_probe]
        for c in cells:
            probe.setdefault(int(c), []).append(qi)
    bc = spark.sparkContext.broadcast((q_ids, q_mat, centroids, probe))

    src = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vec")
    )

    def local(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, mat, cent, pr = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            corpus = _normalize_rows(np.vstack(pdf["vec"].to_numpy()))
            nids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            cells = np.argmax(
                corpus.astype(np.float64) @ cent.T.astype(np.float64), axis=1
            )
            out_q, out_n, out_s = [], [], []
            for j in range(corpus.shape[0]):
                qis = pr.get(int(cells[j]))
                if not qis:
                    continue
                sims = mat[qis].astype(np.float64) @ corpus[j].astype(np.float64)
                for t, qi in enumerate(qis):
                    if exclude_self and nids[j] == ids[qi]:
                        continue
                    out_q.append(ids[qi])
                    out_n.append(nids[j])
                    out_s.append(float(sims[t]))
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "sim": out_s}
            )

    cands = src.mapInPandas(local, TOPK_SCHEMA)
    return topk_merge(cands, k)


# --------------------------------------------------------------------------
# Persistent bucket-partitioned index: the 100-TB path.  The in-flight
# lsh_topk/ivf_topk variants above filter executor-side but still SCAN
# the whole corpus; at scale the scan dominates.  write_ann_index
# materializes the embeddings parquet PARTITIONED BY bucket (LSH
# bucket or IVF cell), and ann_index_topk probes with a partition
# filter, so only the probed buckets' files are ever read
# (PartitionFilters in the plan — see PLANS.md).
#
# ALL sidecar I/O (metadata, centroids) goes through Spark readers/
# writers, never a driver-local ``open()`` — the index directory may
# live on HDFS/S3 where the driver has no POSIX view of the path.


_ANN_META = "_ann_meta.parquet"


def _sidecar(path: str, name: str) -> str:
    """Join a sidecar name onto the index path — delegates to the one
    URI-safe join rule (fsio.join) so the two can never drift."""
    from ..plans import fsio

    return fsio.join(path, name)


def _write_ann_meta(spark: SparkSession, path: str, meta: dict) -> None:
    row = (
        meta["kind"],
        int(meta["n_planes"]) if "n_planes" in meta else None,
        int(meta["n_centroids"]) if "n_centroids" in meta else None,
        int(meta["dim"]),
    )
    (
        # one explicit slice: createDataFrame of a local list would
        # parallelize into defaultParallelism mostly-empty slices —
        # coalesce(1) evaluates them SERIALLY through one task (≈ 5 s
        # of Python-worker round-trips) and repartition(1) pays a
        # shuffle job (~0.5 s); parallelize(row, 1) is one task, no
        # shuffle, no extra job.
        spark.createDataFrame(
            spark.sparkContext.parallelize([row], 1),
            "kind string, n_planes int, n_centroids int, dim int",
        )
        .write.mode("overwrite")
        .parquet(_sidecar(path, _ANN_META))
    )


def read_ann_meta(spark: SparkSession, path: str) -> dict:
    """Read the one-row ``_ann_meta.parquet`` sidecar (via Spark, so
    any Hadoop-visible filesystem works).  A missing sidecar with a
    ``<path>.__compact_old__`` sibling present is the one shape a
    READER can see of a rebuild crashed between its two swap renames
    — diagnosed loudly (the next :func:`write_ann_index` settles it)
    instead of surfacing as a bare missing-path error that reads like
    the index was never built."""
    from ..plans import fsio
    from ..plans.compaction import SUF_OLD

    meta_path = _sidecar(path, _ANN_META)
    old = path + SUF_OLD
    if not fsio.exists(spark, meta_path) and fsio.exists(spark, old):
        raise RuntimeError(
            "ann index at %r: rebuild swap crashed between its two "
            "renames (the old index is intact at %r) — run "
            "write_ann_index (its entry repair settles it) before "
            "probing" % (path, old)
        )
    r = spark.read.parquet(meta_path).first()
    meta = {"kind": r["kind"], "dim": int(r["dim"])}
    if r["n_planes"] is not None:
        meta["n_planes"] = int(r["n_planes"])
    if r["n_centroids"] is not None:
        meta["n_centroids"] = int(r["n_centroids"])
    return meta


def _read_centroids(spark: SparkSession, path: str) -> np.ndarray:
    cent_rows = (
        spark.read.parquet(_sidecar(path, "_ann_centroids.parquet"))
        .orderBy("cell")
        .collect()
    )
    return np.array(
        [list(r["centroid"]) for r in cent_rows], dtype=np.float32
    )


def _bucketized(
    embeddings: DataFrame,
    kind: str,
    state: np.ndarray,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(vec_id, vec, bucket) rows: each vector tagged with its LSH
    bucket / IVF cell under the given state (LSH planes or IVF
    centroids)."""
    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast((kind, state))

    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        knd, st = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            mat = _normalize_rows(np.vstack(pdf["vec"].to_numpy()))
            if mat.shape[1] != st.shape[1]:
                raise ValueError(
                    "embedding dimension %d != index dimension %d"
                    % (mat.shape[1], st.shape[1])
                )
            if knd == "lsh":
                buckets = _bucket_of(mat, st)
            else:
                buckets = np.argmax(
                    mat.astype(np.float64) @ st.T.astype(np.float64), axis=1
                ).astype(np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "vec": pdf["vec"],
                    "bucket": buckets,
                }
            )

    src = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    )
    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("vec", src.schema["vec"].dataType),
            T.StructField("bucket", T.LongType()),
        ]
    )
    return src.mapInPandas(bucketize, out_schema)


def _build_index_at(
    spark: SparkSession,
    embeddings: DataFrame,
    target: str,
    kind: str,
    state: np.ndarray,
    meta: dict,
    id_col: str,
    vec_col: str,
) -> None:
    """Write the full index layout (bucket-partitioned data +
    centroid sidecar + meta sidecar) at ``target``.  The meta sidecar
    is written LAST on purpose: its presence is the completeness
    marker the rebuild-swap repair trusts (a crash anywhere earlier
    leaves a metaless dir that reads as incomplete)."""
    sc = spark.sparkContext
    n_buckets = int(state.shape[0]) if kind == "ivf" else (
        1 << int(meta["n_planes"])
    )
    # Cluster rows by bucket BEFORE the partitioned write, into an
    # EXPLICIT task count.  Without this, each write task opens one
    # file per distinct bucket it holds — measured at sf0.1: the scan
    # is one partition, so ONE task serially creates all 256 bucket
    # files (~5.6 s of executorRunTime, the whole build cost); an
    # AQE-coalescible keyed repartition collapses right back to that
    # single task (the post-shuffle partitions are tiny), which is why
    # the explicit numPartitions matters — AQE does not coalesce a
    # user-specified count.  The key is (bucket, salt): with
    # n_tasks <= n_buckets the salt is constant (pure bucket hash, one
    # file per bucket); on a big cluster (n_tasks >> n_buckets) the
    # deterministic vec_id salt splits each bucket over ~n_tasks/
    # n_buckets writers so a 100 TB bucket never lands whole in one
    # task (guide §2.5: derive synthetic keys deterministically, never
    # from rand()).
    n_tasks = max(1, sc.defaultParallelism)
    salt_slots = max(1, -(-n_tasks // n_buckets))
    (
        _bucketized(embeddings, kind, state, id_col, vec_col)
        .repartition(
            n_tasks,
            F.col("bucket"),
            F.pmod(F.xxhash64("vec_id"), F.lit(salt_slots)),
        )
        .write.mode("overwrite")
        # static overwrite pinned: under a cluster-wide
        # partitionOverwriteMode=dynamic, overwrite would keep stale
        # bucket=N dirs that are absent from the new data
        .option("partitionOverwriteMode", "static")
        .partitionBy("bucket")
        .parquet(target)
    )
    if kind == "ivf":
        cent_rows = [
            (int(i), [float(x) for x in row])
            for i, row in enumerate(state)
        ]
        # one explicit slice, no shuffle — see _write_ann_meta
        spark.createDataFrame(
            spark.sparkContext.parallelize(cent_rows, 1),
            "cell int, centroid array<float>",
        ).write.mode("overwrite").parquet(
            _sidecar(target, "_ann_centroids.parquet")
        )
    _write_ann_meta(spark, target, meta)


def write_ann_index(
    embeddings: DataFrame,
    path: str,
    kind: str = "lsh",
    n_planes: int = 8,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Materialize a bucket-partitioned ANN index at ``path``.

    ``kind='lsh'``: deterministic hyperplane buckets (reproducible
    from n_planes+dim, no stored state).  ``kind='ivf'``: k-means
    cells; centroids are stored beside the data as
    ``_ann_centroids.parquet`` (underscore-prefixed → invisible to
    parquet discovery).  Returns the metadata dict (also written as a
    one-row ``_ann_meta.parquet`` sidecar through Spark, so the index
    works on any Hadoop-visible filesystem — the driver never needs a
    POSIX view of ``path``).

    Rebuilding over a live index does NOT overwrite in place —
    ``mode('overwrite')`` deletes the live index at write start, so a
    crash mid-build would leave probes nothing to serve.  Instead the
    new index is built at ``<path>.__compact_tmp__`` and installed by
    the KG stages' swap and repair (:mod:`..plans.compaction`), with
    the meta sidecar (written last) as the completeness marker in
    place of ``_SUCCESS``.  The old index keeps serving probes for the
    whole build, the next call's entry repair settles every crash
    window, and probes mid-swap get a loud diagnosis from
    :func:`read_ann_meta`."""
    from ..plans import compaction, fsio

    spark = embeddings.sparkSession
    old = path + compaction.SUF_OLD
    meta_path = _sidecar(path, _ANN_META)
    if (
        fsio.exists(spark, old)
        and fsio.exists(spark, path)
        and not fsio.exists(spark, meta_path)
    ):
        # NOT the post-swap crash shape: the swap only ever installs a
        # complete (meta-bearing) build, so a metaless live dir beside
        # an old copy means the live meta was LOST after the swap —
        # external damage.  The shared repair would finish the swap
        # and delete what may be the only complete copy; restoring the
        # old copy would silently serve the PRE-rebuild index.  Refuse
        # with both intact.
        raise RuntimeError(
            "ann index at %r lost its %s sidecar while a %s copy "
            "exists — not a crash shape the swap can produce (it only "
            "installs complete, meta-bearing builds), so refusing to "
            "delete either copy.  %s"
            % (
                path, _ANN_META, compaction.SUF_OLD,
                "The old copy still carries its meta: restore the "
                "PRE-rebuild index by deleting the metaless live dir "
                "and renaming the old copy to the live name, or "
                "delete the old copy and rebuild from source."
                if fsio.exists(spark, _sidecar(old, _ANN_META)) else
                "The old copy lacks its meta too — neither is "
                "complete; salvage by hand.",
            )
        )
    repaired = compaction._repair(spark, path, marker=_ANN_META)
    if repaired in ("rolled_forward", "finished_swap"):
        # the index has no manifest record to re-commit, so the old
        # copy goes as soon as the repair has settled the live dir
        fsio.delete(spark, old)
    live = fsio.exists(spark, meta_path)
    first = embeddings.select(vec_col).first()
    if first is None:
        raise ValueError("cannot build an ANN index over an empty table")
    dim = len(first[vec_col])
    if kind == "lsh":
        state = _planes(n_planes, dim)
        meta = {"kind": "lsh", "n_planes": n_planes, "dim": dim}
    elif kind == "ivf":
        state = train_centroids(
            embeddings, n_centroids, id_col=id_col, vec_col=vec_col
        )
        meta = {"kind": "ivf", "n_centroids": int(state.shape[0]),
                "dim": dim}
    else:
        raise ValueError("kind must be 'lsh' or 'ivf'")
    if not live:
        # first build (or an incomplete one): nothing servable to
        # protect, write directly
        _build_index_at(spark, embeddings, path, kind, state, meta,
                        id_col, vec_col)
        return meta
    _build_index_at(spark, embeddings, path + compaction.SUF_TMP, kind,
                    state, meta, id_col, vec_col)
    compaction._swap(spark, path)
    fsio.delete(spark, old)
    return meta


def ann_index_topk(
    spark: SparkSession,
    path: str,
    queries: List[Tuple[int, List[float]]],
    k: int = 5,
    multiprobe: int = 1,
    n_probe: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """Top-k probe over a :func:`write_ann_index` index.  Reads ONLY
    the probed bucket partitions (partition pruning at the source) and
    reranks exactly inside them — same results as lsh_topk/ivf_topk
    with the same probe settings, without the full-corpus scan.

    All sidecar reads go through Spark (:func:`read_ann_meta`), so
    the probe works against an index on any Hadoop-visible filesystem
    — no driver-local ``open()`` of ``path``."""
    meta = read_ann_meta(spark, path)
    q_ids = np.array([q[0] for q in queries], dtype=np.int64)
    q_mat = _normalize_rows(
        np.array([q[1] for q in queries], dtype=np.float32)
    )
    probe: dict = {}
    if meta["kind"] == "lsh":
        planes = _planes(meta["n_planes"], meta["dim"])
        q_buckets = _bucket_of(q_mat, planes)
        from itertools import combinations

        flip_masks = [0]
        for r in range(1, max(0, multiprobe) + 1):
            for bits in combinations(range(meta["n_planes"]), r):
                m = 0
                for b in bits:
                    m |= 1 << b
                flip_masks.append(m)
        for qi, b in enumerate(q_buckets):
            for m in flip_masks:
                probe.setdefault(int(b) ^ m, []).append(qi)
    else:
        centroids = _read_centroids(spark, path)
        q_sims = q_mat.astype(np.float64) @ centroids.T.astype(np.float64)
        npb = min(n_probe, centroids.shape[0])
        for qi in range(len(queries)):
            for c in np.argsort(-q_sims[qi])[:npb]:
                probe.setdefault(int(c), []).append(qi)
    bc = spark.sparkContext.broadcast((q_ids, q_mat, probe))

    buckets = sorted(probe.keys())
    # partition filter -> only probed bucket directories are scanned
    src = spark.read.parquet(path).where(F.col("bucket").isin(buckets))

    def local(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, mat, pr = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            corpus = _normalize_rows(np.vstack(pdf["vec"].to_numpy()))
            nids = pdf["vec_id"].to_numpy(dtype=np.int64)
            bks = pdf["bucket"].to_numpy(dtype=np.int64)
            out_q, out_n, out_s = [], [], []
            for j in range(corpus.shape[0]):
                qis = pr.get(int(bks[j]))
                if not qis:
                    continue
                sims = mat[qis].astype(np.float64) @ corpus[j].astype(
                    np.float64
                )
                for t, qi in enumerate(qis):
                    if exclude_self and nids[j] == ids[qi]:
                        continue
                    out_q.append(ids[qi])
                    out_n.append(nids[j])
                    out_s.append(float(sims[t]))
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "sim": out_s}
            )

    cands = src.select("vec_id", "vec", "bucket").mapInPandas(
        local, TOPK_SCHEMA
    )
    return topk_merge(cands, k)


# --------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (the dense-vector analog of
# minhash_lsh_pairs): banded hyperplane-LSH candidates + exact float64
# verification of candidates only — never an n² cartesian.


def _emb_band_keys(
    normed: np.ndarray, planes: np.ndarray, n_bands: int, n_planes: int
) -> List[List[str]]:
    """Per-row list of band-key strings ('band:hexcode')."""
    bits = (normed @ planes.T) >= 0  # (n, n_bands*n_planes)
    keys: List[List[str]] = []
    for r in range(normed.shape[0]):
        row = []
        for b in range(n_bands):
            code = 0
            for p in range(n_planes):
                if bits[r, b * n_planes + p]:
                    code |= 1 << p
            row.append("%d:%x" % (b, code))
        keys.append(row)
    return keys


def _pair_cosine(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise cosine of two already-f32 matrices: normalize f32,
    multiply-sum in float64 — the single shared definition used by the
    distributed verify UDF AND the single-node gold builder, so both
    paths run bit-identical math."""
    an = _normalize_rows(a).astype(np.float64)
    bn = _normalize_rows(b).astype(np.float64)
    return np.einsum("ij,ij->i", an, bn)


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.35,
    n_bands: int = 8,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_a, vec_b, sim) pairs with cosine >= threshold.

    Scale shape mirrors minhash_lsh_pairs: one narrow pass emits
    deterministic hyperplane band keys, candidates come from the
    banded self-join (AQE skew-join splits hot buckets), and the exact
    cosine runs only on candidate pairs.  Approximate: recall < 1 by
    design (gauged vs brute force in tests); the driver query checks
    distributed == single-node of the same banding."""
    import pandas as pd_  # local alias; module already imports pandas

    spark = embeddings.sparkSession
    first = embeddings.select(vec_col).first()
    if first is None:  # empty corpus -> no pairs, correct schema
        return spark.createDataFrame(
            [], "vec_a long, vec_b long, sim double"
        )
    dim = len(first[vec_col])
    planes = _planes(n_bands * n_planes, dim)
    bc = spark.sparkContext.broadcast((planes, n_bands, n_planes))

    src = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    )

    def bandize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pl, nb, npl = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            normed = _normalize_rows(np.vstack(pdf["vec"].to_numpy()))
            yield pd_.DataFrame(
                {
                    "doc_id": pdf["vec_id"],
                    "bucket_list": _emb_band_keys(normed, pl, nb, npl),
                }
            )

    band_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("bucket_list", T.ArrayType(T.StringType())),
        ]
    )
    banded = src.mapInPandas(bandize, band_schema).select(
        "doc_id", F.explode("bucket_list").alias("bucket")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, F.col("a.bucket") == F.col("b.bucket"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("vec_a"),
            F.col("b.doc_id").alias("vec_b"),
        )
        .distinct()
    )
    vecs = src
    joined = (
        pairs.join(
            vecs.withColumnRenamed("vec_id", "vec_a")
            .withColumnRenamed("vec", "va"),
            "vec_a",
        ).join(
            vecs.withColumnRenamed("vec_id", "vec_b")
            .withColumnRenamed("vec", "vb"),
            "vec_b",
        )
    )

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.DoubleType())
    def _cosine_udf(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd_.Series([], dtype="float64")
        ma = np.vstack(va.to_numpy()).astype(np.float32)
        mb = np.vstack(vb.to_numpy()).astype(np.float32)
        return pd_.Series(_pair_cosine(ma, mb))

    return (
        joined.withColumn("sim", F.round(_cosine_udf("va", "vb"), 4))
        .where(F.col("sim") >= threshold)
        .select("vec_a", "vec_b", "sim")
    )


# --------------------------------------------------------------------------
# LSH variant


def _planes(n_planes: int, dim: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes from blake2b bytes."""
    need = n_planes * dim * 4
    buf = bytearray()
    i = 0
    while len(buf) < need:
        buf += hashlib.blake2b(b"ann-plane-%d" % i, digest_size=64).digest()
        i += 1
    raw = np.frombuffer(bytes(buf[:need]), dtype="<u4").astype(np.float64)
    m = (raw / 2**32) * 2.0 - 1.0  # uniform [-1, 1)
    return m.reshape(n_planes, dim).astype(np.float32)


def _bucket_of(mat: np.ndarray, planes: np.ndarray) -> np.ndarray:
    bits = (mat @ planes.T) >= 0
    out = np.zeros(mat.shape[0], dtype=np.int64)
    for b in range(planes.shape[0]):
        out |= bits[:, b].astype(np.int64) << b
    return out


def lsh_topk(
    embeddings: DataFrame,
    queries: List[Tuple[int, List[float]]],
    k: int = 5,
    n_planes: int = 8,
    multiprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate cosine top-k: hyperplane-LSH bucket filter + exact
    rerank.  ``multiprobe`` additionally probes buckets reachable by
    flipping that many sign bits (recall/latency dial)."""
    spark = embeddings.sparkSession
    dim = len(queries[0][1])
    planes = _planes(n_planes, dim)
    q_ids = np.array([q[0] for q in queries], dtype=np.int64)
    q_mat = _normalize_rows(np.array([q[1] for q in queries], dtype=np.float32))
    q_buckets = _bucket_of(q_mat, planes)
    # probe set per query: own bucket + all buckets within `multiprobe`
    # bit flips
    from itertools import combinations

    flip_masks = [0]
    for r in range(1, max(0, multiprobe) + 1):
        for bits in combinations(range(n_planes), r):
            m = 0
            for b in bits:
                m |= 1 << b
            flip_masks.append(m)
    probe: dict = {}
    for qi, b in enumerate(q_buckets):
        for m in flip_masks:
            probe.setdefault(int(b) ^ m, []).append(qi)
    bc = spark.sparkContext.broadcast((q_ids, q_mat, planes, probe))

    src = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vec")
    )

    def local(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, mat, pl, pr = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            corpus = _normalize_rows(np.vstack(pdf["vec"].to_numpy()))
            nids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            cbuckets = _bucket_of(corpus, pl)
            out_q, out_n, out_s = [], [], []
            for j in range(corpus.shape[0]):
                qis = pr.get(int(cbuckets[j]))
                if not qis:
                    continue
                sims = mat[qis].astype(np.float64) @ corpus[j].astype(np.float64)
                for t, qi in enumerate(qis):
                    if exclude_self and nids[j] == ids[qi]:
                        continue
                    out_q.append(ids[qi])
                    out_n.append(nids[j])
                    out_s.append(float(sims[t]))
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "sim": out_s}
            )

    cands = src.mapInPandas(local, TOPK_SCHEMA)
    return topk_merge(cands, k)
