# -*- coding: utf-8 -*-
"""Bucket-partitioned ANN index: probe results equal the in-flight
LSH/IVF variants, and the probe read actually prunes partitions."""
import numpy as np
from pyspark.sql import functions as F

from webstruct_spark.operators.similarity import (
    ann_index_topk,
    ivf_topk,
    lsh_topk,
    write_ann_index,
)


def _embeddings(spark, n=400, dim=16):
    rng = np.random.RandomState(3)
    rows = [
        (int(i), [float(x) for x in rng.randn(dim)]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _queries(emb, every=37):
    rows = emb.where(F.col("vec_id") % every == 0).collect()
    return [(int(r["vec_id"]), list(r["embedding"])) for r in rows]


def _as_set(df):
    return {
        (r["query_id"], r["rank"], r["neighbor_id"], r["sim"])
        for r in df.collect()
    }


def test_lsh_index_equals_inflight(spark, tmp_path):
    emb = _embeddings(spark)
    qs = _queries(emb)
    path = str(tmp_path / "lsh_idx")
    write_ann_index(emb, path, kind="lsh", n_planes=6)
    got = ann_index_topk(spark, path, qs, k=5, multiprobe=1)
    want = lsh_topk(emb, qs, k=5, n_planes=6, multiprobe=1)
    assert _as_set(got) == _as_set(want)


def test_ivf_index_equals_inflight(spark, tmp_path):
    emb = _embeddings(spark)
    qs = _queries(emb)
    path = str(tmp_path / "ivf_idx")
    write_ann_index(emb, path, kind="ivf", n_centroids=8)
    got = ann_index_topk(spark, path, qs, k=5, n_probe=3)
    # in-flight variant with the same centroids (reread from the index)
    cent = (
        spark.read.parquet(path + "/_ann_centroids.parquet")
        .orderBy("cell")
        .collect()
    )
    centroids = np.array(
        [list(r["centroid"]) for r in cent], dtype=np.float32
    )
    want = ivf_topk(emb, qs, k=5, n_probe=3, centroids=centroids)
    assert _as_set(got) == _as_set(want)


def test_probe_reads_only_probed_partitions(spark, tmp_path):
    """The 100-TB property: files outside the probed buckets are never
    opened."""
    emb = _embeddings(spark)
    qs = _queries(emb, every=97)  # few queries -> few probed buckets
    path = str(tmp_path / "lsh_idx2")
    write_ann_index(emb, path, kind="lsh", n_planes=6)

    # reproduce the probe set (bucket dirs the query is allowed to read)
    from webstruct_spark.operators.similarity import (
        _bucket_of,
        _normalize_rows,
        _planes,
    )
    from itertools import combinations

    planes = _planes(6, 16)
    q_mat = _normalize_rows(
        np.array([q[1] for q in qs], dtype=np.float32)
    )
    allowed = set()
    for b in _bucket_of(q_mat, planes):
        allowed.add(int(b))
        for r in range(1, 2):
            for bits in combinations(range(6), r):
                m = 0
                for bb in bits:
                    m |= 1 << bb
                allowed.add(int(b) ^ m)

    n_total_buckets = (
        spark.read.parquet(path).select("bucket").distinct().count()
    )
    probed = spark.read.parquet(path).where(
        F.col("bucket").isin(sorted(allowed))
    )
    files = {
        r[0]
        for r in probed.select(F.input_file_name()).distinct().collect()
    }
    # every opened file lives under an allowed bucket directory
    for f in files:
        assert "/bucket=" in f
        b = int(f.split("/bucket=")[1].split("/")[0])
        assert b in allowed, f
    # and pruning is real: fewer bucket dirs read than exist
    read_buckets = {
        int(f.split("/bucket=")[1].split("/")[0]) for f in files
    }
    assert len(read_buckets) < n_total_buckets
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_index_io_never_opens_driver_local(spark, tmp_path, monkeypatch):
    """Filesystem-agnostic contract: build + probe touch the index
    path ONLY through Spark (JVM Hadoop FS) — never a driver-local
    ``open()``.  Monkeypatches builtins.open to explode on any path
    under the index dir; worker processes are separate, so only
    driver-side opens can trip it."""
    import builtins

    emb = _embeddings(spark)
    qs = _queries(emb)
    path = str(tmp_path / "nofs_idx")
    real_open = builtins.open

    def guarded(file, *a, **kw):
        if isinstance(file, (str, bytes)) and str(file).startswith(path):
            raise AssertionError(
                "driver-local open() of index path: %r" % (file,)
            )
        return real_open(file, *a, **kw)

    monkeypatch.setattr(builtins, "open", guarded)
    meta = write_ann_index(emb, path, kind="ivf", n_centroids=8)
    assert meta["kind"] == "ivf"
    got = ann_index_topk(spark, path, qs, k=5, n_probe=3)
    assert got.count() > 0
    from webstruct_spark.operators.similarity import read_ann_meta

    assert read_ann_meta(spark, path) == meta


# -- recall floors vs brute force (gated settings of the driver
# queries: lsh n_planes=8/multiprobe=1, ivf n_centroids=16/n_probe=4).
# Corpus + planes + centroids are all deterministic, so these recalls
# are exact reproducible numbers, floored just beneath.
#
# FINDING (kept honest, not relaxed): hyperplane LSH recall@5 is only
# ~0.31 here because the gaussian test corpus has NO cluster
# structure — the worst case for LSH: true top-5 cosines sit around
# 0.6-0.8, i.e. 2-3 of 8 sign bits differ, while multiprobe=1 only
# reaches Hamming distance 1 (9 of 256 buckets ≈ 3.5% of the
# corpus scanned).  IVF at n_probe=4/16 (25% of cells) reaches ~0.74
# on the same corpus.  Raising multiprobe/n_probe trades scan
# fraction for recall; the floors pin the gated operating point.


def _recall_vs_brute(emb, qs, approx_df, k=5):
    from webstruct_spark.operators.similarity import brute_force_topk

    def tops(df):
        d = {}
        for r in df.collect():
            d.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return d

    bf = tops(brute_force_topk(emb, qs, k=k))
    got = tops(approx_df)
    num = sum(len(got.get(q, set()) & bf[q]) for q in bf)
    den = sum(len(bf[q]) for q in bf)
    return num / den


def test_recall_floor_lsh_topk(spark):
    emb = _embeddings(spark)
    qs = _queries(emb)
    r = _recall_vs_brute(
        emb, qs, lsh_topk(emb, qs, k=5, n_planes=8, multiprobe=1)
    )
    assert r >= 0.30, r


def test_recall_floor_ivf_topk(spark):
    emb = _embeddings(spark)
    qs = _queries(emb)
    r = _recall_vs_brute(
        emb, qs, ivf_topk(emb, qs, k=5, n_centroids=16, n_probe=4)
    )
    assert r >= 0.70, r


def test_recall_floor_ann_index_lsh(spark, tmp_path):
    emb = _embeddings(spark)
    qs = _queries(emb)
    path = str(tmp_path / "rl_idx")
    write_ann_index(emb, path, kind="lsh", n_planes=8)
    r = _recall_vs_brute(
        emb, qs, ann_index_topk(spark, path, qs, k=5, multiprobe=1)
    )
    assert r >= 0.30, r


def test_recall_floor_ann_index_ivf(spark, tmp_path):
    emb = _embeddings(spark)
    qs = _queries(emb)
    path = str(tmp_path / "rv_idx")
    write_ann_index(emb, path, kind="ivf", n_centroids=16)
    r = _recall_vs_brute(
        emb, qs, ann_index_topk(spark, path, qs, k=5, n_probe=4)
    )
    assert r >= 0.70, r


# -- rebuild over a live index: installed by the KG stages' swap
# (plans/compaction._swap), settled by its shared _repair with the meta
# sidecar as completeness marker


def _spy_repair(monkeypatch):
    """Record every repair state write_ann_index's entry repair
    returns."""
    from webstruct_spark.plans import compaction

    states = []
    real = compaction._repair

    def spy(spark, path, marker="_SUCCESS"):
        states.append(real(spark, path, marker=marker))
        return states[-1]

    monkeypatch.setattr(compaction, "_repair", spy)
    return states


def test_rebuild_over_live_index_is_swap_protected(spark, tmp_path,
                                                   monkeypatch):
    """write_ann_index over a LIVE index must not overwrite in place:
    a crash before the swap leaves the old index serving identical
    answers; a crash between the two swap renames is diagnosed loudly
    by probes and rolled forward by the next write_ann_index."""
    import pytest

    from webstruct_spark.operators.similarity import read_ann_meta
    from webstruct_spark.plans import fsio

    emb = _embeddings(spark)
    base = emb.where(F.col("vec_id") < 200)
    path = str(tmp_path / "idx")
    write_ann_index(base, path, kind="lsh", n_planes=6)
    qs = _queries(emb)
    before = _as_set(ann_index_topk(spark, path, qs, k=5, multiprobe=1))

    # window 1: killed at the FIRST swap rename — the fully built tmp
    # is an orphan, the live index never stopped serving
    real_rename = fsio.rename

    def crash_at_first_rename(s, a, b):
        raise RuntimeError("simulated crash at swap start")

    with monkeypatch.context() as m:
        m.setattr(fsio, "rename", crash_at_first_rename)
        with pytest.raises(RuntimeError, match="swap start"):
            write_ann_index(emb, path, kind="lsh", n_planes=6)
    assert _as_set(
        ann_index_topk(spark, path, qs, k=5, multiprobe=1)
    ) == before

    # window 2: killed BETWEEN the two renames — live absent, old +
    # complete tmp present.  Probes refuse with the rebuild diagnosis
    # instead of a bare missing-path error...
    calls = {"n": 0}

    def crash_between_renames(s, a, b):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated crash between renames")
        return real_rename(s, a, b)

    with monkeypatch.context() as m:
        m.setattr(fsio, "rename", crash_between_renames)
        with pytest.raises(RuntimeError, match="between renames"):
            write_ann_index(emb, path, kind="lsh", n_planes=6)
    with pytest.raises(RuntimeError, match="rebuild swap crashed"):
        read_ann_meta(spark, path)
    with pytest.raises(RuntimeError, match="rebuild swap crashed"):
        ann_index_topk(spark, path, qs, k=5, multiprobe=1)

    # ...and the next write_ann_index's entry repair rolls the
    # complete tmp forward before rebuilding
    with monkeypatch.context() as m:
        states = _spy_repair(m)
        write_ann_index(emb, path, kind="lsh", n_planes=6)
    assert states == ["rolled_forward"]
    twin = str(tmp_path / "twin")
    write_ann_index(emb, twin, kind="lsh", n_planes=6)
    got = _as_set(ann_index_topk(spark, path, qs, k=5, multiprobe=1))
    want = _as_set(ann_index_topk(spark, twin, qs, k=5, multiprobe=1))
    assert got == want
    assert [d.name for d in tmp_path.iterdir() if "__compact_" in d.name] \
        == []


def test_rebuild_repair_refuses_metaless_live_beside_old(
    spark, tmp_path, monkeypatch
):
    """old + live both present with the LIVE dir metaless is not the
    post-swap crash shape (the swap only installs complete,
    meta-bearing builds — meta loss is external damage): finishing
    the swap would delete the old copy, which may be the only
    meta-bearing complete index left, and auto-restoring old would
    silently serve the pre-rebuild index.  Refuse with both copies
    intact and restoration guidance instead."""
    import shutil

    import pytest

    emb = _embeddings(spark, n=60, dim=8)
    path = str(tmp_path / "damaged")
    root = tmp_path / "damaged"
    old = tmp_path / "damaged.__compact_old__"
    write_ann_index(emb, path, kind="lsh", n_planes=4)
    # fabricate: post-swap crash leftover (old copy), then the live
    # meta sidecar is lost
    shutil.copytree(root, old)
    shutil.rmtree(root / "_ann_meta.parquet")

    with pytest.raises(RuntimeError, match="lost its _ann_meta") as exc:
        write_ann_index(emb, path, kind="lsh", n_planes=4)
    # the message guides the meta-bearing restoration
    assert "still carries its meta" in str(exc.value)
    # both copies intact, old's meta untouched
    assert (old / "_ann_meta.parquet").exists()
    assert root.exists()

    # the TRUE post-swap crash shape (live meta intact) still
    # finishes the swap
    p2 = str(tmp_path / "healthy")
    write_ann_index(emb, p2, kind="lsh", n_planes=4)
    shutil.copytree(tmp_path / "healthy",
                    tmp_path / "healthy.__compact_old__")
    states = _spy_repair(monkeypatch)
    write_ann_index(emb, p2, kind="lsh", n_planes=4)
    assert states == ["finished_swap"]
    assert not (tmp_path / "healthy.__compact_old__").exists()


def test_embedding_neardup_recall(spark):
    """Candidates from banded hyperplane LSH must recover most true
    high-cosine pairs; found pairs are exact (verified cosine)."""
    import numpy as np
    from webstruct_spark.operators.similarity import (
        _pair_cosine,
        embedding_neardup_pairs,
    )

    rng = np.random.RandomState(21)
    dim, n = 16, 150
    base = rng.randn(n, dim).astype(np.float32)
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(n)]
    # plant 30 true near-dups: slightly perturbed copies
    for j in range(30):
        v = base[j] + 0.05 * rng.randn(dim).astype(np.float32)
        rows.append((1000 + j, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_neardup_pairs(emb, threshold=0.9).collect()
    }
    # ground truth via brute force
    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype=np.float32)
    truth = set()
    for i in range(len(ids)):
        sims = _pair_cosine(np.repeat(mat[i][None], len(ids), 0), mat)
        for j in range(len(ids)):
            if ids[i] < ids[j] and round(sims[j], 4) >= 0.9:
                truth.add((int(ids[i]), int(ids[j])))
    assert truth, "test setup must plant true pairs"
    assert got <= truth  # verified pairs are never false positives
    recall = len(got & truth) / len(truth)
    assert recall >= 0.8, recall
