"""The ANN plane keeps one implementation per computation: one LSH
bucket-assignment stage, one nearest-centroid kernel, one PQ block
assignment and ADC scorer, one hash-ranked trainer sample, one query-set
loader and one per-query top-k. These tests pin the kernels' shared
rules and that each is written once."""

import numpy as np
import pandas as pd

from text_extraction_spark import dataops, extraction_queries, relational


def test_nearest_cell_ties_go_to_the_lowest_centroid_index(spark, monkeypatch):
    """k-means over a store of duplicate vectors yields duplicate
    centroids, so cell similarities tie exactly. The kernel and every
    path built on it (the home/probe UDF, the ivf2 leaf assignment and
    ivfpq_topk's driver-side probe) rank equal similarities by the
    lowest centroid index."""
    dim, n = 8, 14
    X = np.repeat(np.eye(dim)[:4], 16, axis=0)  # 4 distinct vectors
    C = dataops._spherical_kmeans(X, k=48)
    assert len(np.unique(C, axis=0)) < len(C)
    Q = np.eye(dim)  # e4..e7 are orthogonal to every centroid
    sims = (Q @ C.T).astype(int)  # exactly 0 or 1
    want = [sorted(range(len(C)), key=lambda j: (-s[j], j))[:n] for s in sims]

    assert dataops._nearest_cells(Q, C, n).tolist() == want
    udf = dataops._ivf_cells_udf(C, n)
    assert udf.func(pd.Series(list(Q))).tolist() == want

    # X trains top cell 0's leaves (its rank-0 rows, vec_id order kept),
    # Q probes the cell (rank-1 rows)
    rows = [(dim + i, [float(x) for x in v], 0, 0) for i, v in enumerate(X)]
    rows += [(i, [float(x) for x in v], 0, 1) for i, v in enumerate(Q)]
    probe = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, tcell long, rank int"
    )
    got: dict = {}
    for r in dataops._ivf2_leaves(probe, 48, n).collect():
        got.setdefault(r["vec_id"], []).append(r["leaf"])
    assert [got[i] for i in range(dim)] == want

    probes = []

    def spy(X_, C_, n_):
        out = real(X_, C_, n_)
        probes.append(out.tolist())
        return out

    real = dataops._nearest_cells
    monkeypatch.setattr(dataops, "_nearest_cells", spy)
    e = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    books = dataops._pq_train(X, m=2, ksub=4)
    dataops.ivfpq_topk(e, C, books, Q, list(range(dim)), nprobe=n)
    assert probes == [want]


def test_each_ann_kernel_is_written_once():
    """Source pin for the one-kernel rule: the per-query top-k window,
    the PQ argmin, the bucket-UDF call and the hash-ranked trainer
    sample each appear once in dataops.py, and only relational.py
    defines the `q` query-registry decorator."""

    def src(mod):
        with open(mod.__file__, encoding="utf-8") as f:
            return f.read()

    s = src(dataops)
    assert s.count('Window.partitionBy("q_id")') == 1
    assert s.count("(-2.0 * (Xb @ Cb.T) + (Cb**2).sum(1)[None, :]).argmin(1)") == 1
    calls = s.count("_hyperplane_buckets_udf(")
    assert calls - s.count("def _hyperplane_buckets_udf(") == 1
    assert s.count('.orderBy(F.xxhash64("vec_id"), "vec_id").limit(') == 1
    assert "def q(" not in s
    assert "def q(" not in src(extraction_queries)
    assert src(relational).count("def q(") == 1


def test_minhash_verify_is_written_once():
    """Source pin for the text near-dup plane: the MinHash verify — the
    word sets joined onto both ends of each candidate pair — appears
    once in dataops.py (minhash_jaccard), shared by d13/d36/d56 and
    d20/d30."""
    with open(dataops.__file__, encoding="utf-8") as f:
        s = f.read()
    assert s.count('.join(a, "doc_a").join(b, "doc_b")') == 1
