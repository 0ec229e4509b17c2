"""Round-2 scale/correctness hardening of the dataops plane:

* d02 LSH bucket-skew cap — a degenerate bucket (1000 identical docs)
  emits O(n) star pairs, never O(n²); normal buckets keep exact
  all-pairs semantics.
* simhash_udf vectorization — bit-identical to the per-word reference
  definition.
* d06/d14 — ANN recall floor vs the exact twin, at the measured config.
* q12 — approx_count_distinct within its configured error bound of the
  exact count (the 'oracle hardening' for a rows-only query).
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from text_extraction_spark import dataops

SF = "/root/testdata/sf0.001"


def test_lsh_bucket_cap_star_pairs(spark):
    """1000 docs colliding in ONE band bucket → exactly n-1 star pairs
    anchored at the canonical min doc (connectivity preserved for
    connected-components dedup), not n(n-1)/2."""
    n = 1000
    rows = [(f"doc-{i:04d}", 7) for i in range(n)]
    bands = spark.createDataFrame(rows, "doc_id string, band_hash long")
    pairs = dataops._lsh_candidate_pairs(bands).collect()
    assert len(pairs) == n - 1
    assert all(r["doc_a"] == "doc-0000" for r in pairs)
    assert len({r["doc_b"] for r in pairs}) == n - 1


def test_lsh_bucket_small_keeps_all_pairs(spark):
    """Buckets at or under the cap keep exact all-pairs output."""
    rows = [(f"d{i}", 1) for i in range(5)] + [(f"e{i}", 2) for i in range(3)]
    bands = spark.createDataFrame(rows, "doc_id string, band_hash long")
    pairs = {(r["doc_a"], r["doc_b"]) for r in dataops._lsh_candidate_pairs(bands).collect()}
    want = {(f"d{i}", f"d{j}") for i in range(5) for j in range(5) if f"d{i}" < f"d{j}"}
    want |= {(f"e{i}", f"e{j}") for i in range(3) for j in range(3) if f"e{i}" < f"e{j}"}
    assert pairs == want


def test_ann_bucket_cap_degenerate_store(spark):
    """10 000 identical embeddings collapse into ONE bucket per
    hyperplane table — exactly the degenerate store a dedup-bound corpus
    contains. The capped grid's threshold path must emit O(n·cap)
    distinct pairs (every member paired with the _ANN_BUCKET_CAP
    lowest-(xxhash64, vec_id) representatives, reps all-pairs among
    themselves), never the ~50M O(n²) pairs of an uncapped bucket."""
    n = 10_000
    cap = dataops._ANN_BUCKET_CAP
    emb = spark.createDataFrame(
        [(i, [1.0, -0.5] * 8) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    n_pairs = dataops._hyperplane_scored_pairs(emb, threshold=0.30).count()
    assert n_pairs == cap * (cap - 1) // 2 + cap * (n - cap)


def test_ann_grid_scorer_degenerate_store(spark):
    """d06's grid scorer on the degenerate store: 10 000 identical
    vectors form one 10 000-member bucket per table, which the scorer
    splits across fold calls. Every query still gets exactly 3
    neighbours at cosine 1.0, none of them itself."""
    n = 10_000
    emb = spark.createDataFrame(
        [(i, [1.0, -0.5] * 8) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    rows = dataops.hyperplane_ann(emb).collect()
    per_q = {}
    for r in rows:
        per_q[r.q_id] = per_q.get(r.q_id, 0) + 1
    assert len(per_q) == n and set(per_q.values()) == {3}
    assert all(r.cosine == 1.0 and r.q_id != r.vec_id for r in rows)


def test_ann_bucket_cap_connectivity(spark):
    """d26 semantics on a degenerate bucket: the capped pairs must keep
    every member connected (through the representative set) so
    connected-components dedup still collapses the whole group."""
    n = 500
    emb = spark.createDataFrame(
        [(i, [0.25, 1.0] * 8) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    pairs = dataops._hyperplane_scored_pairs(emb, threshold=0.30).selectExpr(
        "ua as a", "ub as b"
    )
    cc = dataops._connected_components(pairs).collect()
    assert len(cc) == n
    assert {r["component"] for r in cc} == {0}


def test_ann_small_buckets_keep_all_pairs(spark):
    """Buckets at or under the cap keep exact all-pairs candidates —
    the cap only degrades hot buckets. With a -inf threshold the grid
    emits every candidate it scores."""
    rng = np.random.Generator(np.random.PCG64(3))
    vecs = rng.standard_normal((40, 16))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["ua"], r["ub"])
        for r in dataops._hyperplane_scored_pairs(emb, threshold=float("-inf")).collect()
    }
    # reference: uncapped bucket co-membership over the same seeded UDF
    # at the SAME adaptive plane count the pair generator picks for n=40
    buckets = dataops._hyperplane_buckets_udf(
        16, dataops._adaptive_planes(len(vecs))
    ).func(
        pd.Series([[float(x) for x in v] for v in vecs])
    ).tolist()
    want = set()
    for i in range(len(vecs)):
        for j_ in range(i + 1, len(vecs)):
            if set(buckets[i]) & set(buckets[j_]):
                want.add((i, j_))
    assert got == want


def test_d25_total_over_short_docs(spark, tmp_path):
    """d25 (round-4 ADVICE fix): docs with < 2 words emit no 2-grams —
    they must STILL get a curation row (keep=0, reason low_quality via
    the word-count gate), and the DuckDB oracle must agree on the
    crafted corpus."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from text_extraction_spark.oracle_check import compare

    docs = pa.table(
        {
            "doc_id": pa.array([0, 1, 2], pa.int64()),
            "text": pa.array(
                ["solo", ("alpha beta gamma delta " * 10).strip(),
                 ("one two three four five " * 10).strip()]
            ),
        }
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    df = dataops.QUERIES["d25_curation_pipeline"](spark, str(tmp_path))
    rows = {r["doc_id"]: r for r in df.collect()}
    assert set(rows) == {0, 1, 2}, "curation decision must be total"
    assert rows[0]["keep"] == 0 and rows[0]["reason"] == "low_quality"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    r = compare(df, con, dataops._D25_SQL)
    assert r["count_match"] and r["values_match"], r


def test_d28_golden_matches_duckdb_oracle(spark):
    """d28 (round 4): the full LSH→verify→components→keep pipeline must
    reproduce DuckDB's brute-force + recursive-CTE answer on the planted
    near-dup store — the end-to-end value oracle VERDICT r3 asked for."""
    import duckdb

    from text_extraction_spark.oracle_check import compare

    r = compare(
        dataops.QUERIES["d28_embedding_dedup_golden"](spark, SF),
        duckdb.connect(),
        dataops.d28_oracle_sql(),
    )
    assert r["count_match"] and r["schema_match"] and r["values_match"], r


def test_neardup_store_dead_band():
    """The planted store must keep every pairwise cosine at least 0.005
    away from the 0.90 verify threshold (float summation order between
    engines differs by ~1e-15 — a 0.005 dead band makes edge flips
    impossible), and regeneration must be byte-deterministic."""
    import os

    import pyarrow.parquet as pq

    d = dataops.neardup_store_dir()
    tbl = pq.read_table(os.path.join(d, "embeddings.parquet"))
    X = np.array(tbl.column("embedding").to_pylist())
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    cos = Xn @ Xn.T
    iu = np.triu_indices(len(X), k=1)
    margin = np.abs(cos[iu] - dataops._NEARDUP_THRESHOLD).min()
    assert margin > 0.005, margin
    # planted edges exist on both sides of the threshold
    assert (cos[iu] >= dataops._NEARDUP_THRESHOLD).sum() > 50
    assert (cos[iu] < dataops._NEARDUP_THRESHOLD).sum() > 1000


def test_d29_d30_golden_match_duckdb_oracles(spark):
    """d29/d30 (round 4): the IVF top-3 and MinHash-dedup pipelines must
    reproduce DuckDB's brute-force answers on their planted stores —
    both approximate paths are now value-verified end-to-end."""
    import duckdb

    from text_extraction_spark.oracle_check import compare

    for name, sql in (
        ("d29_ann_ivf_golden", dataops.d29_oracle_sql()),
        ("d30_dedup_pipeline_golden", dataops.d30_oracle_sql()),
    ):
        r = compare(dataops.QUERIES[name](spark, SF), duckdb.connect(), sql)
        assert r["count_match"] and r["schema_match"] and r["values_match"], (name, r)


def test_golden_store_separation_properties():
    """The planted stores must keep their structural margins: d29 —
    intra-cluster cosine far above inter-cluster (top-3 always in
    cluster); d30 — intra-group word-Jaccard far above the 0.5 verify
    threshold, cross pairs far below (candidate recall 1.0 + no
    boundary sensitivity)."""
    import os

    import pyarrow.parquet as pq

    X = np.array(
        pq.read_table(
            os.path.join(dataops.ivf_store_dir(), "embeddings.parquet")
        ).column("embedding").to_pylist()
    )
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    cos = Xn @ Xn.T
    m = dataops._IVFG_MEMBERS
    for c in range(dataops._IVFG_CLUSTERS):
        blk = cos[c * m : (c + 1) * m, c * m : (c + 1) * m]
        assert blk.min() > 0.97
    inter = cos.copy()
    for c in range(dataops._IVFG_CLUSTERS):
        inter[c * m : (c + 1) * m, c * m : (c + 1) * m] = 0
    assert inter.max() < 0.8

    texts = (
        pq.read_table(
            os.path.join(dataops.dedup_corpus_store_dir(), "documents.parquet")
        ).column("text").to_pylist()
    )
    words = [set(t.split()) for t in texts]
    gid = []
    for g, size in enumerate(dataops._DDG_GROUP_SIZES):
        gid += [g] * size
    gid += [-1 - i for i in range(dataops._DDG_SINGLETONS)]
    jac = lambda a, b: len(a & b) / len(a | b)
    intra = [
        jac(words[i], words[j])
        for i in range(len(words))
        for j in range(i + 1, len(words))
        if gid[i] == gid[j] and gid[i] >= 0
    ]
    assert min(intra) >= 0.75, min(intra)
    cross = max(
        jac(words[i], words[j])
        for i in range(len(words))
        for j in range(i + 1, len(words))
        if gid[i] != gid[j]
    )
    assert cross <= 0.3, cross


def test_minhash_batched_matches_per_doc_reference():
    """Round-4 reduceat batching must be bit-identical to the per-doc
    definition ((a·x+b) mod 2³¹−1 min over crc32 shingle keys),
    regardless of how documents share a batch or chunk boundaries."""
    import zlib

    p = (1 << 31) - 1
    rng = np.random.Generator(np.random.PCG64(42))
    a = rng.integers(1, p, dataops._MINHASH_PERMS, dtype=np.int64)[:, None]
    b = rng.integers(0, p, dataops._MINHASH_PERMS, dtype=np.int64)[:, None]

    def ref(s: str) -> list[int]:
        words = (s or "").split()
        sh = {" ".join(words[i : i + 3]) for i in range(max(len(words) - 2, 1))}
        xs = np.fromiter(
            (zlib.crc32(x.encode()) & 0x7FFFFFFF for x in sh), dtype=np.int64, count=len(sh)
        )[None, :]
        return [int(v) for v in ((a * xs + b) % p).min(axis=1)]

    rng2 = np.random.Generator(np.random.PCG64(5))
    vocab = [f"t{i}" for i in range(50)]
    texts = [""] + [
        " ".join(vocab[int(j)] for j in rng2.integers(0, 50, int(n)))
        for n in rng2.integers(1, 300, 40)
    ]
    got = dataops.minhash_sig_udf.func(pd.Series(texts)).tolist()
    assert got == [ref(s) for s in texts]


def _simhash_reference(s: str) -> int:
    """The SimHash definition as a straight-line per-document twin (one
    hash_array call per word) — the batched UDF must reproduce it
    bit-for-bit regardless of how documents share a batch."""
    words = set((s or "").split())
    if not words:
        return 0
    acc = np.zeros(64, dtype=np.int64)
    shifts = np.arange(64, dtype=np.uint64)
    for w in words:
        h = pd.util.hash_array(np.asarray([w], dtype=object))[0]
        bits = (np.uint64(h) >> shifts) & np.uint64(1)
        acc += np.where(bits == 1, 1, -1)
    sig = ((acc > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum(dtype=np.uint64)
    return int(np.uint64(sig).astype(np.int64))


def test_simhash_vectorized_matches_reference():
    texts = [
        "the quick brown fox", "the quick brown fox", "completely different words here",
        "", None, "one", "a b c d e f g h i j k l m n o p",
        "unicode wörds ärē fine tōo", "repeated repeated repeated word",
    ]
    got = dataops.simhash_udf.func(pd.Series(texts)).tolist()
    want = [_simhash_reference(s) for s in texts]
    assert got == want


def test_hyperplane_buckets_deterministic_and_shaped():
    # wrong-dim rows never reach the UDF: dense_embeddings drops them
    # (pinned by test_embedding_dim_derived_and_drops_surfaced)
    e64 = [np.arange(64, dtype=float).tolist(), (np.ones(64) * -1).tolist()]
    udf64 = dataops._hyperplane_buckets_udf(64)
    out = udf64.func(pd.Series(e64)).tolist()
    assert len(out) == 2
    assert len(out[0]) == dataops._LSH_TABLES
    # table id spaces are disjoint
    for t_idx, b in enumerate(out[0]):
        assert b >> dataops._LSH_PLANES == t_idx
    out2 = dataops._hyperplane_buckets_udf(64).func(pd.Series(e64)).tolist()
    assert out == out2


def test_ann_recall_floor(spark):
    """Measured floors on the noise-like testdata (true neighbors at
    cosine ~0.3 — worst case for any ANN), deterministic (seeded planes
    / centroids, fixed data): LSH (32 tables, adaptive planes — round 5)
    mean recall@3 >= 0.75; IVF at the round-4 operating point
    (k=48, nprobe=14, swept) >= 0.70 at ~0.29 candidate fraction."""
    rows = dataops.d14(spark, SF).collect()
    means = {r["op"]: r["recall_at_3"] for r in rows if r["q_id"] == -1}
    assert means["lsh"] >= 0.75, means
    assert means["ivf"] >= 0.70, means
    assert len(rows) == 2 * (dataops._RECALL_QUERIES + 1)


def test_approx_count_distinct_within_bound(spark):
    """q12 rows-only hardening: HLL++ at rsd=0.02 must land within 5% of
    the exact distinct counts (deterministic for fixed data)."""
    from text_extraction_spark import relational

    approx = {
        r["l_returnflag"]: r["approx_parts"]
        for r in relational.QUERIES["q12_approx_count_distinct"](spark, SF).collect()
    }
    exact = {
        r["l_returnflag"]: r["n_part"]
        for r in relational.t(spark, SF, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n_part"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k in exact:
        rel_err = abs(approx[k] - exact[k]) / max(exact[k], 1)
        assert rel_err <= 0.05, (k, approx[k], exact[k])


def test_full_dedup_pipeline_keep_semantics(spark):
    """d20 (LSH candidates → exact verify → components → keep-list):
    exactly ONE keeper per component and it is the component's min
    doc_id; deterministic across runs."""
    rows = dataops.QUERIES["d20_dedup_pipeline"](spark, SF).collect()
    assert rows, "no duplicate components found at sf0.001"
    comps: dict = {}
    for r in rows:
        comps.setdefault(r.component, []).append((r.doc_id, r.keep))
    for c, members in comps.items():
        keepers = [d for d, k in members if k]
        assert len(keepers) == 1
        assert keepers[0] == min(d for d, _ in members) == c
    rows2 = dataops.QUERIES["d20_dedup_pipeline"](spark, SF).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_audio_features_match_closed_form():
    """d21's decode+features on a pure sine: RMS = A/√2, ZCR = 2f/rate
    (within quantization tolerance) — the numpy 'codec' path is real."""
    rate, f0, amp, dur = 8000, 440.0, 0.5, 1.0
    t = np.arange(int(rate * dur)) / rate
    pcm = np.clip(amp * np.sin(2 * np.pi * f0 * t) * 32768, -32768, 32767).astype("<i2")
    # the UDF's exact decode + feature computation, straight-line
    x = pcm.astype(np.float64) / 32768.0
    rms = float(np.sqrt(np.mean(x * x)))
    zcr = float(np.mean(np.signbit(x[:-1]) != np.signbit(x[1:])))
    assert abs(rms - amp / np.sqrt(2)) < 0.005
    assert abs(zcr - 2 * f0 / rate) < 0.005


def test_av_queries_shapes_and_determinism(spark):
    """d21/d22 over the deterministic AV store: row counts, sampled
    frame cadence (every fps-th frame), duration consistency, and
    run-to-run determinism."""
    a1 = dataops.QUERIES["d21_audio_features"](spark, SF).collect()
    a2 = dataops.QUERIES["d21_audio_features"](spark, SF).collect()
    assert sorted(map(tuple, a1)) == sorted(map(tuple, a2))
    assert len(a1) == dataops._AV_CLIPS
    assert all(0.5 <= r.duration_s <= 2.0 and 0 < r.rms < 1 for r in a1)

    v = dataops.QUERIES["d22_video_frame_sample"](spark, SF).collect()
    by_clip: dict = {}
    for r in v:
        by_clip.setdefault(r.clip_id, []).append(r.frame_idx)
    assert len(by_clip) == dataops._AV_CLIPS
    for idxs in by_clip.values():
        assert sorted(idxs) == list(range(0, max(idxs) + 1, dataops._AV_FPS))
    # luma of the moving gradient is exactly computable for frame 0
    first = min((r for r in v if r.clip_id == "clip-00000"), key=lambda r: r.frame_idx)
    ys, xs = np.mgrid[0 : dataops._AV_H, 0 : dataops._AV_W]
    g = ((xs * 3 + ys * 2) % 256).astype(np.int64)
    want = round(float((((77 * g + 150 * g + 29 * g) >> 8)).mean()), 4)
    assert first.mean_luma == want


def test_connected_components_long_chain_beats_diameter(spark):
    """Round-3 (VERDICT r2 wrong #1): a dup-chain of diameter 200 —
    which plain min-label propagation could NOT finish in max_iter=25
    rounds — must converge exactly under the large-star/small-star
    alternation (O(log² n) rounds, diameter-independent)."""
    e = spark.createDataFrame([(i, i + 1) for i in range(200)], "a: long, b: long")
    got = {r.id: r.component for r in dataops._connected_components(e).collect()}
    assert len(got) == 201 and set(got.values()) == {0}


def test_connected_components_matches_union_find(spark):
    """Randomized property: star-contraction components == a driver-side
    union-find oracle on the same edges (500 vertices, 300 edges,
    fixed seed), including min-id representative choice."""
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(500), rng.randrange(500)) for _ in range(300)]
    parent = list(range(500))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    verts = sorted({v for ab in edges for v in ab})
    members: dict[int, list[int]] = {}
    for v in verts:
        members.setdefault(find(v), []).append(v)
    want = {v: min(members[find(v)]) for v in verts}
    e = spark.createDataFrame(edges, "a: long, b: long")
    got = {r.id: r.component for r in dataops._connected_components(e).collect()}
    assert got == want


def test_connected_components_raises_on_exhaustion(spark):
    """The convergence guard: exhausting max_iter must RAISE, never
    silently return partially-propagated components."""
    e = spark.createDataFrame([(i, i + 1) for i in range(40)], "a: long, b: long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dataops._connected_components(e, max_iter=1)


def test_connected_components_star_forest_input_runs_no_round(spark):
    """An input that already is a downward star forest is its own
    answer: the stop rule accepts it before the first round."""
    e = spark.createDataFrame([(1, 0), (2, 0), (4, 3)], "a: long, b: long")
    got = {r.id: r.component for r in dataops._connected_components(e).collect()}
    assert dataops._cc_last_rounds == 0
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3}


def test_connected_components_stop_rule_rejects_near_stars(spark):
    """The stop rule's soundness: the star test rejects each near-star
    (two parents, an upward edge, a root that is also a leaf) and
    accepts an empty frame and an oriented star; on every one of these
    inputs the components equal a union-find oracle."""
    cases = {
        "two parents": ([(3, 1), (3, 2)], False),
        "upward edge": ([(0, 1)], False),
        "root is a leaf": ([(2, 1), (1, 0)], False),
        "empty": ([], True),
        "oriented star": ([(1, 0), (2, 0), (3, 0)], True),
    }
    for name, (edges, is_star) in cases.items():
        e = spark.createDataFrame(edges, "a: long, b: long")
        assert dataops._is_star_forest(e) is is_star, name

        n = 1 + max((v for ab in edges for v in ab), default=0)
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        verts = sorted({v for ab in edges for v in ab})
        members: dict[int, list[int]] = {}
        for v in verts:
            members.setdefault(find(v), []).append(v)
        want = {v: min(members[find(v)]) for v in verts}
        got = {r.id: r.component for r in dataops._connected_components(e).collect()}
        assert got == want, name


def _neardup_fixture(spark):
    """Controlled near-dup fixture for the candidate-recall gates: 60
    base docs (80 words over an 800-word vocab) + 5 mutated twins each
    at 2–20% word replacement, so exact 3-shingle Jaccard spans the
    [0.3, 0.95] range around the LSH threshold. Deterministic seed."""
    import random

    rng = random.Random(123)
    vocab = [f"w{i:03d}" for i in range(800)]
    docs = {}
    i = 0
    for _ in range(60):
        words = [rng.choice(vocab) for _ in range(80)]
        docs[i] = words
        i += 1
        for rate in (0.02, 0.05, 0.08, 0.12, 0.2):
            docs[i] = [w if rng.random() > rate else rng.choice(vocab) for w in words]
            i += 1
    df = spark.createDataFrame(
        [(d, " ".join(ws)) for d, ws in docs.items()], "doc_id: long, text: string"
    )
    return docs, df


def _shingle_jaccard_truth(docs, threshold):
    import itertools

    sh = {
        d: {" ".join(ws[k : k + 3]) for k in range(max(len(ws) - 3, 0) + 1)}
        for d, ws in docs.items()
    }
    return {
        (a, b)
        for a, b in itertools.combinations(sorted(docs), 2)
        if len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= threshold
    }


def test_minhash_candidate_recall_floor(spark):
    """Round-3 gate (VERDICT r2 missing #2): d02's MinHash+LSH candidate
    generation must surface ≥ 0.9 of exact shingle-Jaccard ≥ 0.5 pairs
    and ≥ 0.95 of ≥ 0.6 pairs (theory at 32 bands × 4 rows: 0.87 /
    0.99; measured on this fixture: 0.963 / 1.0). The round-2 config
    (4 bands × 4 rows, threshold ≈ 0.71) measured 0.0 at ≥ 0.5."""
    docs, df = _neardup_fixture(spark)
    truth5 = _shingle_jaccard_truth(docs, 0.5)
    truth6 = _shingle_jaccard_truth(docs, 0.6)
    cand = {(r.doc_a, r.doc_b) for r in dataops.minhash_candidates(df).collect()}
    assert len(truth5) > 300, "fixture degenerated — regenerate"
    assert len(truth5 & cand) / len(truth5) >= 0.9
    assert len(truth6 & cand) / len(truth6) >= 0.95


def test_simhash_candidate_recall(spark):
    """d03's 4-block OR-bucketing: Hamming ≤ 3 recall must be EXACTLY
    1.0 (pigeonhole over 4×16-bit blocks — a guarantee, not a tuning),
    and Hamming ≤ 8 best-effort recall ≥ 0.5 (measured 0.641). The
    candidate rows are exactly the pairs that share a 16-bit block and
    sit within Hamming 8, each once, with its Hamming distance — also
    for the pairs that share several blocks."""
    import itertools

    docs, df = _neardup_fixture(spark)
    sigs = dataops.simhash_udf.func(pd.Series([" ".join(ws) for ws in docs.values()]))
    sig = dict(zip(docs.keys(), (int(v) & ((1 << 64) - 1) for v in sigs)))
    h3, h8, truth, multi = set(), set(), {}, set()
    for a, b in itertools.combinations(sorted(docs), 2):
        x = sig[a] ^ sig[b]
        hd = bin(x).count("1")
        if hd <= 3:
            h3.add((a, b))
        if hd <= 8:
            h8.add((a, b))
            agree = sum((x >> (16 * r)) & 0xFFFF == 0 for r in range(4))
            if agree:
                truth[(a, b)] = hd
            if agree >= 2:
                multi.add((a, b))
    rows = [(r.doc_a, r.doc_b, r.hamming) for r in dataops.simhash_candidates(df).collect()]
    cand = {(a, b) for a, b, _ in rows}
    assert h3 and len(h3 & cand) == len(h3)
    assert len(h8 & cand) / len(h8) >= 0.5
    assert multi, "fixture holds no pair agreeing on two blocks — regenerate"
    assert len(rows) == len(cand)
    assert {(a, b): h for a, b, h in rows} == truth


def test_embedding_dim_derived_and_drops_surfaced(spark):
    """Round-3 (VERDICT r2 wrong #2): ANN must derive the embedding dim
    from the data and SURFACE wrong-dim rows, never silently drop them.
    A 48-d store works end-to-end; two stray 16-d rows are counted and
    warned about while the rest still produce neighbors."""
    import warnings

    rng = np.random.default_rng(3)
    rows = [(i, rng.standard_normal(48).tolist()) for i in range(40)]
    rows += [(100, rng.standard_normal(16).tolist()), (101, rng.standard_normal(16).tolist())]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        dense, n, dim = dataops.dense_embeddings(df)
    assert (n, dim) == (40, 48) and dense.count() == 40
    assert any("2 rows dropped" in str(x.message) for x in w)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = dataops.hyperplane_ann(df).collect()
    assert any("2 rows dropped" in str(x.message) for x in w)
    assert out and all(r.q_id < 100 and r.vec_id < 100 for r in out)


def test_null_vector_at_the_smallest_id_is_one_dropped_row(spark):
    """The canonical dim is the dim of the smallest vec_id that holds a
    vector. A null vector at the smallest id is one dropped row; it
    neither sets the dim nor fails the query (its size is null under
    ANSI mode)."""
    import warnings

    rng = np.random.default_rng(4)
    rows = [(0, None)] + [(i, rng.standard_normal(3).tolist()) for i in range(1, 6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert dataops.emb_stats(df) == (6, 3, {"null vector": 1})
    assert dataops.emb_stats(df.filter("vec_id = 0")) == (1, 0, {"null vector": 1})
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        dense, n, dim = dataops.dense_embeddings(df)
    assert (n, dim) == (5, 3) and dense.count() == 5
    assert [str(x.message) for x in w if x.category is UserWarning] == [
        "embedding store: 1 rows dropped (null vector: 1)"
    ]


def _planted_48d_rows():
    """48-d store: 6 near-duplicate groups of 4 (cosine ~0.99) plus 16
    random singletons, so dedup yields multi-member components."""
    rng = np.random.default_rng(11)
    vecs = []
    for _ in range(6):
        c = rng.standard_normal(48)
        vecs += [c + 0.05 * rng.standard_normal(48) for _ in range(4)]
    vecs += [rng.standard_normal(48) for _ in range(16)]
    return [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]


def _dedup_rows(df):
    return sorted(
        tuple(r) for r in dataops.embedding_dedup_pipeline(df, threshold=0.9).collect()
    )


def test_null_element_row_is_dropped_at_the_boundary(spark):
    """A null element would become NaN in the Arrow decode, and
    `cosine >= threshold` accepts NaN. The boundary counts
    and drops the row instead, so dedup and ANN answer exactly as on
    the store without it."""
    import warnings

    rows = _planted_48d_rows()
    holed = list(rows[1][1])
    holed[5] = None  # near-duplicate of group 0 with one null element
    schema = "vec_id long, embedding array<double>"
    clean = spark.createDataFrame(rows, schema)
    dirty = spark.createDataFrame(rows + [(500, holed)], schema)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got_dedup = _dedup_rows(dirty)
        got_ann = sorted(tuple(r) for r in dataops.hyperplane_ann(dirty).collect())
    assert sum("1 rows dropped" in str(x.message) for x in w) == 2
    assert got_dedup == _dedup_rows(clean)
    assert got_ann == sorted(tuple(r) for r in dataops.hyperplane_ann(clean).collect())
    assert any(not keep for _, _, keep in got_dedup)


def test_ragged_store_dedup_equals_dense_rows(spark):
    """16-d rows and a null vector are dropped at the boundary, never
    scored against 48-d rows (a zip of mismatched dims would silently
    truncate): the dedup answer is exactly the 48-d rows' answer."""
    rows = _planted_48d_rows()
    rng = np.random.default_rng(12)
    extra = [(200 + i, rng.standard_normal(16).tolist()) for i in range(3)]
    schema = "vec_id long, embedding array<double>"
    dense = spark.createDataFrame(rows, schema)
    ragged = spark.createDataFrame(rows + extra + [(300, None)], schema)
    with pytest.warns(UserWarning, match="4 rows dropped"):
        got = _dedup_rows(ragged)
    assert got == _dedup_rows(dense)


def _dirty_16d_store(spark):
    """(X, clean, dirty): 16-d stores of 200 seeded rows X, the first 40 in 10
    near-duplicate groups of 4, and the dirty store adds an all-zero
    row, a row with a NaN element and one with a +inf element (the last
    two are copies of group members)."""
    rng = np.random.default_rng(21)
    X = rng.standard_normal((200, 16))
    for g in range(10):
        X[4 * g : 4 * g + 4] = X[4 * g] + 0.05 * rng.standard_normal((4, 16))
    rows = [(i, i % 5, [float(x) for x in v]) for i, v in enumerate(X)]
    nan_row, inf_row = list(rows[1][2]), list(rows[5][2])
    nan_row[4], inf_row[2] = float("nan"), float("inf")
    dirty = rows + [(900, 0, [0.0] * 16), (901, 1, nan_row), (902, 2, inf_row)]
    schema = "vec_id long, label int, embedding array<double>"
    return X, spark.createDataFrame(rows, schema), spark.createDataFrame(dirty, schema)


def test_embedding_contract_drops_zero_and_non_finite_rows(spark, tmp_path):
    """An all-zero vector has no cosine, and a NaN or inf element makes
    every cosine of its row NaN (or raises under ANSI mode in the JVM
    fold). The store boundary counts and drops such rows, so every
    exact-kernel path answers exactly as on the store without them."""
    import warnings

    X, clean, dirty = _dirty_16d_store(spark)
    C = dataops._spherical_kmeans(X, k=8)
    books = dataops._pq_train(X, m=4, ksub=8)
    Q, q_ids = X[:10], list(range(10))

    def sq8(df):
        e, _, dim = dataops.dense_embeddings(df)
        mn, mx = dataops.sq8_minmax(e, dim)
        return dataops.sq8_refined_topk(e, Q, q_ids, mn, mx)

    def pq_(df):
        e, _, _ = dataops.dense_embeddings(df)
        return dataops.pq_refined_topk(e, Q, q_ids, books)

    for tag, df in (("clean", clean), ("dirty", dirty)):
        df.write.parquet(str(tmp_path / tag / "embeddings.parquet"))

    def query(fn):
        return lambda df: fn(spark, str(tmp_path / ("dirty" if df is dirty else "clean")))

    paths = {
        "hyperplane_ann": dataops.hyperplane_ann,
        "ivf_topk": lambda df: dataops.ivf_topk(df, C),
        "embedding_dedup_pipeline": lambda df: dataops.embedding_dedup_pipeline(
            df.select("vec_id", "embedding"), threshold=0.9
        ),
        "sq8_refined_topk": sq8,
        "pq_refined_topk": pq_,
        "_centroid_assign": dataops._centroid_assign,
        "d05": query(dataops.d05),
        "d12": query(dataops.d12),
        "d42": query(dataops.d42),
    }
    for name, path in paths.items():
        want = sorted(tuple(r) for r in path(clean).collect())
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            got = sorted(tuple(r) for r in path(dirty).collect())
        assert any("3 rows dropped" in str(x.message) for x in w), name
        assert got == want, name
        assert want, name


def test_fold_kernel_matches_jvm_cosine_bitwise(spark):
    """The numpy kernel in its LSH bucket-grid shape
    (_hyperplane_scored_pairs on its threshold path, every pair kept)
    and its cell-grid shape (_cell_topk_cosine with the margin filter
    disabled) returns exactly the doubles of the JVM _cosine fold — no
    rounding. Both grids run behind the store boundary, which drops the
    zero row 7 (test_embedding_contract_drops_zero_and_non_finite_rows);
    the JVM fold over it, which raises under ANSI mode, yields null with
    ANSI off."""
    import math

    rng = np.random.default_rng(5)
    X = rng.standard_normal((24, 64)).astype(np.float32)
    X[7] = 0.0
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(X)],
        "vec_id long, embedding array<float>",
    )
    pairs = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea")).crossJoin(
        emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"))
    ).filter(F.col("a") != F.col("b"))
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        jvm = {
            (r.a, r.b): r.c
            for r in pairs.select(
                "a", "b", dataops._cosine(F.col("ea"), F.col("eb")).alias("c")
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)

    def same(x, y):
        # the cogroup's pandas→Arrow return turns NaN into null
        return (x is None or math.isnan(x)) if y is None else x == y

    dense = emb.filter(F.col("vec_id") != 7)
    # pairs come out as (min id, max id), divided by |min| then |max|
    bucket = {
        (r.ua, r.ub): r.cosine
        for r in dataops._hyperplane_scored_pairs(dense, threshold=float("-inf")).collect()
    }
    assert bucket and all(a < b and 7 not in (a, b) for a, b in bucket)
    assert all(bucket[k] == jvm[k] for k in bucket)

    cell = F.col("vec_id") % 2
    rows = dense.select("vec_id", "embedding", cell.alias("c"), F.lit(0).alias("rank"))
    grid = {
        (r.vec_id, r.q_id): r.cosine
        for r in dataops._cell_topk_cosine(rows, "c", margin=float("inf")).collect()
    }
    want = {k: v for k, v in jvm.items() if k[0] % 2 == k[1] % 2 and 7 not in k}
    assert grid.keys() == want.keys()
    assert all(same(grid[k], want[k]) for k in want)


def test_langid_accuracy_on_multilingual_fixture():
    """Round-3 (VERDICT r2 next #9): the Cavnar–Trenkle trigram langid
    must reach ≥ 0.9 accuracy on real sentences per language (the driver
    testdata's text is synthetic word-salad, so THIS fixture — not the
    lang column — is the meaningful gate; d09's agreement matrix over
    testdata stays diagnostic)."""
    samples = [
        ("en", "I went to the market yesterday and bought some bread and milk for the children"),
        ("en", "She would have been happier if they had told her the truth about what happened"),
        ("en", "The weather this morning was cold but the sun came out in the afternoon"),
        ("en", "We should meet again next week to talk about the plans for the summer"),
        ("es", "Ayer fui al mercado y compré pan y leche para los niños de la casa"),
        ("es", "Ella habría sido más feliz si le hubieran dicho la verdad sobre lo que pasó"),
        ("es", "El tiempo esta mañana era frío pero el sol salió por la tarde"),
        ("es", "Deberíamos encontrarnos otra vez la próxima semana para hablar de los planes"),
        ("de", "Gestern ging ich zum Markt und kaufte Brot und Milch für die Kinder"),
        ("de", "Sie wäre glücklicher gewesen wenn man ihr die Wahrheit gesagt hätte"),
        ("de", "Das Wetter heute Morgen war kalt aber die Sonne kam am Nachmittag heraus"),
        ("de", "Wir sollten uns nächste Woche wieder treffen um über die Pläne zu sprechen"),
        ("fr", "Hier je suis allé au marché et j'ai acheté du pain et du lait pour les enfants"),
        ("fr", "Elle aurait été plus heureuse si on lui avait dit la vérité sur ce qui est arrivé"),
        ("fr", "Le temps ce matin était froid mais le soleil est sorti dans l'après-midi"),
        ("fr", "Nous devrions nous retrouver la semaine prochaine pour parler des projets"),
        ("zh", "昨天我去市场买了面包和牛奶给孩子们"),
        ("zh", "今天早上的天气很冷但是下午太阳出来了"),
    ]
    pred = dataops.langid_udf.func(pd.Series([s for _, s in samples]))
    acc = sum(p == l for (l, _), p in zip(samples, pred)) / len(samples)
    assert acc >= 0.9, f"langid accuracy {acc}"


def test_embedding_dedup_pipeline_keep_semantics(spark):
    """d26 (round 3): LSH candidates → exact-cosine verify → components
    → keep-list over embeddings. Exactly ONE keeper per component and it
    is the component's min vec_id; non-trivial components must exist at
    sf0.001 (the testdata embeds near-dup pairs)."""
    rows = dataops.QUERIES["d26_embedding_dedup_pipeline"](spark, SF).collect()
    assert rows, "no candidate components found"
    by_comp: dict[int, list] = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r)
    for members in by_comp.values():
        keepers = [m for m in members if m.keep]
        assert len(keepers) == 1
        assert keepers[0].vec_id == min(m.vec_id for m in members)


def test_embedding_dedup_pipeline_equals_exact_partition(spark):
    """d26 at sf0.001 is the EXACT answer: the components of the graph
    of every pair with cosine >= 0.30 (the same _fold_dot doubles and
    division order dot / |min id| / |max id|), each labelled by its min
    vec_id, over the vectors that have an edge. The bucket grid keeps
    only true edges, so d26 can only fall short of this partition by a
    missed connection."""
    got = {
        r.vec_id: r.component
        for r in dataops.QUERIES["d26_embedding_dedup_pipeline"](spark, SF).collect()
    }
    e, _, _ = dataops.dense_embeddings(spark.read.parquet(f"{SF}/embeddings.parquet"))
    pdf = e.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]).T
    norms = np.sqrt(dataops._fold_dot(X, X))
    cos = dataops._fold_dot(X[:, :, None], X[:, None, :]) / norms[:, None] / norms[None, :]
    ia, ib = np.nonzero(np.triu(cos >= 0.30, k=1))
    parent = np.arange(len(ids))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(ia, ib):
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    want = {int(ids[v]): int(ids[find(v)]) for v in set(ia) | set(ib)}
    assert len(set(want.values())) > 1
    assert got == want


def test_connected_components_hypothesis_random_graphs(spark):
    """Hypothesis-style property over many random graphs (driver-seeded,
    not @given — each case needs a Spark job): star-contraction equals
    union-find on 12 random (n, m) graphs including empty, self-loop,
    dense and sparse regimes."""
    import random

    rng = random.Random(99)
    for _case in range(12):
        n = rng.randint(1, 60)
        m = rng.randint(0, 90)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        verts = sorted({v for ab in edges for v in ab})
        members: dict[int, list[int]] = {}
        for v in verts:
            members.setdefault(find(v), []).append(v)
        want = {v: min(members[find(v)]) for v in verts}
        e = spark.createDataFrame(edges, "a: long, b: long") if edges else (
            spark.createDataFrame([], "a: long, b: long")
        )
        got = {r.id: r.component for r in dataops._connected_components(e).collect()}
        assert got == want, (n, m, edges[:10])


def test_word_ngrams_short_docs_empty_not_descending(spark):
    """Spark's sequence(1, 0) is DESCENDING [1, 0] — not empty like
    DuckDB's range — so _word_ngrams must guard docs shorter than n
    (they yield an EMPTY gram array, matching the oracle)."""
    df = spark.createDataFrame(
        [("a b c",), ("one two three four five six seven eight",), ("",)],
        "text: string",
    )
    out = df.select(
        dataops._word_ngrams(F.split("text", " "), 8).alias("g")
    ).collect()
    assert [len(r.g) for r in out] == [0, 1, 0]
    assert out[1].g == ["one two three four five six seven eight"]


def test_connected_components_round_count_is_logarithmic(spark):
    """Quantified diameter-independence: a 10× longer chain must cost
    only ~log more contraction rounds (measured: diameter 200 → 8
    rounds, diameter 2000 → 11; plain propagation would need 200 and
    2000). Pins the O(log² n) claim, not just correctness."""
    e = spark.createDataFrame([(i, i + 1) for i in range(200)], "a: long, b: long")
    dataops._connected_components(e).collect()
    r200 = dataops._cc_last_rounds
    e = spark.createDataFrame([(i, i + 1) for i in range(2000)], "a: long, b: long")
    dataops._connected_components(e).collect()
    r2000 = dataops._cc_last_rounds
    assert r200 <= 12 and r2000 <= 16
    assert r2000 - r200 <= 6  # 10× diameter ⇒ +O(log), not +O(diameter)


def test_connected_components_reliable_checkpoint(tmp_path):
    """When the context has a checkpoint dir (the 100 TB setting),
    _connected_components must use RELIABLE checkpoints — files appear
    under the dir — and produce identical results. Runs in a subprocess
    because setCheckpointDir is global to the session."""
    import os
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ckpt = str(tmp_path / "ckpt")
    script = textwrap.dedent(f"""
        import sys, os
        sys.path.insert(0, {repo!r})
        from text_extraction_spark.conf import get_spark, stop_active
        from text_extraction_spark import dataops
        stop_active()
        spark = get_spark("local[4]", app_name="cc-ckpt", shuffle_partitions=8)
        spark.sparkContext.setLogLevel("ERROR")
        spark.sparkContext.setCheckpointDir({ckpt!r})
        e = spark.createDataFrame([(i, i + 1) for i in range(60)], "a: long, b: long")
        out = {{r.id: r.component for r in dataops._connected_components(e).collect()}}
        assert len(out) == 61 and set(out.values()) == {{0}}, out
        files = [f for _d, _s, fs in os.walk({ckpt!r}) for f in fs]
        assert files, "no reliable checkpoint files written"
        stop_active()
        print("CC-CKPT-OK")
    """)
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=300, cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "CC-CKPT-OK" in proc.stdout


def test_connected_components_evaluates_input_once(spark):
    """The edge lineage runs ONCE: every input row passes the counting
    UDF exactly once, however many rounds follow. The vertex set still
    holds vertex 100, which appears only on a self-loop."""
    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def bump(a):
        acc.add(1)
        return a

    rows = [(i, i + 1) for i in range(30)] + [(100, 100), (3, 4)]
    e = spark.createDataFrame(rows, "a: long, b: long").select(
        bump.asNondeterministic()("a").alias("a"), "b"
    )
    got = {r.id: r.component for r in dataops._connected_components(e).collect()}
    assert got == {**{i: 0 for i in range(31)}, 100: 100}
    assert acc.value == len(rows)


def test_per_source_cap_exact_under_skew(spark):
    """d37's two-stage salted top-K must equal the single-window
    reference EXACTLY on a deliberately skewed store (one source holds
    96% of all docs — the crawl-loop shape the op exists for), and the
    salt stage must actually cut the hot source's window input."""
    from pyspark.sql import functions as F

    import text_extraction_spark.dataops as d

    rows = [(i, "hot" if i < 4800 else f"cold{i % 7}") for i in range(5000)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    cap, salt_n = d._D37_CAP, d._D37_SALT
    base = docs.select(
        "doc_id", "source",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
        F.pmod(F.xxhash64("doc_id"), F.lit(salt_n)).alias("salt"),
    )
    from pyspark.sql import Window

    w1 = Window.partitionBy("source", "salt").orderBy("h", "doc_id")
    s1 = (
        base.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= cap)
        .drop("r1", "salt")
    )
    w2 = Window.partitionBy("source").orderBy("h", "doc_id")
    two_stage = (
        s1.withColumn("rank", F.row_number().over(w2).cast("int"))
        .filter(F.col("rank") <= cap)
        .select("doc_id", "source", "rank")
    )
    ref = (
        base.withColumn("rank", F.row_number().over(w2).cast("int"))
        .filter(F.col("rank") <= cap)
        .select("doc_id", "source", "rank")
    )
    a = sorted(map(tuple, two_stage.collect()))
    b = sorted(map(tuple, ref.collect()))
    assert a == b and len(a) == cap + 7 * cap  # hot + 7 cold sources
    # stage-1 survivor set is bounded: hot source contributes <= salt*cap
    n_hot_survivors = s1.filter(F.col("source") == "hot").count()
    assert n_hot_survivors <= salt_n * cap
    assert n_hot_survivors < 4800  # the window input really shrank


def test_adaptive_granularity_rules():
    """Round-5 pins for the store-size-adaptive sketch granularity:
    monotone, clamped, and EXACTLY the round-4 configs at every scale
    the measured floors/goldens run at (so those records stay valid)."""
    from text_extraction_spark import dataops as d

    # LSH planes: round-4 config (6) preserved at the measured ~2k scale
    assert d._adaptive_planes(0) == d._LSH_PLANES
    assert d._adaptive_planes(40) == d._LSH_MIN_PLANES
    assert d._adaptive_planes(300) == d._LSH_MIN_PLANES  # planted stores
    assert d._adaptive_planes(2000) == 6  # sf0.01 = the swept point
    assert d._adaptive_planes(20_000) == 10  # sf1
    assert d._adaptive_planes(10**9) == d._LSH_MAX_PLANES
    prev = 0
    for n in (1, 10, 100, 10**3, 10**4, 10**5, 10**6, 10**9):
        cur = d._adaptive_planes(n)
        assert cur >= prev
        prev = cur
    # IVF k: sub-2016-vector stores keep the exact round-4 k=48
    assert d._adaptive_ivf_k(0) == d._IVF_K
    assert d._adaptive_ivf_k(300) == d._IVF_K
    assert d._adaptive_ivf_k(2000) == d._IVF_K
    assert d._adaptive_ivf_k(20_000) == 20_000 // d._IVF_TARGET_CELL
    assert d._adaptive_ivf_k(10**9) == d._IVF_MAX_K


def test_hyperplane_buckets_param_planes_deterministic():
    """The parameterized plane count keeps the bucket UDF deterministic
    and keeps every id inside its table's id space (t·2^planes + bits)."""
    import pandas as pd

    from text_extraction_spark import dataops as d

    rng = np.random.Generator(np.random.PCG64(11))
    embs = [list(map(float, rng.standard_normal(32))) for _ in range(50)]
    u = d._hyperplane_buckets_udf(32, 10)
    a = u.func(pd.Series(embs)).tolist()
    b = u.func(pd.Series(embs)).tolist()
    assert a == b
    for row in a:
        assert len(row) == d._LSH_TABLES
        for t_i, bucket in enumerate(row):
            assert t_i * (1 << 10) <= bucket < (t_i + 1) * (1 << 10)
    # a different plane count is a DIFFERENT hash family
    assert d._hyperplane_buckets_udf(32, 6).func(pd.Series(embs)).tolist() != a


# ---------------------------------------------------------------- round 6


def test_d38_bigcluster_golden_matches_duckdb_oracle(spark):
    """d38 (round 6): d26's bucket-grid verify must reproduce DuckDB's
    brute-force + recursive-CTE answer on the planted 100-member-cluster
    store, whose buckets overflow the representative cap."""
    import duckdb

    from text_extraction_spark.oracle_check import compare

    r = compare(
        dataops.QUERIES["d38_bigcluster_dedup_golden"](spark, SF),
        duckdb.connect(),
        dataops.d38_oracle_sql(),
    )
    assert r["count_match"] and r["schema_match"] and r["values_match"], r


def test_bigcluster_store_margins():
    """Structural pins for the d38 fixture: the 100-member cluster is a
    genuine clique far above the threshold, every pair clears the dead
    band, and regeneration is deterministic."""
    import os

    import pyarrow.parquet as pq

    d = dataops.bigcluster_store_dir()
    X = np.array(
        pq.read_table(os.path.join(d, "embeddings.parquet"))
        .column("embedding")
        .to_pylist()
    )
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    cos = Xn @ Xn.T
    m = dataops._BIGC_MEMBERS
    assert cos[:m, :m][np.triu_indices(m, k=1)].min() >= 0.99
    iu = np.triu_indices(len(X), k=1)
    assert np.abs(cos[iu] - dataops._NEARDUP_THRESHOLD).min() > 0.005
    assert dataops.bigcluster_store_dir() == d  # cached, no rebuild


def test_ivf2_recall_and_determinism(spark):
    """Two-level IVF (round 6): on a clustered store with the leaf
    target forced low enough to engage a real K1 x k2 hierarchy, top-3
    must be exact (recall 1.0 — probe coverage holds by construction on
    tight clusters) and byte-deterministic across runs."""
    rng = np.random.Generator(np.random.PCG64(5))
    vecs = []
    for _c in range(40):
        ctr = rng.standard_normal(32)
        ctr /= np.linalg.norm(ctr)
        for _ in range(15):
            v = ctr + 0.02 * rng.standard_normal(32)
            vecs.append(v / np.linalg.norm(v))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    res = dataops.ivf2_topk(df, target_cell=8)
    rows = res.orderBy("q_id", "vec_id").collect()
    X = np.stack(vecs)
    S = np.round(X @ X.T, 4)
    np.fill_diagonal(S, -2.0)
    by_q: dict[int, set] = {}
    for r in rows:
        by_q.setdefault(r.q_id, set()).add(r.vec_id)
    hits = sum(
        len(set(np.argsort(-S[q], kind="stable")[:3].tolist()) & by_q.get(q, set()))
        for q in range(len(vecs))
    )
    assert hits == 3 * len(vecs), hits / (3 * len(vecs))
    rows2 = dataops.ivf2_topk(df, target_cell=8).orderBy("q_id", "vec_id").collect()
    assert rows == rows2


def test_ivf2_leaf_structure_bounded(spark):
    """The two-level assignment must actually split the store into many
    leaves with bounded occupancy — the no-quadratic-candidate-join pin:
    per-query candidate work is (probed leaves) x (max occupancy), so a
    degenerate single-leaf assignment would silently restore n² work."""
    rng = np.random.Generator(np.random.PCG64(17))
    n = 600
    vecs = [v / np.linalg.norm(v) for v in rng.standard_normal((n, 16))]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    stats = dataops.emb_stats(df)
    C1 = dataops._train_centroids_df(df, 8)
    home = dataops._ivf_cells_udf(C1, 1)
    data_top = df.select(
        "vec_id", "embedding", F.posexplode(home("embedding")).alias("rank", "tcell")
    ).filter(F.col("tcell") >= 0)
    leaves = dataops._ivf2_leaves(data_top, 8, 1).groupBy("leaf").count().collect()
    assert stats[0] == n
    assert len(leaves) >= 30, len(leaves)  # ~64 leaves targeted
    assert max(r["count"] for r in leaves) <= n // 4


def test_d15_auto_switches_to_ivf2(spark, monkeypatch):
    """d15 must route past-threshold stores to the two-level path; the
    threshold guard keeps every measured floor/golden on the flat path."""
    calls = {}
    real = dataops.ivf2_topk

    def spy(e, **kw):
        calls["hit"] = True
        return real(e, **kw)

    monkeypatch.setattr(dataops, "ivf2_topk", spy)
    monkeypatch.setattr(dataops, "_IVF2_THRESHOLD", 10)
    out = dataops.QUERIES["d15_ann_ivf"](spark, SF)
    assert calls.get("hit"), "d15 did not take the ivf2 branch"
    assert out.columns == ["q_id", "vec_id", "cosine"]
    assert out.count() > 0


def test_d44_substring_dedup_planted(spark, tmp_path):
    """d44 (round 6): sliding-window exact-substring removal on a crafted
    corpus — a passage shared across two docs at DIFFERENT word
    alignments (the case d17/d39's fixed chunking cannot catch), a
    WITHIN-doc repeat, a sub-window doc, and a unique doc; plus the
    DuckDB oracle on the same corpus."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from text_extraction_spark.oracle_check import compare

    P = " ".join(f"p{i}" for i in range(8))  # the shared 8-word passage
    Q = " ".join(f"q{i}" for i in range(8))  # the internally-repeated one
    docs = pa.table(
        {
            "doc_id": pa.array([0, 1, 2, 3, 4], pa.int64()),
            "text": pa.array(
                [
                    f"a1 a2 {P} a3",          # P at word 3 (offset alignment)
                    f"{P} b1 b2 b3",          # P at word 1
                    f"{Q} c1 {Q}",            # within-doc repeat
                    "short words only",        # < 8 words: no grams
                    " ".join(f"u{i}" for i in range(12)),  # unique: untouched
                ]
            ),
        }
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    df = dataops.QUERIES["d44_substring_dedup"](spark, str(tmp_path))
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows[0]["clean_text"] == "a1 a2 a3" and rows[0]["n_removed"] == 8
    assert rows[1]["clean_text"] == "b1 b2 b3" and rows[1]["n_removed"] == 8
    assert rows[2]["clean_text"] == "c1" and rows[2]["n_removed"] == 16
    assert rows[3]["clean_text"] == "short words only" and rows[3]["n_removed"] == 0
    assert rows[4]["n_removed"] == 0 and rows[4]["n_words"] == 12
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    r = compare(df, con, dataops._D44_SQL)
    assert r["count_match"] and r["values_match"], r


def test_bloom_no_false_negatives_unit():
    """Every inserted (h1, h2) pair must test positive — Bloom's hard
    guarantee, the direction decontamination depends on."""
    rng = np.random.Generator(np.random.PCG64(7))
    pairs = [(int(a), int(b)) for a, b in
             rng.integers(-(2**63), 2**63 - 1, (500, 2), dtype=np.int64)]
    bits, m = dataops._bloom_build(pairs)
    arr = np.array(pairs, dtype=np.int64)
    pos = dataops._bloom_positions(arr[:, 0], arr[:, 1], m)
    hit = (bits[pos >> 3] & (np.uint8(1) << (pos & 7).astype(np.uint8))) != 0
    assert hit.all(), "false negative in bloom membership"


def test_d45_bloom_superset_of_exact_and_fp_bound(spark):
    """d45 vs d23 on the real testdata: bloom flags must be a SUPERSET
    of the exact flags per doc (no false negatives), and the extra
    flagged-gram fraction must stay under 1% of probed train grams
    (designed ~6e-6 at 32 bits/gram, k=8)."""
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.01"
    ex = {r["doc_id"]: r["n_hits"]
          for r in dataops.QUERIES["d23_decontaminate"](spark, sf).collect()}
    bl = {r["doc_id"]: r["n_hits"]
          for r in dataops.QUERIES["d45_decontaminate_bloom"](spark, sf).collect()}
    assert set(ex) <= set(bl)
    assert all(bl[k] >= v for k, v in ex.items())
    d = dataops.t(spark, sf, "documents").select(
        F.split("text", " ").alias("w"),
        (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0").alias("b"),
    )
    probed = (
        d.filter(~F.col("b"))
        .select(F.explode(dataops._word_ngrams(F.col("w"), dataops._DECON_N)))
        .count()
    )
    extra = sum(bl[k] - ex.get(k, 0) for k in bl)
    assert extra / max(probed, 1) <= 0.01, (extra, probed)


# -------------------------------------------------- round 6: PQ ANN (d46/d47)


def test_pq_ksub_monotone_clamped():
    """Adaptive codewords-per-subspace: monotone in store size, clamped
    to [4, 256] (uint8 code space), and pinned at the scales the
    measured recall floor / planted golden run at."""
    assert dataops._pq_ksub(0) == 4
    assert dataops._pq_ksub(300) == 16  # d47 planted-store scale
    assert dataops._pq_ksub(2000) == 128  # sf0.001 testdata scale
    assert dataops._pq_ksub(10**9) == 256
    prev = 0
    for n in (1, 64, 300, 2000, 10**4, 10**6, 10**9):
        cur = dataops._pq_ksub(n)
        assert 4 <= cur <= 256 and cur >= prev
        prev = cur


def test_pq_train_exact_recovery_on_planted_store():
    """On the d47 store every subvector IS a codeword (coincident
    clusters), so farthest-point init + Lloyd's must recover each
    block's codebook EXACTLY (as a set) — the property that makes
    brute-force SQL a full value oracle for the PQ path."""
    import os

    import pyarrow.parquet as pq

    p = os.path.join(dataops.pq_store_dir(), "embeddings.parquet")
    X = np.array(pq.read_table(p).column("embedding").to_pylist())
    books = dataops._pq_train(X, m=dataops._PQG_M, ksub=dataops._PQG_KSUB)
    dsub = X.shape[1] // dataops._PQG_M
    for b in range(dataops._PQG_M):
        Xb = X[:, b * dsub : (b + 1) * dsub]
        true = np.unique(np.round(Xb, 12), axis=0)
        got = np.unique(np.round(books[b], 12), axis=0)
        assert true.shape == got.shape == (dataops._PQG_KSUB, dsub)
        assert np.allclose(np.sort(true, axis=0), np.sort(got, axis=0))
    # encode→reconstruct is lossless on this store
    enc = dataops._pq_encode_udf(books)
    codes = np.array(enc.func(pd.Series(list(X))).to_list())
    recon = np.concatenate(
        [books[b][codes[:, b]] for b in range(dataops._PQG_M)], axis=1
    )
    assert np.allclose(recon, X)


def test_pq_store_margins():
    """d47 fixture pins: deterministic rebuild, every codeword
    represented in every block (first ksub rows), 300 rows, dim 32."""
    import os

    import pyarrow.parquet as pq

    p = os.path.join(dataops.pq_store_dir(), "embeddings.parquet")
    t1 = pq.read_table(p)
    assert t1.num_rows == dataops._PQG_N
    X = np.array(t1.column("embedding").to_pylist())
    assert X.shape == (dataops._PQG_N, dataops._PQG_M * dataops._PQG_DSUB)
    # first ksub rows enumerate code j in every block → all codewords used
    head = X[: dataops._PQG_KSUB]
    assert len(np.unique(np.round(head, 12), axis=0)) == dataops._PQG_KSUB


def test_pq_refined_recall_floor(spark):
    """d46 (PQ + exact refine, shortlist 32) on the noise-like testdata:
    mean recall@3 >= 0.70 vs the exact twin (measured 0.78 at sf0.001).
    Deterministic: seeded store, hash-ranked training sample."""
    approx = {
        (r["q_id"], r["vec_id"])
        for r in dataops.QUERIES["d46_ann_pq"](spark, SF).collect()
    }
    exact = {
        (r["q_id"], r["vec_id"]) for r in dataops._exact_top3(spark, SF).collect()
    }
    assert len(exact) > 0
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.70, recall


# ------------------------------------- round 6: BPE training + IVFPQ (d48-d50)


def test_bpe_merge_loop_hand_computed():
    """Classic BPE on a hand-checkable table: 'low'x5 + 'lower'x2 +
    'newest'x6. Weighted pair counts are computed by hand; ties break
    on the lexicographically smallest pair."""
    merges = dataops._bpe_merges_from_counts(
        [("low", 5), ("lower", 2), ("newest", 6)], n_merges=4
    )
    # round 1 pair counts: 'newest'(6) = n-e-w-e-s-t-</w> gives
    # (n,e)=(e,w)=(w,e)=(e,s)=(s,t)=(t,</w>)=6; 'low'(5) gives
    # (l,o)=(o,w)=(w,</w>)=5; 'lower'(2) gives (l,o)=(o,w)=(w,e)=
    # (e,r)=(r,</w>)=2 → (w,e)=6+2=8 is the unique max
    assert merges[0] == (0, "w", "e", "we", 8)
    # round 2: (l,o)=5+2=7 is the unique max (every 'newest' pair is 6)
    assert merges[1] == (1, "l", "o", "lo", 7)
    # round 3: max is 6, shared by 'newest' = n-e-we-s-t-</w> pairs;
    # lexicographic min among {(n,e),(e,we),(s,t),(t,</w>),(we,s)}
    # is ('e','we')
    assert merges[2] == (2, "e", "we", "ewe", 6)
    assert merges[3] == (3, "ewe", "s", "ewes", 6)
    # determinism
    assert merges == dataops._bpe_merges_from_counts(
        [("low", 5), ("lower", 2), ("newest", 6)], n_merges=4
    )


def test_d48_first_merge_matches_duckdb_pair_count(spark):
    """The first learned merge must be the corpus's most frequent
    adjacent symbol pair — cross-checked against an independent DuckDB
    aggregation over the same word counts (lexicographic min on ties)."""
    import duckdb

    rows = dataops.QUERIES["d48_bpe_train"](spark, SF).collect()
    assert len(rows) == dataops._BPE_MERGES
    assert [r["rank"] for r in rows] == list(range(dataops._BPE_MERGES))
    first = rows[0]
    exp = duckdb.connect().execute(
        f"""
        WITH wc AS (
          SELECT word, count(*) AS c FROM (
            SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
            FROM read_parquet('{SF}/documents.parquet')
          ) WHERE word <> '' GROUP BY word
        ), sym AS (
          SELECT list_append(string_split(word, ''), '</w>') AS s, c FROM wc
        ), pairs AS (
          SELECT s[i] AS l, s[i+1] AS r, sum(c) AS pc
          FROM sym, unnest(generate_series(1, len(s) - 1)) AS t(i)
          GROUP BY 1, 2
        )
        SELECT l, r, pc FROM pairs ORDER BY pc DESC, l, r LIMIT 1
        """
    ).fetchone()
    assert (first["left"], first["right"]) == (exp[0], exp[1]), (first, exp)
    assert first["pair_count"] == exp[2]


def test_d49_ivfpq_recall_floor(spark):
    """The composed IVF+PQ path (probe pruning AND 8-byte codes) on the
    noise-like store: recall@3 >= 0.65 (measured 0.687 at sf0.001 —
    ~= IVF probe recall x PQ shortlist recall, as expected for the
    composition). Deterministic: seeded centroids + codebooks."""
    approx = {
        (r["q_id"], r["vec_id"])
        for r in dataops.QUERIES["d49_ann_ivfpq"](spark, SF).collect()
    }
    exact = {
        (r["q_id"], r["vec_id"]) for r in dataops._exact_top3(spark, SF).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.65, recall


def test_d51_shuffle_balanced_and_deterministic(spark):
    """d51: content-addressed placement — shards near-uniform (md5
    bytes), positions dense 0..n_s-1 within each shard, and the whole
    assignment identical across runs (it is a pure function of
    doc_id)."""
    rows = dataops.QUERIES["d51_global_shuffle"](spark, SF).collect()
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert len(by_shard) == dataops._SHUF_SHARDS
    sizes = [len(v) for v in by_shard.values()]
    assert max(sizes) <= 3 * min(sizes)  # md5 uniformity at 500 docs
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))
    again = dataops.QUERIES["d51_global_shuffle"](spark, SF).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_d52_matches_numpy_twin_and_learns(spark):
    """d52: the distributed full-batch GD must agree with an exact numpy
    twin running the same iterations on the same features (tolerance
    covers partial-sum order only), and the trained classifier must
    actually separate en from non-en (stopword feature)."""
    feat = dataops._d52_features(dataops.t(spark, SF, "documents"))
    rows = feat.collect()
    X = np.array([[r["x0"], r["x1"], r["x2"], r["x3"]] for r in rows])
    y = np.array([r["y"] for r in rows])
    # the same z-scoring logistic_train applies (bias column untouched)
    X[:, 1:] = (X[:, 1:] - X[:, 1:].mean(0)) / np.maximum(X[:, 1:].std(0), 1e-12)
    w = np.zeros(4)
    for _ in range(dataops._D52_ITERS):
        p = 1.0 / (1.0 + np.exp(-(X @ w)))
        w = w - dataops._D52_LR * ((p - y) @ X) / len(y)
    got = {r["param"]: r["value"]
           for r in dataops.QUERIES["d52_quality_classifier_train"](spark, SF).collect()}
    for i in range(4):
        assert abs(got[f"w{i}"] - w[i]) < 1e-4, (i, got, w)
    acc = ((X @ w > 0).astype(float) == y).mean()
    assert abs(got["train_acc"] - acc) < 1e-9
    # learned: accuracy above the 0.892 majority class AND loss well
    # below the ln(2) = 0.693 all-zero-weights start
    assert got["train_acc"] >= 0.9, got
    assert got["final_loss"] < 0.3, got
    # the doc-length feature drives the rule → positive weight
    assert got["w1"] > 0
