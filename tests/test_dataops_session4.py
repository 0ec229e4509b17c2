"""Round-6 session-4 ops: URL canonicalization dedup (d67), quality-
argmax cluster representatives (d68), inverted-index build (d69).

Value equality vs DuckDB is covered by the auto-parametrized oracle
sweep (test_relational_oracle); these tests pin the SEMANTIC properties
the oracle hash can't express: canonical-form invariants, the argmax
keep rule, and index consistency (df/tf/postings vs a recount).
"""

import math

from pyspark.sql import functions as F

from text_extraction_spark import dataops

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def test_d67_canonical_form_invariants(spark):
    rows = dataops.QUERIES["d67_url_dedup"](spark, SF01).collect()
    n_docs = spark.read.parquet(f"{SF01}/documents.parquet").count()
    assert sum(r["n_copies"] for r in rows) == n_docs
    # every doc key collapses to exactly one canonical page
    assert len(rows) == dataops._D67_KEYS
    for r in rows:
        u = r["canonical_url"]
        assert u.startswith("https://site")
        assert "www." not in u and "#" not in u
        assert "utm_" not in u and "fbclid" not in u
        assert u == u.lower()
        path = u.split("?")[0]
        assert not path.endswith("/")
        # host is a pure function of the page key → ?id=K determines site
        key = int(u.rsplit("id=", 1)[1])
        assert f"site{key % 7}." in u


def test_d67_tracking_param_filter_is_order_insensitive(spark):
    # canonical query params come out sorted: id= always survives alone
    rows = dataops.QUERIES["d67_url_dedup"](spark, SF).collect()
    for r in rows:
        q = r["canonical_url"].split("?")[1]
        assert q == f"id={r['canonical_url'].rsplit('id=', 1)[1]}"


def _scores(spark, sf):
    d = spark.read.parquet(f"{sf}/documents.parquet")
    z = dataops._frozen_z(d)
    return {
        r["doc_id"]: r["z"]
        for r in d.select("doc_id", z.alias("z")).collect()
    }


def test_d68_keeps_argmax_quality_member(spark):
    reps = dataops.QUERIES["d68_cluster_representative"](spark, SF01).collect()
    comp = dataops.QUERIES["d19_dedup_components"](spark, SF01).collect()
    by_comp = {r["component"]: r for r in comp}
    z = _scores(spark, SF01)
    assert {r["component"] for r in reps} == set(by_comp)
    for r in reps:
        assert r["n_docs"] == by_comp[r["component"]]["n_docs"]
        # the keep is at least as good as the min-id default keep
        assert z[r["keep_doc"]] >= z[by_comp[r["component"]]["min_doc"]] - 1e-12
        assert abs(1.0 / (1.0 + math.exp(-z[r["keep_doc"]])) - r["keep_score"]) < 5e-5


def test_d68_representative_is_cluster_member(spark):
    reps = dataops.QUERIES["d68_cluster_representative"](spark, SF01)
    # component label is the min member id; keep_doc must be >= it and
    # belong to the same contiguous candidate chain (edges join i, i+1)
    bad = reps.filter(
        (F.col("keep_doc") < F.col("component"))
        | (F.col("keep_doc") >= F.col("component") + 64)
    )
    assert bad.count() == 0


def test_d69_index_consistent_with_recount(spark):
    idx = {r["word"]: r for r in dataops.QUERIES["d69_inverted_index"](spark, SF).collect()}
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    df_exp: dict = {}
    tf_exp: dict = {}
    post_exp: dict = {}
    for r in docs:
        seen = set()
        for w in r["text"].split(" "):
            tf_exp[w] = tf_exp.get(w, 0) + 1
            if w not in seen:
                seen.add(w)
                df_exp[w] = df_exp.get(w, 0) + 1
                post_exp.setdefault(w, []).append(r["doc_id"])
    assert set(idx) == set(df_exp)
    for w, r in idx.items():
        assert r["df"] == df_exp[w]
        assert r["tf"] == tf_exp[w]
        assert r["postings"] == sorted(post_exp[w])[: dataops._D69_K]
        assert r["postings"] == sorted(r["postings"])
        assert len(r["postings"]) == min(r["df"], dataops._D69_K)


def test_d70_pmi_matches_hand_recount(spark):
    rows = dataops.QUERIES["d70_bigram_pmi"](spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    uni: dict = {}
    bi: dict = {}
    for r in docs:
        ws = r["text"].split(" ")
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
    nu, nb = sum(uni.values()), sum(bi.values())
    assert 0 < len(rows) <= dataops._D70_K
    prev = None
    for r in rows:
        c = bi[(r["w1"], r["w2"])]
        assert r["n_pair"] == c and c >= dataops._D70_MIN_C
        ratio = (c * nu * nu) / (uni[r["w1"]] * uni[r["w2"]] * nb)
        assert abs(r["pmi"] - round(math.log(ratio), 4)) < 5e-5
        if prev is not None:
            assert r["pmi"] <= prev + 1e-9  # sorted by exact ratio desc
        prev = r["pmi"]


def test_d71_flags_planted_degenerate_docs(spark, tmp_path):
    rows = [
        (0, "spam " * 49 + "spam", "en", "s0", 249),  # single-type trap
        (1, "a b " * 25 + "a b", "en", "s0", 103),  # 2 types / 52 words: trap
        (2, " ".join(f"w{i}" for i in range(40)), "en", "s0", 0),  # all distinct
        (3, "x", "en", "s0", 1),  # single word, not flaggable
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {r["doc_id"]: r for r in dataops.QUERIES["d71_vocab_entropy"](spark, str(tmp_path)).collect()}
    assert out[0]["low_entropy"] == 1 and out[0]["entropy"] == 0.0
    # 26x "a b": H = ln 2 exactly, but ln2/ln52 ~ 0.17 << tau -> trap
    assert out[1]["low_entropy"] == 1 and abs(out[1]["entropy"] - round(math.log(2), 4)) < 5e-5
    assert out[2]["low_entropy"] == 0 and out[2]["ttr"] == 1.0
    assert out[3]["low_entropy"] == 0 and out[3]["n_words"] == 1


def test_d71_entropy_bounds(spark):
    for r in dataops.QUERIES["d71_vocab_entropy"](spark, SF01).collect():
        assert 0.0 <= r["entropy"] <= round(math.log(r["n_words"]), 4) + 1e-9
        assert 0.0 < r["ttr"] <= 1.0
        assert r["n_types"] <= r["n_words"]


def test_d72_sq8_recall_floor(spark):
    exact3 = {
        (r["q_id"], r["vec_id"])
        for r in dataops._exact_top3(spark, SF01).collect()
    }
    got = {
        (r["q_id"], r["vec_id"])
        for r in dataops.QUERIES["d72_ann_sq8"](spark, SF01).collect()
    }
    recall = len(got & exact3) / len(exact3)
    # int8 per-dim quantization + exact refine over a 32-candidate
    # shortlist: near-exact by construction on the 64-dim noise store
    assert recall >= 0.9, recall


def test_d73_store_is_grid_exact():
    import pyarrow.parquet as pq
    import numpy as np

    p = f"{dataops.sq8_store_dir()}/embeddings.parquet"
    X = np.array(pq.read_table(p).column("embedding").to_pylist())
    mn, mx = X.min(0), X.max(0)
    assert (mn == -1.0).all() and (mx == 1.0).all()
    span = mx - mn
    C = np.clip(np.rint((X - mn) / span * 255.0), 0, 255)
    assert ((-1.0 + (C * 2.0) / 255.0) == X).all()  # dequant is bit-exact


def test_x09_cells_round_trip_to_ocr_text(spark):
    """Reassembling x09's typed cell grid (sorted by row_idx, col_idx)
    must reproduce x06's table_text bit-exactly for EVERY media item —
    proves the double posexplode loses nothing and indices are dense."""
    from text_extraction_spark import extraction_queries as xq

    cells = xq.QUERIES["x09_table_cells_typed"](spark, SF)
    rebuilt = (
        cells.groupBy("media_ref", "row_idx")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("col_idx", "cell"))),
                    lambda s: s["cell"],
                ),
                "|",
            ).alias("row_text")
        )
        .groupBy("media_ref")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("row_idx", "row_text"))),
                    lambda s: s["row_text"],
                ),
                "\n",
            ).alias("rebuilt")
        )
    )
    orig = xq.QUERIES["x06_media_table_ocr"](spark, SF).filter(
        F.col("table_text").isNotNull()
    )
    joined = orig.join(rebuilt, "media_ref", "full_outer")
    bad = joined.filter(
        F.col("table_text").isNull()
        | F.col("rebuilt").isNull()
        | (F.col("table_text") != F.col("rebuilt"))
    ).count()
    assert bad == 0
    # typed column: non-null iff the cell is a pure (signed) digit run
    typed = cells.filter(
        F.col("cell_int").isNotNull() != F.col("cell").rlike("^-?[0-9]{1,18}$")
    ).count()
    assert typed == 0


def test_store_without_query_rows_gives_empty_ann_results(spark, tmp_path):
    """A store with no vec_id < _RECALL_QUERIES has an empty query set:
    the quantized ANN queries return no rows, with their usual schema,
    instead of failing on a 1-d empty query matrix."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(SF01, "embeddings.parquet"))
    i = tbl.schema.get_field_index("vec_id")
    tbl = tbl.set_column(i, "vec_id", pc.add(tbl.column("vec_id"), 1000))
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    for name in ("d46_ann_pq", "d49_ann_ivfpq", "d72_ann_sq8"):
        df = dataops.QUERIES[name](spark, str(tmp_path))
        assert df.dtypes == [
            ("q_id", "bigint"), ("vec_id", "bigint"), ("cosine", "double")
        ], name
        assert df.collect() == [], name


def test_ann_trainers_follow_a_store_rewritten_in_place(spark, tmp_path):
    """d15 (IVF) and d46 (PQ) train on the store they read: after the
    parquet is rewritten in place under the same path, each query
    returns exactly what it returns over an identical copy of the new
    data at a fresh path — no centroids or codebooks from the old
    store survive the call that trained them."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    names = ("d15_ann_ivf", "d46_ann_pq")

    def rows(d):
        return {
            n: sorted(tuple(r) for r in dataops.QUERIES[n](spark, str(d)).collect())
            for n in names
        }

    tbl = pq.read_table(os.path.join(SF, "embeddings.parquet"))
    same, fresh = tmp_path / "same", tmp_path / "fresh"
    same.mkdir()
    fresh.mkdir()
    pq.write_table(tbl, str(same / "embeddings.parquet"))
    before = rows(same)

    X = np.array(tbl.column("embedding").to_pylist(), dtype=np.float32)
    noise = np.random.Generator(np.random.PCG64(7)).normal(0.0, 0.5, X.shape)
    emb = pa.array((X + noise.astype(np.float32)).tolist(), pa.list_(pa.float32()))
    new = tbl.set_column(tbl.schema.get_field_index("embedding"), "embedding", emb)
    pq.write_table(new, str(same / "embeddings.parquet"))
    pq.write_table(new, str(fresh / "embeddings.parquet"))

    after, want = rows(same), rows(fresh)
    for n in names:
        assert after[n] != before[n], n  # the rewrite changes the answer
        stale = len(set(after[n]) - set(want[n]))
        assert after[n] == want[n], f"{n}: {stale} rows from the old model"


def test_scan_meta_follows_a_table_rewritten_in_place(tmp_path):
    """t_spread sizes a table by its parquet footers as they are now: a
    file rewritten in place under the same path reports its new row
    groups and bytes, not the footer of its first read."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from text_extraction_spark import relational

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"x": np.arange(1000)}), path)
    first = relational._scan_meta(path)
    assert first[0] == 1

    pq.write_table(pa.table({"x": np.arange(20_000)}), path, row_group_size=2_000)
    md = pq.ParquetFile(path).metadata
    want = (10, sum(md.row_group(i).total_byte_size for i in range(10)))
    assert md.num_row_groups == 10
    assert want != first
    assert relational._scan_meta(path) == want
