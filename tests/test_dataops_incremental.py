"""Round-6 session-3 ops: sliding-window chunking (d53), incremental
exact dedup (d54), frozen-classifier gating (d55), incremental near-dup
(d56), token-budget prefix sampling (d57).

Value equality vs DuckDB is covered by the auto-parametrized oracle
sweep (test_relational_oracle); these tests pin the SEMANTIC properties
the oracle hash can't express: chunk reconstruction, keep-set
disjointness, classifier fidelity to its training rule, and the exact
prefix property of the budget sample.
"""

import hashlib

from pyspark.sql import functions as F

from text_extraction_spark import dataops

SF = "/root/testdata/sf0.001"


def test_d53_chunks_are_exact_windows(spark):
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .limit(40)
        .collect()
    }
    rows = (
        dataops.QUERIES["d53_chunk_sliding"](spark, SF)
        .filter(F.col("doc_id").isin(list(docs)))
        .collect()
    )
    C, S = dataops._D53_CHUNK, dataops._D53_STRIDE
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {d for d, t in docs.items() if len(t) >= 1}
    for doc_id, chunks in by_doc.items():
        text = docs[doc_id]
        chunks.sort(key=lambda r: r["chunk_id"])
        # count formula: starts 0, S, 2S, … while start < len
        assert len(chunks) == (len(text) - 1) // S + 1
        for r in chunks:
            start = r["chunk_id"] * S
            expected = text[start : start + C]
            assert r["chunk_start"] == start
            assert r["chunk_len"] == len(expected)
            assert r["chunk_hash"] == hashlib.md5(expected.encode()).hexdigest()
        # stride < chunk ⇒ windows overlap ⇒ full coverage of the doc
        covered = max(r["chunk_start"] + r["chunk_len"] for r in chunks)
        assert covered == len(text)


def test_d54_incremental_keep_set(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    index_hashes = {
        r["h"]
        for r in docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.md5("text").alias("h"))
        .collect()
    }
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    kept = dataops.QUERIES["d54_incremental_dedup"](spark, SF).collect()
    assert kept, "batch must contribute at least one novel document"
    for r in kept:
        assert r["text_hash"] not in index_hashes
        assert r["keep_doc"] % 2 == 1
    # completeness: every batch hash is either kept or known to the index
    batch_hashes = {
        r["h"] for r in batch.select(F.md5("text").alias("h")).collect()
    }
    kept_hashes = {r["text_hash"] for r in kept}
    assert batch_hashes - kept_hashes <= index_hashes


def test_d55_matches_training_rule(spark):
    """The frozen classifier was distilled from the d08 hard gate
    (train acc 0.984 at sf0.01); on the held-out sf0.001 corpus its
    keep decisions must still track the rule."""
    rows = dataops.QUERIES["d55_quality_classifier_apply"](spark, SF).collect()
    assert all(0.0 <= r["score"] <= 1.0 for r in rows)
    rule = {
        r["doc_id"]: r["quality_ok"]
        for r in dataops.QUERIES["d08_quality_score"](spark, SF).collect()
    }
    agree = sum(1 for r in rows if r["keep"] == rule[r["doc_id"]])
    assert agree / len(rows) >= 0.95
    # both classes must occur, else the gate is vacuous on this corpus
    assert 0 < sum(r["keep"] for r in rows) < len(rows)


def test_d56_incremental_neardup_drops_planted_groups(spark):
    rows = dataops.QUERIES["d56_incremental_neardup_golden"](spark, SF).collect()
    assert all(r["doc_id"] % 2 == 1 for r in rows)
    assert all((r["keep"] == 1) == (r["n_dups"] == 0) for r in rows)
    # the planted substitution-group store guarantees both outcomes exist
    keeps = [r["keep"] for r in rows]
    assert 0 < sum(keeps) < len(keeps)


def test_d57_budget_sample_is_exact_prefix(spark):
    import hashlib as _h

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.size(F.split("text", " ")).alias("nt")
    ).collect()
    order = sorted(
        docs,
        key=lambda r: (_h.md5(str(r["doc_id"]).encode()).hexdigest(), r["doc_id"]),
    )
    expect, cum = [], 0
    for r in order:
        cum += r["nt"]
        if cum > dataops._D57_BUDGET:
            break
        expect.append((r["doc_id"], cum))
    got = sorted(
        (r["doc_id"], r["cum_tokens"])
        for r in dataops.QUERIES["d57_token_budget_sample"](spark, SF).collect()
    )
    assert got == sorted(expect)
    assert 0 < len(got) < len(docs)  # budget bites, sample non-empty


def test_d58_snapshot_diff_statuses(spark):
    rows = {r["doc_id"]: r["status"] for r in dataops.QUERIES["d58_snapshot_diff"](spark, SF).collect()}
    ids = [r["doc_id"] for r in spark.read.parquet(f"{SF}/documents.parquet").select("doc_id").collect()]
    assert set(rows) == set(ids)
    for i in ids:
        if i % 10 == 0:
            assert rows[i] == "added"
        elif i % 10 == 9:
            assert rows[i] == "removed"
        elif i % 7 == 3:
            assert rows[i] == "changed"
        else:
            assert rows[i] == "unchanged"
    assert len(set(rows.values())) == 4  # all four outcomes occur


def test_d59_streaming_set_equals_batch_and_is_incremental(spark):
    from text_extraction_spark import streaming

    got = {r["text_hash"] for r in dataops.QUERIES["d59_stream_ingest_dedup"](spark, SF).collect()}
    want = {
        r["h"]
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select(F.md5("text").alias("h"))
        .distinct()
        .collect()
    }
    assert got == want
    # the replay genuinely arrives as multiple micro-batches (state
    # carries across them), not one big batch
    replay = streaming.replay_dir(f"{SF}/documents.parquet", "doc_id", 8)
    _, stats = streaming.run_available_now(
        streaming.streaming_ingest_dedup(streaming.stream_source(spark, path=replay)),
        spark,
        with_stats=True,
    )
    assert stats["batches"] >= 8


def test_d60_source_overlap_matches_local_bruteforce(spark):
    import hashlib as _h

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("source", "text").collect()
    grams: dict = {}
    for r in docs:
        w = r["text"].split(" ")
        for i in range(len(w) - 2):
            grams.setdefault(r["source"], set()).add(
                _h.md5(" ".join(w[i : i + 3]).encode()).hexdigest()
            )
    expect = {}
    srcs = sorted(grams)
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            inter = len(grams[a] & grams[b])
            if inter:
                expect[(a, b)] = (inter, round(inter / len(grams[a] | grams[b]), 6))
    got = {
        (r["source_a"], r["source_b"]): (r["n_common"], r["jaccard"])
        for r in dataops.QUERIES["d60_source_overlap"](spark, SF).collect()
    }
    assert got == expect


def test_d60_plan_reuses_gram_exchange(spark):
    """The 4 logical instances of the distinct-gram subtree must
    collapse to one executed scan — AQE ReusedExchange, the single-scan
    guarantee the docstring claims."""
    df = dataops.QUERIES["d60_source_overlap"](spark, SF)
    df.collect()
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert plan.count("ReusedExchange") >= 1


def test_d61_split_quotas_exact_per_lang(spark):
    rows = dataops.QUERIES["d61_stratified_split"](spark, SF).collect()
    from collections import Counter

    per_lang: dict = {}
    for r in rows:
        per_lang.setdefault(r["lang"], Counter())[r["split"]] += 1
    assert per_lang
    for lang, c in per_lang.items():
        n = sum(c.values())
        assert c["train"] == n * 9 // 10
        assert c["val"] == n * 95 // 100 - n * 9 // 10
        assert c["test"] == n - n * 95 // 100
        assert c["test"] >= 1  # every language contributes to eval


def test_d62_curriculum_rank_is_global_and_monotone(spark):
    rows = sorted(
        dataops.QUERIES["d62_curriculum_length"](spark, SF).collect(),
        key=lambda r: r["rank"],
    )
    n = len(rows)
    assert [r["rank"] for r in rows] == list(range(1, n + 1))
    # rank order is non-decreasing in n_words (the curriculum key)
    words = [r["n_words"] for r in rows]
    assert all(a <= b for a, b in zip(words, words[1:]))
    # deciles are balanced to within 1
    from collections import Counter

    sizes = Counter(r["phase"] for r in rows)
    assert set(sizes) == set(range(1, 11))
    assert max(sizes.values()) - min(sizes.values()) <= 1


def test_d63_budgets_respected_and_tight(spark):
    import math

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("nt")
    ).collect()
    tok_per_source: dict = {}
    for r in docs:
        tok_per_source[r["source"]] = tok_per_source.get(r["source"], 0) + r["nt"]
    wgt = {s: int(math.floor(math.sqrt(t) * 1000)) for s, t in tok_per_source.items()}
    wsum = sum(wgt.values())
    budget = {s: w * dataops._D63_TOTAL // wsum for s, w in wgt.items()}
    got: dict = {}
    for r in dataops.QUERIES["d63_mixture_materialize"](spark, SF).collect():
        got.setdefault(r["source"], []).append(r)
    assert set(got) <= set(budget)
    for s, rows in got.items():
        cum = max(r["cum_tokens"] for r in rows)
        assert cum <= budget[s]
        assert sum(r["n_tokens"] for r in rows) == cum
    # the budget BINDS for at least half the sources (next doc would
    # overflow), i.e. the op actually allocates, not passes everything
    import hashlib as _h

    binding = 0
    for s in got:
        order = sorted(
            (r for r in docs if r["source"] == s),
            key=lambda r: (_h.md5(str(r["doc_id"]).encode()).hexdigest(), r["doc_id"]),
        )
        kept_ids = {r["doc_id"] for r in got[s]}
        nxt = next((r for r in order if r["doc_id"] not in kept_ids), None)
        if nxt is not None:
            binding += 1
    assert binding >= len(got) // 2


def test_d64_exposure_bounds_and_planted_duplicate(spark):
    rows = {r["doc_id"]: r for r in dataops.QUERIES["d64_duplication_exposure"](spark, SF).collect()}
    assert rows
    for r in rows.values():
        assert 0 <= r["n_exposed"] <= r["n_grams"]
        assert abs(r["exposure"] - round(r["n_exposed"] / r["n_grams"], 6)) < 1e-9
    # full local brute-force twin over the whole corpus
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    N = dataops._D64_N
    per_doc: dict = {}
    gram_docs: dict = {}
    for d in docs:
        w = d["text"].split(" ")
        grams = [" ".join(w[i : i + N]) for i in range(len(w) - N + 1)]
        if grams:
            per_doc[d["doc_id"]] = grams
            for g in set(grams):
                gram_docs.setdefault(g, set()).add(d["doc_id"])
    assert set(rows) == set(per_doc)
    exposed_any = 0
    for i, grams in per_doc.items():
        n_exp = sum(1 for g in grams if len(gram_docs[g]) >= 2)
        assert rows[i]["n_grams"] == len(grams)
        assert rows[i]["n_exposed"] == n_exp
        exposed_any += n_exp > 0
    assert exposed_any > 0, "corpus must contain some shared 8-grams"


def test_d65_source_decision_matches_mean(spark):
    rows = dataops.QUERIES["d65_source_quality_prune"](spark, SF).collect()
    scores = {
        r["doc_id"]: r["score"]
        for r in dataops.QUERIES["d55_quality_classifier_apply"](spark, SF).collect()
    }
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "source").collect()
    per_source: dict = {}
    for d in docs:
        per_source.setdefault(d["source"], []).append(scores[d["doc_id"]])
    assert {r["source"] for r in rows} == set(per_source)
    for r in rows:
        assert r["n_docs"] == len(per_source[r["source"]])
        # avg of 6-dp-rounded scores vs 4-dp-rounded avg of raw scores:
        # equal within the rounding slack
        approx = sum(per_source[r["source"]]) / r["n_docs"]
        assert abs(r["avg_score"] - approx) < 1e-3
        assert r["keep"] == (1 if r["avg_score"] >= dataops._D65_TAU else 0)


def test_d66_manifest_is_complete_and_batch_exact(spark):
    rows = sorted(
        dataops.QUERIES["d66_batch_manifest"](spark, SF).collect(),
        key=lambda r: r["global_pos"],
    )
    n = len(rows)
    assert [r["global_pos"] for r in rows] == list(range(n))
    B = dataops._D66_BATCH
    for r in rows:
        assert r["batch_idx"] == r["global_pos"] // B
        assert r["pos_in_batch"] == r["global_pos"] % B
    # shard-major: shards are non-decreasing along global order, and the
    # within-shard order matches d51's placement exactly
    shards = [r["shard"] for r in rows]
    assert all(a <= b for a, b in zip(shards, shards[1:]))
    d51_pos = {
        (r["shard"], r["pos"]): r["doc_id"]
        for r in dataops.QUERIES["d51_global_shuffle"](spark, SF).collect()
    }
    seen: dict = {}
    for r in rows:
        k = r["shard"]
        seen[k] = seen.get(k, -1) + 1
        assert d51_pos[(k, seen[k])] == r["doc_id"]
