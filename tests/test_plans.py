"""Physical-plan assertions (SURVEY §4: 'rely on it; assert via explain()
in tests'): pushdown, pruning, join strategies, single UDF evaluation,
and scan-aligned decode partitioning — the plan shapes the 100 TB story
depends on, pinned so refactors can't silently regress them."""

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from text_extraction_spark import pipeline, relational

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


# each Python node kind → the plan text that holds its function calls
_PY_NODES = {
    "ArrowEvalPython": r"ArrowEvalPython \[(.*?)\], \[",
    "MapInArrow": r"MapInArrow (\w+\()",
    "FlatMapGroupsInPandas": r"FlatMapGroupsInPandas \[.*?\], (\w+\()",
    "FlatMapCoGroupsInPandas": r"FlatMapCoGroupsInPandas \[.*?\], \[.*?\], (\w+\()",
}


def _python_stages(plan: str) -> Counter:
    """(node kind, function name) → how many times the plan evaluates
    that Python stage."""
    stages = Counter()
    for kind, pat in _PY_NODES.items():
        for m in re.finditer(pat, plan):
            for name in re.findall(r"(?:^|, )(\w+)\(", m.group(1)):
                stages[(kind, name)] += 1
    return stages


def _ivf2_store(spark):
    """The 200-vector 16-d store the ivf2 plan pins run on."""
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(3))
    vecs = [v / np.linalg.norm(v) for v in rng.standard_normal((200, 16))]
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )


def test_projection_prunes_scan_schema(spark):
    df = relational.QUERIES["q01_scan_projection"](spark, SF)
    plan = _plan(df)
    assert "l_orderkey" in plan
    # unprojected columns never reach the scan
    assert "l_comment" not in plan and "l_extendedprice" not in plan


def test_filter_pushdown_reaches_parquet(spark):
    df = relational.QUERIES["q02_filter_predicates"](spark, SF)
    plan = _plan(df)
    # plan toString truncates the list; assert the prefix reached parquet
    assert "PushedFilters: [IsNotNull" in plan
    assert "GreaterThanOrEqual(l_ship" in plan


def test_broadcast_join_is_broadcast(spark):
    df = relational.QUERIES["q03_broadcast_join"](spark, SF)
    assert "BroadcastHashJoin" in _plan(df)


def test_semi_and_anti_join_strategies(spark):
    assert "LeftSemi" in _plan(relational.QUERIES["q06_left_semi_join"](spark, SF))
    assert "LeftAnti" in _plan(relational.QUERIES["q07_left_anti_join"](spark, SF))


def test_extraction_udfs_evaluate_exactly_once(spark, tiny_corpus):
    """The nondeterministic marking exists to stop Catalyst duplicating
    ArrowEvalPython around pushed filters — exactly 2 Python stages
    (text + media) in the full reassembled plan."""
    c = pipeline.load_corpus(spark, tiny_corpus)
    m = pipeline.load_media(spark, tiny_corpus)
    plan = _plan(pipeline.reassemble(pipeline.extract_spans(c, m), c))
    assert plan.count("ArrowEvalPython") == 2


def test_media_bytes_never_shuffle(spark, tiny_corpus):
    """The decode UDF must sit directly on the media scan: no Exchange
    between the parquet scan of `data` and ArrowEvalPython."""
    c = pipeline.load_corpus(spark, tiny_corpus)
    m = pipeline.load_media(spark, tiny_corpus)
    plan = _plan(pipeline.extract_spans(c, m))
    # walk the media branch: from the media parquet scan upward, the
    # first operator containing the UDF must appear before any Exchange
    lines = plan.splitlines()
    scan_idx = next(i for i, l in enumerate(lines) if "media.parquet" in l)
    # search upward (towards the plan root) from the scan
    between = []
    for l in reversed(lines[:scan_idx]):
        between.append(l)
        if "extract_media_udf" in l:
            break
    assert not any("Exchange" in l for l in between), (
        "image bytes crossed a shuffle before the decode UDF:\n" + "\n".join(between)
    )


def test_text_path_never_reads_media_columns(spark, tiny_corpus):
    c = pipeline.load_corpus(spark, tiny_corpus)
    m = pipeline.load_media(spark, tiny_corpus)
    spans = pipeline.extract_spans(c, m)
    text_plan = _optimized(spans.filter(F.col("kind") == "text"))
    # constant-folded branch pruning: the text-only projection must not
    # carry the binary `data` column anywhere
    assert "data" not in text_plan.replace("DataFilters", "")


def test_salt_repartition_is_aqe_exempt(spark, tiny_corpus):
    """The salted repartitions must be user-specified (REPARTITION_BY_NUM)
    so AQE cannot coalesce the Python stages to 1 task."""
    c = pipeline.load_corpus(spark, tiny_corpus)
    m = pipeline.load_media(spark, tiny_corpus)
    plan = _plan(pipeline.extract_spans(c, m))
    assert "REPARTITION_BY_NUM" in plan


def test_text_salt_is_sized_by_task_slots(spark, tiny_corpus):
    """The text path's salted Exchange runs one Python task per task
    slot (defaultParallelism, 8 under local[8]), not one per shuffle
    partition (16 here): every Python task pays a fixed worker set-up
    cost that dwarfs its share of text compute. Still span-level
    (doc_id, offset) and still REPARTITION_BY_NUM."""
    c = pipeline.load_corpus(spark, tiny_corpus)
    m = pipeline.load_media(spark, tiny_corpus)
    plan = _plan(pipeline.extract_spans(c, m))
    salted = [l for l in plan.splitlines() if "hashpartitioning(xxhash64(" in l]
    assert len(salted) == 1, plan
    assert re.search(
        r"Exchange hashpartitioning\(xxhash64\(doc_id#\d+, offset#\d+, 42\), 8\), "
        r"REPARTITION_BY_NUM",
        salted[0],
    ), salted[0]
    assert spark.sparkContext.defaultParallelism == 8
    assert spark.conf.get("spark.sql.shuffle.partitions") == "16"


def test_resume_read_prunes_committed_buckets(spark, tiny_corpus, tmp_path_factory):
    """Partition pruning on the bucket= layout: a bucket filter must
    reach the file index (partition filters), not scan all buckets."""
    out = str(tmp_path_factory.mktemp("prune"))
    pipeline.extract_corpus(spark, tiny_corpus, out, run_id="p1", n_buckets=4)
    e = spark.read.parquet(f"{out}/extracted").filter(F.col("bucket") == 2)
    plan = _plan(e)
    assert "PartitionFilters" in plan and "bucket" in plan
    assert e.count() > 0


def test_bucketed_join_has_no_shuffle(spark):
    """q34: both sides bucketBy(8, key) → join AND groupBy on the key run
    with zero shuffle exchanges (broadcast of the filtered dim is fine)."""
    df = relational.QUERIES["q34_bucketed_colocated_join"](spark, SF)
    plan = _plan(df)
    assert "Bucketed: true" in plan
    assert "Exchange hashpartitioning" not in plan


def test_udtf_lateral_join_runs(spark):
    df = relational.QUERIES["q35_udtf_word_explode"](spark, SF)
    assert df.count() > 0
    assert df.columns == ["doc_id", "word", "n"]


def test_binned_range_join_avoids_nested_loop(spark):
    """q40: the bin-explode turns a pure range predicate into an equi
    join — no BroadcastNestedLoopJoin (O(n·m)) anywhere in the plan."""
    plan = _plan(relational.QUERIES["q40_binned_range_join"](spark, SF))
    assert "BroadcastNestedLoop" not in plan
    assert any(j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
    # each qualifying pair matches exactly once (right side carries ONE
    # bucket per row), so there must be NO post-join dedup aggregate —
    # the round-1 trailing distinct() was a redundant full shuffle
    post_join = plan.split("Join", 1)[0]  # text ABOVE the topmost join
    assert "HashAggregate" not in post_join and "Exchange" not in post_join


def test_pii_scrub_is_pure_jvm(spark):
    """d16 must stay whole-stage-codegen JVM work — a Python node here
    would put regex redaction on the slow path at 100 TB."""
    from text_extraction_spark import dataops

    plan = _plan(dataops.QUERIES["d16_pii_scrub"](spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan  # row-local: scan → project, no shuffle


def test_paragraph_dedup_single_shuffle_no_join(spark):
    """d17: explode + hash groupBy — exactly one exchange, never a
    self-join."""
    from text_extraction_spark import dataops

    plan = _plan(dataops.QUERIES["d17_paragraph_dedup"](spark, SF))
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # shuffle + possible AQE read node


def test_ann_paths_never_nested_loop(spark):
    """d06 (LSH) and d15 (IVF): candidate generation must stay equi-join
    bucket work — a BroadcastNestedLoop/Cartesian anywhere means the
    plan silently degraded to corpus²."""
    from text_extraction_spark import dataops

    for name in ("d06_ann_lsh_bucketed", "d15_ann_ivf"):
        plan = _plan(dataops.QUERIES[name](spark, SF))
        assert "BroadcastNestedLoop" not in plan, name
        assert "CartesianProduct" not in plan, name


def _exchange_blocks(df):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return re.findall(r"\(\d+\) Exchange[\s\S]*?(?=\n\(\d+\)|\Z)", buf.getvalue())


def _d26_edges(spark, monkeypatch):
    """d26's edge frame, exactly as embedding_dedup_pipeline hands it to
    _connected_components (whose eager checkpoint would cut the plan)."""
    from text_extraction_spark import dataops

    seen = []

    def spy(edges, max_iter=25):
        seen.append(edges)
        return edges.select(F.col("a").alias("id"), F.col("b").alias("component"))

    monkeypatch.setattr(dataops, "_connected_components", spy)
    dataops.QUERIES["d26_embedding_dedup_pipeline"](spark, SF)
    (edges,) = seen
    return edges


def _assert_one_heavy_bucket_exchange(df, name):
    """Embeddings ride EXACTLY ONE exchange — the bucket cogroup that
    feeds the in-bucket scorer — and every downstream exchange (pair
    dedup on (ua, ub), d06's top-3 window on q_id) carries ids + cosine
    only."""
    blocks = _exchange_blocks(df)
    assert blocks, name
    heavy = [b for b in blocks if "embedding" in b.lower()]
    assert len(heavy) == 1, (name, heavy)
    assert "hashpartitioning(bucket" in heavy[0], (name, heavy[0])
    slim = [b for b in blocks if "hashpartitioning(ua" in b or "hashpartitioning(q_id" in b]
    assert slim, name
    for b in slim:
        assert "embedding" not in b.lower(), (name, b)


def test_ann_bucket_exchange_carries_ids_only(spark, monkeypatch):
    """d26: once the bucket stage has scored its pairs, only ids move.
    d26 verifies its edges inside the same per-bucket cosine grid as d06,
    so the bucket cogroup is the one exchange that carries embeddings
    (once per table membership); the pair dedup on (ua, ub) that leaves
    it must carry ids + cosine only. An embedding column there means the
    per-pair join-back (or a heavy bucket shuffle repeated after
    scoring) crept back. Checked on the edge frame handed to
    _connected_components, because that function's eager checkpoint
    cuts the finished query's plan above the bucket stage."""
    _assert_one_heavy_bucket_exchange(_d26_edges(spark, monkeypatch), "d26 edges")


def test_ann_scored_pairs_exchange_is_slim(spark):
    """d06 (round 7): embeddings ride EXACTLY ONE exchange — the bucket
    cogroup that feeds the in-bucket scorer. Every downstream exchange
    (pair dedup on (ua, ub), the top-3 window on q_id) must carry ids +
    cosine only; an embedding column there means the per-pair join-back
    shape (2 heavy joins + 4 GB of pair traffic at sf1) crept back."""
    from text_extraction_spark import dataops

    _assert_one_heavy_bucket_exchange(dataops.QUERIES["d06_ann_lsh_bucketed"](spark, SF), "d06")


def test_vocab_topk_never_full_sort(spark):
    """d32 (round 4): the global top-K over the vocabulary must be a
    TakeOrderedAndProject — a full Sort of a 100 TB corpus's vocab
    table would be the bottleneck; the only Sort allowed is the
    constant-size window over the K selected rows."""
    from text_extraction_spark import dataops

    plan = _plan(dataops.QUERIES["d32_vocab_coverage"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Sort [") <= 1  # the 200-row window sort only


def test_lm_score_pure_jvm_frequency_split(spark):
    """d31 (round 4): the unigram-LM scorer must stay entirely JVM-side,
    and its Zipf-skew word join must be FREQUENCY-SPLIT — the hot head
    vocabulary joins via broadcast (hot keys never shuffle); only the
    near-uniform tail may shuffle-join."""
    from text_extraction_spark import dataops

    plan = _plan(dataops.QUERIES["d31_unigram_lm_score"](spark, SF))
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_lm_score_single_corpus_scan(spark):
    """d31 (round 5, VERDICT r4 #5): the corpus explode is the heaviest
    map stage of the query at 100 TB — the EXECUTED plan must scan
    documents exactly once, with every other dwc/wc consumer riding a
    ReusedExchange of the materialized shuffle stage."""
    from text_extraction_spark import dataops

    df = dataops.QUERIES["d31_unigram_lm_score"](spark, SF)
    df.write.format("noop").mode("overwrite").save()
    # re-trigger on the df itself so ITS AQE plan is finalized
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("Initial Plan")[0]  # executed section only
    assert final.count("FileScan parquet") == 1, final
    assert "ReusedExchange" in final


def test_media_ocr_query_no_shuffle(spark):
    """x06: the media extraction query is scan → UDF project — image
    bytes must never cross an Exchange."""
    from text_extraction_spark import extraction_queries

    plan = _plan(extraction_queries.QUERIES["x06_media_table_ocr"](spark, SF))
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1


def test_salted_join_spreads_hot_key(spark):
    """q43 (round 3): the shuffle feeding the join must partition on
    (supp_sk, salt) — the deliberately-hot key 0 spreads over _SALT_N
    reducers instead of landing on one — and the join itself is a
    shuffle-hash join, never broadcast (at 100 TB neither side fits)
    nor nested-loop."""
    df = relational.QUERIES["q43_salted_skew_join"](spark, SF)
    plan = _plan(df)
    assert "hashpartitioning(supp_sk" in plan and "salt" in plan
    assert "ShuffledHashJoin" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_curation_pipeline_pure_jvm_broadcast(spark):
    """d25 (round 3): the one-call curation decision must stay entirely
    JVM-side (no Python eval nodes) with the benchmark gram set
    broadcast — the shape that holds at 100 TB."""
    from text_extraction_spark import dataops

    plan = _plan(dataops.QUERIES["d25_curation_pipeline"](spark, SF))
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_ivf2_leaf_join_is_equi_never_nested_loop(spark):
    """ivf2 (round 6): the two-level candidate join must be an
    equi-join on `leaf` — a BroadcastNestedLoop/Cartesian anywhere in
    the hierarchy means the scale path silently degraded to corpus²,
    which is exactly what the two-level quantizer exists to prevent."""
    from text_extraction_spark import dataops

    plan = _plan(dataops.ivf2_topk(_ivf2_store(spark), target_cell=8))
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "leaf" in plan  # the equi-join key is the leaf cell


def test_ivf_assigns_each_vector_once(spark):
    """d15 and ivf2: a vector's home cell is its first probe cell, so
    one probe UDF pass assigns the store and the rank-0 probe rows are
    the data. d15 runs one Python assignment pass and moves its vectors
    through one exchange by cell into one grouped scorer, with no
    cogroup. ivf2 runs its top-level probe UDF once, and one grouped
    pass per top cell trains that cell's leaves and assigns its probe
    rows to them, with no cogroup."""
    from text_extraction_spark import dataops

    plan = _plan(dataops.QUERIES["d15_ann_ivf"](spark, SF))
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "FlatMapCoGroupsInPandas" not in plan, plan
    by_cell = re.findall(r"Exchange hashpartitioning\(cell#", plan)
    assert len(by_cell) == 1, plan

    plan = _plan(dataops.ivf2_topk(_ivf2_store(spark), target_cell=8))
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "FlatMapCoGroupsInPandas" not in plan, plan


@pytest.mark.parametrize(
    "query",
    [
        "d06_ann_lsh_bucketed",
        "d14_ann_recall",
        "d15_ann_ivf",
        "d40_cluster_assign",
        "d42_semantic_dedup",
        "d46_ann_pq",
        "d72_ann_sq8",
        "ivf2",
    ],
)
def test_each_python_stage_runs_once(spark, query):
    """Every Python stage of an embedding query is evaluated once: a
    decision the grouped pass can make is made there, not worked out
    again downstream by a join, a cogroup or a union that re-runs the
    stage. d14 scores each ANN path once, d42 decides keep inside its
    cluster grid, ivf2 trains and assigns its leaves in one pass."""
    from text_extraction_spark import dataops

    if query == "ivf2":
        df = dataops.ivf2_topk(_ivf2_store(spark), target_cell=8)
    else:
        df = dataops.QUERIES[query](spark, SF)
    stages = _python_stages(_plan(df))
    assert stages and set(stages.values()) == {1}, stages


def test_simhash_runs_once(spark):
    """simhash_udf is marked nondeterministic so Catalyst cannot copy it
    below the UDF-parallelism repartition with a pushed isnotnull(sig),
    and the block rows are hash-partitioned on the join key before the
    self-join: AQE's final plan evaluates the UDF once, both join sides
    reading one exchange. A pair's lowest agreeing block owns it, so no
    aggregate dedups the block hits."""
    from text_extraction_spark import dataops

    df = dataops.QUERIES["d03_dedup_simhash"](spark, SF)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    final = plan.split("Initial Plan")[0]
    assert _python_stages(final) == {("ArrowEvalPython", "simhash_udf"): 1}, final
    assert "ReusedExchange" in final, final
    assert "HashAggregate" not in final, final


def test_ann_recall_evaluates_its_exact_twin_once(spark):
    """d14 evaluates _exact_top3 (a broadcast cross join over the store)
    once for both ops: one nested-loop join, and one embeddings scan
    each for the exact twin, its query side, d06 and d15."""
    from text_extraction_spark import dataops

    plan = _plan(dataops.QUERIES["d14_ann_recall"](spark, SF))
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert plan.count("FileScan parquet") == 4, plan


def test_boilerplate_removal_broadcast_anti_join(spark):
    """d39 (round 6): the boilerplate set is the head of the chunk-
    frequency Zipf curve — tiny at any corpus size — so the removal
    join must be a BROADCAST anti-join (the corpus never shuffles by
    chunk hash outside the frequency agg), and the whole op stays
    JVM-side."""
    from text_extraction_spark import dataops

    plan = _plan(dataops.QUERIES["d39_boilerplate_removal"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_cluster_assign_is_map_only(spark):
    """d40 (round 6): nearest-centroid assignment against a bounded
    driver-side centroid literal must be a MAP-ONLY scan — zero
    Exchanges at any store size (the plan the k-means E-step needs to
    hold at 10^12 vectors), one FileScan, no Python."""
    from text_extraction_spark import dataops

    plan = _plan(dataops.QUERIES["d40_cluster_assign"](spark, SF))
    assert "Exchange" not in plan
    assert plan.count("FileScan parquet") == 1
    # round 7: the K interpreted dot folds became one Arrow pass; the
    # map-only shape (zero Exchanges, one scan) is unchanged and the
    # UDF must evaluate exactly ONCE (no optimizer duplication)
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan


def test_dsir_single_corpus_scan(spark):
    """d41 (round 6): the bigram explode is the heaviest map stage —
    the EXECUTED plan must scan documents exactly once, the scoring
    side riding a ReusedExchange of the (doc, lang, bucket) partial
    agg (same single-scan rule as d31; the bkt coalesce that makes the
    join-key non-nullable is what keeps the two subtrees canonically
    equal)."""
    from text_extraction_spark import dataops

    df = dataops.QUERIES["d41_dsir_importance"](spark, SF)
    df.write.format("noop").mode("overwrite").save()
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("Initial Plan")[0]
    assert final.count("FileScan parquet") == 1, final
    assert "ReusedExchange" in final
    assert "EvalPython" not in final


def test_semantic_dedup_cluster_equi_join(spark):
    """d42 (round 6): the SemDeDup pair stage must be partitioned on
    cluster_id — a nested-loop/cartesian anywhere means the clustering
    failed to partition the quadratic problem. The store is scanned and
    assigned once (one FileScan, one Arrow pass of _centroid_assign),
    and one exchange on cluster_id feeds the per-cluster grid, which
    decides keep itself: no join and no other exchange follow it."""
    from text_extraction_spark import dataops

    plan = _plan(dataops.QUERIES["d42_semantic_dedup"](spark, SF))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert re.findall(r"Exchange \w+\(([a-z_]+)#", plan) == ["cluster_id"], plan
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "Join" not in plan, plan
    # no row-at-a-time Python (BatchEvalPython) may appear anywhere
    assert "BatchEvalPython" not in plan


def test_packing_accounting_single_source_shuffle(spark):
    """d43 (round 6): the packing window and the final agg share the
    source key — the plan must carry exactly ONE hashpartitioning
    exchange on source (the groupBy reuses the window's partitioning),
    one FileScan, no Python."""
    from text_extraction_spark import dataops

    df = dataops.QUERIES["d43_packing_accounting"](spark, SF)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("FileScan parquet") == 1
    assert "EvalPython" not in plan


def test_substring_dedup_all_jvm_no_broadcast_dup_set(spark):
    """d44 (round 6; reshaped round 7): the dup-gram set scales with
    duplicated CONTENT (not with the benchmark/boilerplate head), so it
    must NOT be hinted broadcast — AQE may still pick broadcast at tiny
    SF — and the whole op stays JVM-side: no Python eval, no cartesian.
    Round 7: covered positions aggregate to a per-doc SET and docs are
    rebuilt by an array filter over the projected split — the corpus
    word stream is never exploded or shuffled (the old shape paid a
    (doc_id, widx) left-anti shuffle plus a collect_list+sort reassembly
    shuffle over every word in the corpus)."""
    from text_extraction_spark import dataops

    plan = _plan(dataops.QUERIES["d44_substring_dedup"](spark, SF))
    assert "EvalPython" not in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "collect_set" in plan  # per-doc covered-index set
    # the rebuild is a map-side array filter — the full word stream
    # never rides posexplode into a shuffle (one posexplode: the grams)
    assert plan.count("posexplode") <= 2  # gram stream only (dup-agg + hit-join)
    assert "LeftOuter" in plan  # cov set re-attached to the doc list


def test_pq_paths_ids_only_shuffles(spark):
    """d46/d49 (round 6): the PQ store crosses the plan as (vec_id,
    cell, 8-byte codes) — every shuffle Exchange must exclude the raw
    embedding column (the d06 ids-only rule applied to the compressed
    paths), and candidate generation must never degrade to a nested
    loop. The only allowed raw-vector access is the scan feeding the
    map-only encode stage and the bounded refine join-back."""
    import contextlib
    import io

    from text_extraction_spark import dataops

    for name in ("d46_ann_pq", "d49_ann_ivfpq"):
        df = dataops.QUERIES[name](spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "BroadcastNestedLoop" not in plan, name
        assert "CartesianProduct" not in plan, name
        blocks = re.findall(
            r"\(\d+\) Exchange[\s\S]*?(?=\n\(\d+\)|\Z)", plan
        )
        for b in blocks:  # shuffle Exchanges only (not BroadcastExchange)
            assert "embedding" not in b.lower(), (name, b)


def test_bpe_wordcount_takeordered_single_scan(spark):
    """d48 (round 6): the corpus-scale half of BPE training must be ONE
    documents scan into a partial-agg groupBy, with the top-50k
    truncation planned as TakeOrderedAndProject — a full vocab Sort at
    100 TB would be the bottleneck (the d32 rule)."""
    from text_extraction_spark import dataops

    plan = _plan(dataops._bpe_word_counts(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan
    assert plan.count("Scan parquet") == 1


def test_d74_prefix_join_is_hash_join_ids_only(spark):
    """The AllPairs candidate join must be a shuffle/broadcast HASH join
    on the prefix token (never a cartesian/nested-loop product), and
    the shingle ARRAYS must not ride through the candidate Exchange —
    they re-attach by doc_id equi-join after pair dedup."""
    from text_extraction_spark import dataops

    df = dataops.QUERIES["d74_allpairs_exact_join"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_x09_explode_adds_no_shuffle(spark):
    """x09's typed cell explode is narrow: exactly as many Exchanges as
    the underlying x06 media path (zero added by the double posexplode
    + typing)."""
    from text_extraction_spark import extraction_queries as xq

    base = _plan(xq.QUERIES["x06_media_table_ocr"](spark, SF))
    cells = _plan(xq.QUERIES["x09_table_cells_typed"](spark, SF))
    assert cells.count("Exchange") == base.count("Exchange")


def test_x10_single_window_partitioned_by_doc(spark):
    """x10's context pairing is one posexplode + window(s) partitioned
    by doc_id — no global sort (every Sort in the plan is the window's
    per-partition sort), no Python stage beyond the pipeline read."""
    from text_extraction_spark import extraction_queries as xq

    df = xq.QUERIES["x10_media_context_pairs"](spark, SF)
    plan = _plan(df)
    assert plan.count("windowspecdefinition(doc_id") == 2
    assert "Sort [doc_id" in plan
    # executedPlan prints sorts as `Sort [cols], <global>, 0` — none
    # may be global
    assert "], true, 0" not in plan
