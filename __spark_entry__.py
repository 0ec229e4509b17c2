"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: the fused extraction UDF chain + relational
                 aggregation over sf0.001 testdata.
queries()      — every implemented operator from SURVEY.md §2:
                 Q1–Q43 relational plane (relational.py), extraction
                 plane A1–A20 / x01–x08 (extraction_queries.py), and
                 the training-data ops plane d01–d35 (dataops.py);
                 oracle-backed entries are emitted first so the
                 driver's 50-entry CORRECTNESS cap covers them all.
oracle_sql()   — matching DuckDB SQL for every SQL-expressible query;
                 entries without one are rows-only by design
                 (approximate sketches, streaming semantics, full
                 interleaved pipeline over this repo's own corpus).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _ensure_pythonpath() -> None:
    """Workers must be able to import text_extraction_spark (UDF
    deserialization) even when the driver process was launched from
    elsewhere — same mechanism as conf.get_spark."""
    root = os.path.dirname(os.path.abspath(__file__))
    pp = os.environ.get("PYTHONPATH", "")
    if root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{root}{os.pathsep}{pp}" if pp else root


def _ensure_workers(spark: SparkSession) -> None:
    """PYTHONPATH set after the JVM launched does NOT reach Python
    workers; addPyFile does. Ship the package zip to the session once so
    UDFs deserialize regardless of how/where the caller built the
    session."""
    sc = spark.sparkContext
    if getattr(sc, "_tes_pyfiles_added", False):
        return
    import tempfile
    import zipfile

    root = os.path.dirname(os.path.abspath(__file__))
    # Fresh unpredictable-name zip per process (mkstemp: O_EXCL, 0600) —
    # never a fixed world-guessable /tmp path another local user could
    # pre-create and have executed on every Python worker; rebuilt per
    # process so a stale zip can't ship OLD code after an engine change.
    zpath = getattr(sc, "_tes_pyfiles_zip", None)
    if zpath is None or not os.path.exists(zpath):
        fd, zpath = tempfile.mkstemp(prefix="tes_engine_pyfiles_", suffix=".zip")
        with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w", zipfile.ZIP_DEFLATED) as z:
            pkg = os.path.join(root, "text_extraction_spark")
            for dirpath, _dirs, files in os.walk(pkg):
                if "__pycache__" in dirpath:
                    continue
                for f in files:
                    if f.endswith(".py"):
                        p = os.path.join(dirpath, f)
                        z.write(p, os.path.relpath(p, root))
        sc._tes_pyfiles_zip = zpath
    sc.addPyFile(zpath)
    sc._tes_pyfiles_added = True


def _wrap(fn):
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_workers(spark)
        return fn(spark, sf_dir)

    return wrapped


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on /root/testdata/sf0.001: Kohlschütter main-content
    extraction UDF over documents, quality features, per-language
    rollup. Driver checks rows > 0 and a stable schema."""
    _ensure_pythonpath()
    _ensure_workers(spark)
    from pyspark.sql import functions as F

    from text_extraction_spark.pipeline import extract_text_udf_timed

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    extracted = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        extract_text_udf_timed("text")["out_text"].alias("main_text"),
    )
    return (
        extracted.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("main_text").alias("n_kept"),
            F.round(F.avg(F.length("main_text")), 2).alias("avg_kept_chars"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy("lang")
    )


# The driver's CORRECTNESS file records only the FIRST 50 queries()
# entries; oracle-backed entries are emitted first and rows-only entries
# (pre-declared ⊘ in SURVEY §2) last. With 74 oracle-backed entries and
# a 50-entry cap, 24 sit past the cap each round — ROTATED per round
# (VERDICT r3 #5) so no oracle-backed query's external record goes more
# than one round stale. Round 5 demoted q18–q23/q36–q38/q40–q43/the
# d28–d33 goldens/d34; round 6 promotes those eighteen back under the
# cap and demotes r5-green entries — a basic-join/window/UDF slice of
# the relational plane plus, for the six round-6 additions
# (d38–d43), six more r5-greens (q29/q27/q28/q30/d08/d10) so every
# new op gets first-time driver verification. Everything demoted is still
# DuckDB-checked locally every session by tools/check_contract.py +
# pytest; the flagship q04/q08/q10 shuffle paths and all extraction
# x-entries stay under the cap.
_CAP_TAIL = (
    "q01_scan_projection",
    "q02_filter_predicates",
    "q03_broadcast_join",
    "q05_left_outer_join",
    "q06_left_semi_join",
    "q07_left_anti_join",
    "q09_asof_join",
    "q11_count_distinct",
    "q13_rollup",
    "q14_window_rank",
    "q15_window_running_sum",
    "q16_topk",
    "q17_set_ops",
    "q24_pandas_scalar_udf",
    "q25_grouped_map_udf",
    "q32_dedup",
    "q34_bucketed_colocated_join",
    "q35_udtf_word_explode",
    # round 6: one extra demotion keeps the under-cap prefix at exactly
    # 50 after the new d38 golden joined the oracle-backed head
    "q29_sliding_window",
    # round 6 late additions: d39/d40/d41/d42 join the oracle-backed
    # head (first-time driver verification) — four more r5-green
    # demotions (flagship q04/q08/q10 shuffle paths stay under the cap)
    "q27_grouped_agg_udaf",
    "q28_tumbling_window",
    "q30_session_window",
    "d08_quality_score",
    "d10_fingerprint",
    # round 6 session 2: d44 substring dedup and the d47 PQ golden join
    # the oracle-backed head — two more r5-green demotions
    "d18_stratified_sample",
    "d12_embedding_cosine_near_dup",
    # round 6 session 2: the d50 IVFPQ golden joins the oracle-backed
    # head — one more r5-green demotion
    "d24_repetition_filter",
    # round 6 session 2: d51 global shuffle joins the head — one more
    "d23_decontaminate",
    # round 6 session 3: the incremental-curation batch (d53 chunking,
    # d54/d56 incremental dedup, d55 classifier apply, d57 token-budget
    # sample) joins the oracle-backed head — five more r5-green
    # demotions keep the prefix at exactly 50
    "d01_dedup_exact",
    "d04_ngram_jaccard",
    "d05_ann_cosine_bruteforce",
    "d07_token_count",
    "d27_tfidf_topk",
    # round 6 session 3: d58 snapshot diff, d59 streaming ingest dedup
    # (first streaming entry with a value oracle), d60 source overlap
    # join the head — three more r5-green demotions
    "d16_pii_scrub",
    "d17_paragraph_dedup",
    "d31_unigram_lm_score",
    # round 6 session 3: d61 stratified split, d62 length curriculum,
    # d63 mixture materialization join the head — three more r5-green
    # demotions
    "d19_dedup_components",
    "d25_curation_pipeline",
    "d32_vocab_coverage",
    # round 6 session 3: d64 exposure audit, d65 source pruning, d66
    # batch manifest join the head — the LAST three r5-green
    # non-flagship demotions this round (only the flagship q04/q08/q10
    # and x-entries remain r5-green under the cap)
    "d35_ann_lsh_golden",
    "d36_neardup_verified_golden",
    "d37_per_source_cap",
    # round 6 session 4: d67 URL dedup, d68 cluster representative, d69
    # inverted index join the head — the flagship shuffle joins
    # q04/q08/q10 (r5-green, local-sweep-covered every session) are the
    # last three demotions that keep the prefix at exactly 50
    "q04_shuffle_join_3way",
    "q08_range_join",
    "q10_tpch_q1_agg",
    # round 6 session 4: d70 PMI + d71 entropy join the head — x01/x02
    # demote (r5-green; the deeper x03/x06/x08 pipeline oracles keep the
    # extraction plane driver-verified this round)
    "x01_main_content_extraction",
    "x02_tokenize_features",
    # round 6 session 4: the d73 SQ8 golden joins the head — x06
    # demotes (r5-green; its media-OCR path stays driver-covered via
    # the full x03 pipeline oracle under the cap)
    "x06_media_table_ocr",
    # round 6 session 5: x09 typed table cells joins the head (it
    # drives the SAME fused media UDF as x06/x08 plus the typed
    # explode, so the OCR and PDF paths stay driver-value-verified
    # through it) — x08 demotes (r5-green)
    "x08_pdf_text_extraction",
    # round 6 session 5: the rotation budget is exhausted (every
    # remaining under-cap entry is either r4-promoted this round or a
    # first-time r6 entry), so the two NEW oracle-backed ops start in
    # the tail as the round-7 promotion queue — locally sweep-verified
    # now, first driver verification next round
    "d74_allpairs_exact_join",
    "x10_media_context_pairs",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _ensure_pythonpath()
    from text_extraction_spark import dataops, extraction_queries, relational

    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    merged.update(dataops.QUERIES)
    merged.update(extraction_queries.QUERIES)
    merged.update(relational.QUERIES)
    # Static oracle names only — calling oracle_sql() here would trigger
    # the lazy x03/x06/x08 corpus generation just to list query names.
    oracle_keys = (
        set(dataops.ORACLES)
        | set(extraction_queries.ORACLES)
        | set(relational.ORACLES)
        | {
            "x08_pdf_text_extraction",
            "x03_extract_corpus_pipeline",
            "x06_media_table_ocr",
            "x09_table_cells_typed",
            "x10_media_context_pairs",
            "d28_embedding_dedup_golden",
            "d29_ann_ivf_golden",
            "d30_dedup_pipeline_golden",
            "d33_simhash_golden",
            "d35_ann_lsh_golden",
            "d36_neardup_verified_golden",
            "d38_bigcluster_dedup_golden",
            "d47_ann_pq_golden",
            "d50_ann_ivfpq_golden",
            "d56_incremental_neardup_golden",
            "d73_ann_sq8_golden",
        }
    )
    ordered = (
        [k for k in merged if k in oracle_keys and k not in _CAP_TAIL]
        + [k for k in _CAP_TAIL if k in merged]
        + [k for k in merged if k not in oracle_keys]
    )
    return {name: _wrap(merged[name]) for name in ordered}


def oracle_sql() -> dict[str, str]:
    _ensure_pythonpath()
    from text_extraction_spark import dataops, extraction_queries, relational

    out: dict[str, str] = {}
    out.update(relational.ORACLES)
    out.update(extraction_queries.ORACLES)
    out.update(dataops.ORACLES)
    # lazily-built oracles (they embed the generated corpus path):
    # x08 — PDF extraction vs generation-time truth; x03/x06 — the
    # distributed pipeline/media path vs the single-process oracle's
    # own persisted outputs (golden / media_golden parquet)
    out["x08_pdf_text_extraction"] = extraction_queries.pdf_oracle_sql()
    out["x03_extract_corpus_pipeline"] = extraction_queries.x03_oracle_sql()
    out["x06_media_table_ocr"] = extraction_queries.x06_oracle_sql()
    # x09 — OCR table text typed-exploded to a cell grid vs the same
    # explode in DuckDB over media_golden (embeds the corpus path)
    out["x09_table_cells_typed"] = extraction_queries.x09_oracle_sql()
    # x10 — media-context pairing over the distributed pipeline output
    # vs the same windows over golden.parquet (embeds the corpus path)
    out["x10_media_context_pairs"] = extraction_queries.x10_oracle_sql()
    # d28 — embedding-dedup pipeline vs DuckDB brute-force + recursive-CTE
    # components over the planted near-dup store (embeds the store path)
    out["d28_embedding_dedup_golden"] = dataops.d28_oracle_sql()
    # d29/d30 — the IVF and corpus-dedup pipelines vs DuckDB brute force
    # on their planted golden stores (embed the store paths)
    out["d29_ann_ivf_golden"] = dataops.d29_oracle_sql()
    out["d30_dedup_pipeline_golden"] = dataops.d30_oracle_sql()
    out["d33_simhash_golden"] = dataops.d33_oracle_sql()
    # d35 — hyperplane-LSH top-3 vs the SAME brute-force oracle as d29
    out["d35_ann_lsh_golden"] = dataops.d29_oracle_sql()
    # d36 — d13's MinHash→verify stage vs DuckDB brute-force all-pairs
    # Jaccard on d30's planted substitution-group corpus
    out["d36_neardup_verified_golden"] = dataops.d36_oracle_sql()
    # d38 — d26's bucket-grid verify vs DuckDB brute force on the
    # planted 100-member-cluster store (round 6)
    out["d38_bigcluster_dedup_golden"] = dataops.d38_oracle_sql()
    # d47 — the PQ encode→ADC pipeline vs DuckDB brute force on the
    # planted PQ-exact store (round 6)
    out["d47_ann_pq_golden"] = dataops.d47_oracle_sql()
    # d50 — the composed IVFPQ pipeline vs the SAME brute-force oracle
    # as d29 (probe coverage + shortlist margin make refine exact)
    out["d50_ann_ivfpq_golden"] = dataops.d29_oracle_sql()
    # d73 — the SQ8 encode→ADC pipeline vs DuckDB brute force on the
    # planted grid-exact store (round 6 session 4)
    out["d73_ann_sq8_golden"] = dataops.d73_oracle_sql()
    # d56 — incremental near-dup (batch vs MinHash index) vs DuckDB
    # brute-force all-pairs Jaccard + the same keep rule, over the d30
    # planted store where candidate recall is 1.0 by construction
    out["d56_incremental_neardup_golden"] = dataops.d56_oracle_sql()
    return out
