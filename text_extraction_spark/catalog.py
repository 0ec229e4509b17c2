"""SQL catalog facade (the Iceberg seam, SURVEY §1.2).

No iceberg-spark-runtime jar exists in this environment (rechecked
2026-08-17, round 5: no iceberg/delta jar anywhere on disk), so tables
are plain parquet + the pipeline's manifest protocol. This module is the
single place that binds logical table names to storage so a future
Iceberg catalog drops in here: swap `spark.read.parquet(...)` for
`spark.table("catalog.db.name")` / `format("iceberg")` and delete
nothing else.

Usage:
    register_corpus_tables(spark, corpus_dir)       # documents, media
    register_output_tables(spark, out_dir)          # extracted, metrics, manifest
    spark.sql("SELECT doc_id, size(spans) FROM extracted ...").show()
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession


def register_corpus_tables(spark: SparkSession, corpus_dir: str) -> None:
    spark.read.parquet(os.path.join(corpus_dir, "documents.parquet")).createOrReplaceTempView("documents_corpus")
    spark.read.parquet(os.path.join(corpus_dir, "media.parquet")).createOrReplaceTempView("media")


def register_output_tables(spark: SparkSession, out_dir: str) -> None:
    spark.read.parquet(os.path.join(out_dir, "extracted")).createOrReplaceTempView("extracted")
    spark.read.parquet(os.path.join(out_dir, "metrics")).createOrReplaceTempView("metrics")
    manifest_df(spark, out_dir).createOrReplaceTempView("manifest")


def manifest_df(spark: SparkSession, out_dir: str) -> DataFrame:
    """The commit manifest as a DataFrame (A18 records) — read through
    the Hadoop FS seam so file:/hdfs:/s3a: tables all resolve."""
    from .fsio import FS

    fs = FS(spark, out_dir)
    mdir = os.path.join(out_dir, "manifest")
    rows = []
    for f in fs.listdir(mdir):
        if f.endswith(".json"):
            rows.extend(
                json.loads(line)
                for line in fs.read_text(os.path.join(mdir, f)).splitlines()
                if line.strip()
            )
    return spark.createDataFrame(
        rows or [],
        schema="run_id string, bucket int, status string, n_docs long, "
        "output_path string, committed_at string",
    )


def register_testdata_views(spark: SparkSession, sf_dir: str) -> None:
    """The driver testdata tables as SQL views (the same names the DuckDB
    oracle uses), enabling pure-SQL use of the whole relational plane."""
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        p = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(p):
            spark.read.parquet(p).createOrReplaceTempView(name)


def register_extraction_functions(spark: SparkSession) -> None:
    """Expose the extraction + dataops UDFs to SQL users:
        SELECT tes_extract_main(text)             -- A5+A6+A14 text path
        SELECT tes_extract_table(w, h, fmt, data) -- A7–A13 + A20 media
                                                  -- (images AND PDFs)
        SELECT tes_simhash(text)                  -- d03 64-bit SimHash
        SELECT tes_minhash(text)                  -- d02 MinHash signature
    The same fused Arrow UDFs the pipeline/queries use — one
    registration, any SQL surface (spark.sql, thrift, notebooks). The
    extraction UDFs register under `*_timed` names returning the
    pipeline's (out_text, proc_ms) struct; the plain names are SQL
    functions selecting `out_text` from them (still one Python crossing)."""
    from .dataops import minhash_sig_udf, simhash_udf
    from .pipeline import extract_media_udf_timed, extract_text_udf_timed

    spark.udf.register("tes_extract_main_timed", extract_text_udf_timed)
    spark.udf.register("tes_extract_table_timed", extract_media_udf_timed)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION tes_extract_main(text STRING) "
        "RETURNS STRING RETURN tes_extract_main_timed(text).out_text"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION tes_extract_table("
        "width INT, height INT, fmt STRING, data BINARY) RETURNS STRING "
        "RETURN tes_extract_table_timed(width, height, fmt, data).out_text"
    )
    spark.udf.register("tes_simhash", simhash_udf)
    spark.udf.register("tes_minhash", minhash_sig_udf)
