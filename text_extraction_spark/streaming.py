"""Structured Streaming plane — SURVEY.md §2-B Q28–Q32 streaming twins.

Batch-mode window aggregations (tumbling/sliding/session) live in
relational.py with DuckDB oracles; this module provides the genuinely
streaming pieces: one cached, ordered file-source replay of a table
(replay_dir) read through one seam (stream_source), watermarked
windowed aggregation under Trigger.AvailableNow, and streaming dedup —
with late-data semantics asserted in tests/test_streaming.py
(FIXTURES.md §4).
"""

from __future__ import annotations

import os
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType


def replay_dir(
    src_parquet: str, order_col: str, n_chunks: int, late_chunk: bool = False
) -> str:
    """Cut `src_parquet` into n_chunks `order_col`-ordered chunks
    (chunk-000..NN) — a deterministic stand-in for a stream arriving in
    that order — published once through conf.cached_dir. The cache key
    is the source's path, (size, mtime_ns) and the chunking, so a
    rewritten source gets a fresh replay and a rebuild writes nothing.

    late_chunk=True: hold back a slice of the OLDEST rows and append it
    as the final chunk — rows that arrive after the watermark has passed
    their window, to exercise late-data dropping.
    """
    import hashlib
    import time

    import pyarrow.compute as pc

    from .conf import cached_dir

    st = os.stat(src_parquet)
    src = hashlib.sha256(os.path.abspath(src_parquet).encode()).hexdigest()[:12]
    late = "_late" if late_chunk else ""

    def build(out_dir: str) -> None:
        tbl = pq.read_table(src_parquet)
        tbl = tbl.take(pc.sort_indices(tbl.column(order_col)))
        n = tbl.num_rows
        # the oldest 5% arrives LAST
        held = tbl.slice(0, max(1, n // 20) if late_chunk else 0)
        rest = tbl.slice(held.num_rows)
        step = max(1, rest.num_rows // n_chunks)
        chunks = [rest.slice(i * step, step) for i in range(n_chunks - 1)]
        chunks += [rest.slice((n_chunks - 1) * step), held]
        base = time.time()
        for i, c in enumerate(c for c in chunks if c.num_rows):
            p = os.path.join(out_dir, f"chunk-{i:03d}.parquet")
            pq.write_table(c, p)
            # FileStreamSource orders new files by MODIFICATION TIME;
            # chunks written within the same clock tick tie and can be
            # picked up out of order (observed: the held-back late chunk
            # processed early → watermark never ahead of it → flaky drop
            # counts). Strictly increasing mtimes make replay order =
            # chunk order, always.
            os.utime(p, (base + i, base + i))

    return cached_dir(
        f"replay_{src}_{st.st_size}_{st.st_mtime_ns}_{order_col}_{n_chunks}{late}",
        build,
    )


def stream_source(
    spark: SparkSession,
    fmt: str = "file-replay",
    path: str | None = None,
    **options: str,
) -> DataFrame:
    """Streaming-source seam (round 3; mirrors catalog.py's Iceberg
    seam): the single place a source format binds, so a production
    source swaps in with one argument and nothing else changes.

    * 'file-replay' — the offline stand-in for a live feed: a
      replay_dir read one chunk per trigger, so there is one
      micro-batch per chunk.
    * 'rate' — Spark's built-in synthetic source (smoke-tested).
    * 'kafka' — the production line; raises at load() in this env
      because no kafka connector jar / broker exists (options pass
      through: kafka.bootstrap.servers, subscribe, ...).
    """
    if fmt == "file-replay":
        if path is None:
            raise ValueError("file-replay requires path=<replay_dir>")
        schema = spark.read.parquet(path).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        # parquet µs timestamps surface as TIMESTAMP_NTZ in Spark 4, but
        # watermarks require TIMESTAMP; session tz is UTC so values are
        # unchanged by the cast.
        return stream.withColumns(
            {
                f.name: F.col(f.name).cast("timestamp")
                for f in schema
                if isinstance(f.dataType, TimestampNTZType)
            }
        )
    if fmt in ("rate", "kafka"):
        reader = spark.readStream.format(fmt)
        for k, v in options.items():
            reader = reader.option(k, v)
        return reader.load()
    raise ValueError(f"unknown stream source format: {fmt!r}")


def run_available_now(
    stream_df: DataFrame,
    spark: SparkSession,
    with_stats: bool = False,
    output_mode: str = "append",
):
    """Run a streaming aggregation to completion with Trigger.AvailableNow
    into a memory sink; return the materialized result (and, with
    with_stats=True, per-run totals incl. rows dropped by watermark)."""
    name = "s" + uuid.uuid4().hex[:12]
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    result = spark.table(name)
    if not with_stats:
        return result
    dropped = 0
    batches = 0
    for p in q.recentProgress:
        batches += 1
        for so in p["stateOperators"]:
            dropped += so.get("numRowsDroppedByWatermark", 0) or 0
    return result, {"batches": batches, "rows_dropped_by_watermark": dropped}


def windowed_counts(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling-window counts (Q31). In append mode a window
    is emitted only once the watermark passes its end — late rows older
    than the watermark are dropped from state."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("total"))
        .select(F.col("w.start").alias("ws"), "cnt", "total")
    )


def streaming_dedup(stream: DataFrame, watermark: str = "60 minutes") -> DataFrame:
    """Q32 streaming twin: exactly-once event_id dedup bounded by a
    watermark (state is purged past it)."""
    return (
        stream.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "ts", "user_id")
    )


def running_user_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (SURVEY §2-C):
    per-user running event count + value total maintained across
    micro-batches in explicit GroupState — the pattern for stateful
    logic that windows/dedup can't express. Update output mode: each
    batch emits the refreshed running totals for the users it touched."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdf_iter, state: GroupState):
        n, v = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            v += float(pdf["value"].sum())
        state.update((n, v))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(v, 2)]}
        )

    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="n long, v double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def extract_corpus_streaming(
    spark: SparkSession,
    docs_stream_dir: str,
    corpus_dir: str,
    out_dir: str,
) -> dict:
    """Incremental extraction: documents arriving as a file stream are
    run through the SAME extraction pipeline (extract_spans + reassemble)
    per micro-batch via foreachBatch, Trigger.AvailableNow.

    Semantics: the checkpoint gives at-least-once batch replay; per-batch
    output lands in extracted_stream/batch_id=N so a replayed batch
    OVERWRITES its own directory (idempotent), mirroring the A18 bucket
    protocol. The media store is static (the common shape: media blobs
    land first, document records reference them)."""
    from .pipeline import extract_spans, load_media, reassemble

    media = load_media(spark, corpus_dir)
    stream = stream_source(spark, path=docs_stream_dir)
    out_table = os.path.join(out_dir, "extracted_stream")
    n_batches = {"n": 0}

    def process(batch_df, batch_id: int) -> None:
        result = reassemble(extract_spans(batch_df, media), batch_df)
        result.write.mode("overwrite").parquet(
            os.path.join(out_table, f"batch_id={batch_id}")
        )
        n_batches["n"] += 1

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(out_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {"batches": n_batches["n"], "out_table": out_table}


def stream_stream_join(spark: SparkSession, replay: str) -> DataFrame:
    """Stream-stream inner join with watermarked state: purchases joined
    to the same user's signups within 1 hour before the purchase. Both
    sides are streaming; watermarks bound the join state retention."""
    purchases = (
        stream_source(spark, path=replay)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "30 minutes")
    )
    signups = (
        stream_source(spark, path=replay)
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id").alias("s_user"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", "30 minutes")
    )
    return purchases.join(
        signups,
        F.expr(
            "p_user = s_user AND s_ts <= p_ts AND s_ts >= p_ts - INTERVAL 1 HOUR"
        ),
    ).select("purchase_id", "signup_id", "p_ts", "s_ts")


def streaming_ingest_dedup(stream: DataFrame) -> DataFrame:
    """Streaming exact ingest-dedup: the d54 incremental shape as a
    continuous query — each micro-batch's documents dedup against ALL
    previously-seen content hashes via dropDuplicates state. The state
    store holds one 128-bit hash per distinct document (at production
    scale, bounded with dropDuplicatesWithinWatermark over an ingest-time
    watermark; this corpus feed has no event time, so state is the full
    hash set — the same memory the batch index join would broadcast)."""
    return stream.select(F.md5("text").alias("text_hash")).dropDuplicates(
        ["text_hash"]
    )
