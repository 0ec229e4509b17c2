"""The distributed extraction pipeline — SURVEY.md §2-A operators A1–A19
re-expressed Spark-first over the interleaved corpus [B:15].

Physical design (SURVEY §3.2 / §4):

  Stage 1 (scan)      read documents.parquet, prune to (doc_id, spans),
                      bucket = pmod(xxhash64(doc_id), n_buckets),
                      resume filter: LEFT ANTI join vs committed manifest
                      buckets (A18 / Q7).
  Stage 2 (explode)   posexplode-free explode of spans, then the text and
                      media paths are SEPARATE projections so the media
                      plan never drags `text` through Arrow and vice
                      versa (column pruning, SURVEY §4).
  shuffle #1 (A4)     TEXT path: explicit salted repartition BEFORE the
                      Python stage — span-level key xxhash64(doc_id,
                      offset) dissolves media-heavy-document skew; AQE
                      cannot do this because Python-UDF cost is opaque
                      to it (and the repartition is REPARTITION_BY_NUM,
                      exempt from AQE coalescing). It is sized by task
                      slots (sparkContext.defaultParallelism), not by
                      spark.sql.shuffle.partitions: see Stage 3.
  Stage 3 (UDFs)      one fused Arrow pandas UDF per path — each span
                      crosses the JVM⇄Python boundary exactly once
                      (A5+A6 for text; A7–A14 for media, which runs AT
                      SCAN PARTITIONING so image bytes never shuffle —
                      only (media_ref, extracted text) joins to spans).
                      Python stages run one task per slot, in one wave:
                      every Python task pays a fixed 0.2–0.3 s of worker
                      CPU before its first row (measured on a 4-core
                      local[4] session, even for an empty task; ~96% of
                      it is pyspark's per-task setup_spark_files →
                      importlib.invalidate_caches(), which re-lists a
                      zipped pyspark once per cached zip importer),
                      while text compute is ~0.08 ms per span: 32 text
                      tasks on 4 slots spent ~8 s of worker CPU in
                      set-up against ~1.2 s of extraction.
                      A17 timing rides inside the UDF return struct;
                      partition ids are stamped JVM-side in the same
                      stage (even=text / odd=media).
  Stage 4 (stage-out) the span-level extraction+lineage table is written
                      once to spans/run_id=R/ parquet; metrics and
                      reassembly derive from it (cheaper than caching
                      columnar state, and it IS the lineage artifact).
  shuffle #2 (A15)    ONE groupBy(doc_id) (AQE-exempt repartition reused
                      by the aggregation): sort_array orders the struct
                      array by offset and an indexed transform assigns
                      the dense `order` — no window sort-exchange; left
                      join back to the doc list keeps fully-dropped
                      documents with an empty spans array.
  Stage 5 (A19/A18)   write extracted partitioned by bucket to a staging
                      dir (repartitioned by bucket → one file each),
                      atomically rename each bucket dir into the final
                      table, append one manifest row per bucket
                      (exactly-once resume without an Iceberg jar), then
                      append per-partition metrics.

Every stage is deterministic: results are invariant to partitioning
(asserted by tests/test_pipeline.py against the single-process oracle).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .engine.boilerplate import extract_main
from .engine.imageproc import decode_image
from .engine.ocr import extract_table, normalize_text
from .engine.pdfproc import extract_pdf_text

OUT_SPAN_TYPE = ArrayType(
    StructType(
        [
            StructField("kind", StringType()),
            StructField("text", StringType()),
            StructField("media_ref", StringType()),
            StructField("order", IntegerType()),
        ]
    )
)

_EMPTY_SPANS = (
    "CAST(array() AS array<struct<kind:string,text:string,"
    "media_ref:string,order:int>>)"
)

METRICS_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("partition_id", IntegerType()),
        StructField("docs", LongType()),
        StructField("spans_in", LongType()),
        StructField("spans_out", LongType()),
        StructField("media_ok", LongType()),
        StructField("media_err", LongType()),
        StructField("bytes_in", LongType()),
        StructField("wall_ms", LongType()),
        StructField("ts", StringType()),
    ]
)


# --------------------------------------------------------------------- A5+A6


_TIMED_SCHEMA = StructType(
    [StructField("out_text", StringType()), StructField("proc_ms", DoubleType())]
)


@F.pandas_udf(_TIMED_SCHEMA)
def extract_text_udf_timed(texts: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    """Fused A5 tokenize + A6 Kohlschütter classify + A14 normalize,
    with the A17 timing folded into the SAME Arrow crossing (proc_ms =
    per-row share of the batch's Python wall — summing per partition
    reconstructs partition wall time; a separate mapInPandas tap would
    cost a second full Python crossing and block filter pushdown).
    out_text NULL = span dropped (every block boilerplate). The one text
    UDF: callers that want only the string select its `out_text`."""
    for batch in texts:
        t0 = time.monotonic()
        vals = [
            (normalize_text(extract_main(s)) or None) if s is not None else None
            for s in batch
        ]
        dt_ms = (time.monotonic() - t0) * 1000.0
        yield pd.DataFrame(
            {"out_text": pd.Series(vals, dtype="object"), "proc_ms": dt_ms / max(len(batch), 1)}
        )


# ------------------------------------------------------------------ A7–A14


def _extract_one_media(width, height, fmt, data) -> str | None:
    if data is None:
        return None
    try:
        if fmt == "pdf":
            return extract_pdf_text(bytes(data)) or None  # A20
        gray = decode_image(bytes(data), int(width), int(height), fmt)
        return extract_table(gray) or None
    except Exception:
        return None


def _extract_media_batch(widths, heights, fmts, datas) -> list:
    """_extract_one_media over a whole Arrow batch, with the A8+A9
    threshold/denoise stages batched across SAME-SIZE images (round 7):
    those stages are overhead-bound per image at fixture sizes, and
    image dims cluster heavily, so decoding per image and then running
    one (B, h, w) stacked pass per size group cuts their fixed numpy
    cost ~size-group-fold. Per-image semantics are preserved exactly —
    the batch ops are the 2-D ops with a leading axis (asserted
    element-equal in tests), decode/PDF/grid failures stay isolated to
    their own row (each per-image step keeps its own try/except), a
    size group whose stacked pass raises (e.g. 0×0 images, where
    np.pad cannot reflect) falls back to _extract_one_media for that group's rows only,
    and the downstream grid/fallback decode is the unchanged per-image
    path (ocr.extract_table_from_mask)."""
    import numpy as np

    from .engine.imageproc import adaptive_threshold_batch, denoise_batch
    from .engine.ocr import extract_table_from_mask

    n = len(datas)
    out: list = [None] * n
    groups: dict[tuple, list[int]] = {}
    grays: dict[int, "np.ndarray"] = {}
    for i in range(n):
        data = datas[i]
        if data is None:
            continue
        fmt = fmts[i]
        try:
            if fmt == "pdf":
                out[i] = extract_pdf_text(bytes(data)) or None
                continue
            g = decode_image(bytes(data), int(widths[i]), int(heights[i]), fmt)
        except Exception:
            continue
        grays[i] = g
        groups.setdefault(g.shape, []).append(i)
    for idxs in groups.values():
        try:
            masks = denoise_batch(
                adaptive_threshold_batch(np.stack([grays[i] for i in idxs]))
            )
        except Exception:
            for i in idxs:
                out[i] = _extract_one_media(widths[i], heights[i], fmts[i], datas[i])
            continue
        for j, i in enumerate(idxs):
            try:
                out[i] = extract_table_from_mask(masks[j]) or None
            except Exception:
                out[i] = None
    return out


@F.pandas_udf(_TIMED_SCHEMA)
def extract_media_udf_timed(
    it: Iterator[tuple[pd.Series, pd.Series, pd.Series, pd.Series]],
) -> Iterator[pd.DataFrame]:
    """Fused media path: fmt 'pdf' → PDF/layout text parse (A20);
    image fmts → decode (A7) → adaptive threshold (A8) → denoise (A9) →
    rulings incl. embedded-region fallback (A10) → grid (A11) → slot OCR
    (A12) → row-major assembly (A13); timing folded in (see
    extract_text_udf_timed). NULL = dropped (unresolved ref / decode
    error / no grid / empty PDF). Iterator form: one Arrow crossing per
    batch, setup amortized per partition."""
    for width, height, fmt, data in it:
        t0 = time.monotonic()
        vals = _extract_media_batch(
            width.to_numpy(), height.to_numpy(), fmt.tolist(), data.tolist()
        )
        dt_ms = (time.monotonic() - t0) * 1000.0
        yield pd.DataFrame(
            {"out_text": pd.Series(vals, dtype="object"), "proc_ms": dt_ms / max(len(data), 1)}
        )


# The extraction UDFs ARE deterministic (bit-deterministic, asserted by
# tests), but they are marked nondeterministic ON PURPOSE: otherwise
# Catalyst pushes `isNotNull(out_text)` filters below the salt
# repartition and DUPLICATES the ArrowEvalPython node — the whole Python
# extraction ran twice (observed: 4 ArrowEvalPython nodes in the
# reassemble plan, 2× wall time). This only disables filter
# pushdown/collapse THROUGH the UDF; results and retries are unaffected.
extract_text_udf_timed = extract_text_udf_timed.asNondeterministic()
extract_media_udf_timed = extract_media_udf_timed.asNondeterministic()


# ------------------------------------------------------------------ pipeline


def load_corpus(spark: SparkSession, in_path: str) -> DataFrame:
    """A1: corpus scan (Iceberg seam: swap format here if the runtime jar
    ever appears — SURVEY §1.2)."""
    return spark.read.parquet(os.path.join(in_path, "documents.parquet"))


def load_media(spark: SparkSession, in_path: str) -> DataFrame:
    return spark.read.parquet(os.path.join(in_path, "media.parquet"))


def extract_spans(
    corpus: DataFrame,
    media: DataFrame,
    salt_partitions: int | None = None,
) -> DataFrame:
    """A2–A14 + A17: corpus (doc_id, spans) ⋈ media → per-span extraction.

    Returns span-level DF:
      (doc_id, offset, kind, media_ref, out_text, est_cost,
       partition_id, proc_ms)
    with out_text NULL for dropped spans (kept here so metrics can count
    drops; filtered by reassemble()).
    """
    if salt_partitions is None:
        # one text task per task slot, in a single wave: each Python task
        # costs a fixed 0.2–0.3 s of worker set-up, while a text span
        # costs ~0.08 ms of compute (module docstring, Stage 3)
        salt_partitions = corpus.sparkSession.sparkContext.defaultParallelism

    spans = corpus.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )

    # ---- text path: never carries media columns through Arrow.
    # A4: explicit salted repartition at span granularity BEFORE the
    # Python stage — doc-level skew (media-heavy docs [B:6]) dissolves
    # because the salt includes the span offset, not just doc_id.
    text_in = spans.filter(F.col("kind") == "text").select(
        "doc_id", "offset", "text", F.length("text").cast(LongType()).alias("est_cost")
    )
    text_in = text_in.repartition(salt_partitions, F.xxhash64("doc_id", "offset"))
    text_out = text_in.select(
        "doc_id",
        "offset",
        F.lit("text").alias("kind"),
        F.lit(None).cast(StringType()).alias("media_ref"),
        extract_text_udf_timed("text").alias("r"),
        "est_cost",
    )

    # ---- media path: the decode UDF runs AT SCAN PARTITIONING — image
    # bytes NEVER shuffle. Parquet scan splits are byte-uniform, which
    # IS the cost-balanced partitioning for pixel-proportional decode
    # work (the A4 skew story for media; refs are unique per image so no
    # key skew exists). Only the small (media_ref, extracted text, cost)
    # rows join to spans — shuffle volume drops from image bytes to
    # extracted text. Scan split size is the parallelism lever
    # (spark.sql.files.maxPartitionBytes, see conf.py).
    media_in = spans.filter(F.col("kind") == "media").select(
        "doc_id", "offset", "media_ref"
    )
    media_results = media.select(
        "media_ref",
        extract_media_udf_timed("width", "height", "fmt", "data").alias("r"),
        # A3 cost estimate: pixels for images, payload bytes for PDFs
        # (page count is unknown pre-parse; byte size tracks parse cost)
        F.when(F.col("fmt") == "pdf", F.octet_length("data"))
        .otherwise(F.col("width") * F.col("height"))
        .cast(LongType())
        .alias("est_cost"),
        (F.spark_partition_id() * 2 + 1).alias("partition_id"),
    )
    # build the small (text, cost) side in a hash map — skips the
    # sort-merge sorts on both sides
    media_results = media_results.hint("shuffle_hash")
    media_out = media_in.join(media_results, "media_ref", "left").select(
        "doc_id",
        "offset",
        F.lit("media").alias("kind"),
        "media_ref",
        "r",
        F.coalesce("est_cost", F.lit(0)).alias("est_cost"),
        F.coalesce("partition_id", F.lit(-1)).alias("partition_id"),
    )

    # A17 lineage: partition id JVM-side (same stage as its UDF), timing
    # from inside the UDFs — zero extra Python crossings. Ids are
    # disambiguated even=text / odd=media; -1 = unresolved media_ref.
    text_final = text_out.select(
        "doc_id",
        "offset",
        "kind",
        "media_ref",
        F.col("r.out_text").alias("out_text"),
        "est_cost",
        (F.spark_partition_id() * 2).alias("partition_id"),
        F.col("r.proc_ms").alias("proc_ms"),
    )
    media_final = media_out.select(
        "doc_id",
        "offset",
        "kind",
        "media_ref",
        F.col("r.out_text").alias("out_text"),
        "est_cost",
        "partition_id",
        F.col("r.proc_ms").alias("proc_ms"),
    )
    return text_final.unionByName(media_final)


def reassemble(span_df: DataFrame, corpus: DataFrame) -> DataFrame:
    """A15: surviving spans → per-doc ordered span arrays.

    `order` = dense 0-based rank of survivors by input offset (offsets
    are sparse — SURVEY §7 hazard 2). groupBy(doc_id) immediately after
    a window partitioned by doc_id reuses the hash partitioning: one
    shuffle, not two. Docs whose every span dropped keep an empty array.
    """
    spark = span_df.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    survivors = span_df.filter(F.col("out_text").isNotNull())
    # Explicit repartition on the groupBy key: the aggregation reuses this
    # partitioning (no second shuffle) and — being user-specified — it is
    # exempt from AQE coalescing, which would otherwise collapse the
    # collect_list/sort_array work onto 1-2 tasks by byte-size heuristics.
    survivors = survivors.repartition(n_parts, "doc_id")
    # ONE shuffle total: groupBy(doc_id) collects surviving spans, then
    # sort_array orders them by the struct's leading `offset` field and
    # the indexed transform assigns the dense 0-based `order` — no
    # separate Window stage (a row_number() window would add a second
    # sort exchange over the full span data for nothing).
    assembled = survivors.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("offset"),
                    F.col("kind"),
                    F.col("out_text").alias("text"),
                    F.col("media_ref"),
                )
            )
        ).alias("ordered")
    ).select(
        "doc_id",
        F.transform(
            "ordered",
            lambda x, i: F.struct(
                x["kind"].alias("kind"),
                x["text"].alias("text"),
                x["media_ref"].alias("media_ref"),
                i.cast(IntegerType()).alias("order"),
            ),
        ).alias("spans"),
    )
    return (
        corpus.select("doc_id")
        .join(assembled, "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("spans"), F.expr(_EMPTY_SPANS)).alias("spans"))
    )


def compute_metrics(span_df: DataFrame, run_id: str) -> DataFrame:
    """A17: per-partition lineage + metrics rows from the tapped columns."""
    return (
        span_df.groupBy("partition_id")
        .agg(
            F.countDistinct("doc_id").alias("docs"),
            F.count(F.lit(1)).alias("spans_in"),
            F.count("out_text").alias("spans_out"),
            F.count(F.when((F.col("kind") == "media") & F.col("out_text").isNotNull(), 1)).alias("media_ok"),
            F.count(F.when((F.col("kind") == "media") & F.col("out_text").isNull(), 1)).alias("media_err"),
            F.sum("est_cost").alias("bytes_in"),
            F.round(F.sum("proc_ms")).cast(LongType()).alias("wall_ms"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            "partition_id",
            "docs",
            "spans_in",
            "spans_out",
            "media_ok",
            "media_err",
            "bytes_in",
            "wall_ms",
            F.current_timestamp().cast(StringType()).alias("ts"),
        )
    )


# ----------------------------------------------------------- A18 manifest
#
# Round-2: ALL manifest/commit I/O goes through fsio.FS (the Hadoop
# FileSystem API via the session JVM) — the round-1 os.* protocol was
# driver-local-POSIX only; this one follows the table's OWN filesystem
# (file:/, hdfs://, s3a://). Commit-point semantics in fsio.py docstring.


def _manifest_dir(out_path: str) -> str:
    return os.path.join(out_path, "manifest")


def _read_manifest_rows(spark: SparkSession, out_path: str) -> list[dict]:
    from .fsio import FS

    fs = FS(spark, out_path)
    mdir = _manifest_dir(out_path)
    names = [f for f in fs.listdir(mdir) if f.endswith(".json")]
    rows: list[dict] = []
    for f in names:
        # read_text_or_empty: a peer compaction may delete a listed file
        # mid-sweep; its rows are covered by that peer's snapshot
        for line in fs.read_text_or_empty(os.path.join(mdir, f)).splitlines():
            if line.strip():
                rows.append(json.loads(line))
    return rows


def read_committed_buckets(spark: SparkSession, out_path: str) -> set[int]:
    return {
        int(r["bucket"])
        for r in _read_manifest_rows(spark, out_path)
        if r["status"] == "committed"
    }


def read_manifest_state(spark: SparkSession, out_path: str) -> tuple[set[int], int | None]:
    """Committed bucket ids + the bucket COUNT the committing run used
    (None for pre-round-6 manifests that didn't record it). The count
    matters because bucket = pmod(xxhash64(doc_id), n_buckets): resuming
    with a different n_buckets silently remaps documents across
    committed/uncommitted buckets, duplicating or dropping them
    (round-6 ADVICE fix — durable_run's resume leg used the default 16
    against a 256-bucket manifest and survived only because {0..15} ⊂
    {0..255})."""
    rows = _read_manifest_rows(spark, out_path)
    committed = {int(r["bucket"]) for r in rows if r["status"] == "committed"}
    counts = {int(r["n_buckets"]) for r in rows if r.get("n_buckets") is not None}
    if len(counts) > 1:
        raise ValueError(
            f"manifest at {out_path!r} mixes bucket counts {sorted(counts)} — "
            "the output is not safely resumable; start a fresh out_path"
        )
    return committed, (counts.pop() if counts else None)


def _append_manifest(fs, out_path: str, rows: list[dict]) -> None:
    """Atomic manifest append: one new whole file per batch (create +
    rename on POSIX/HDFS; single-key PUT semantics on object stores) —
    a reader sees either the whole batch or nothing.

    File name carries the batch's first bucket id AND a FULL uuid
    (round-5 fix, found by the 100k-bucket measurement run): the old
    8-hex-truncated uuid is a 32-bit name space, and at ~100k commits
    the birthday bound makes a collision MORE likely than not — two
    concurrent committers then share a .tmp path and the loser's rename
    fails after its tmp was stolen. 128 bits + the bucket id makes the
    collision probability negligible at any bucket count."""
    mdir = _manifest_dir(out_path)
    fs.mkdirs(mdir)
    name = f"commit-{rows[0]['run_id']}-b{rows[0]['bucket']}-{uuid.uuid4().hex}.json"
    fs.write_text_atomic(
        os.path.join(mdir, name),
        "".join(json.dumps(r) + "\n" for r in rows),
        tmp_suffix=".tmp",
    )


def _compact_manifest(fs, out_path: str, run_id: str, max_workers: int | None = None) -> int:
    """Fold every manifest file into ONE snapshot (round 5, VERDICT r4
    #3 — the Iceberg manifest-list pattern): per-bucket commits write
    one tiny file each, so a completed 100k-bucket job would make every
    subsequent resume list and read 100k files before it can skip
    anything. After the commit loop completes, this rewrites the whole
    committed set as a single `snapshot-*.json` and deletes the files
    it covered; resume then reads snapshot + post-snapshot stragglers
    (O(1) + O(new commits) opens instead of O(buckets)).

    Crash-safe ordering: the snapshot is written atomically BEFORE any
    covered file is deleted, so a concurrent or post-crash reader sees
    every committed bucket at least once (duplicates union away in
    read_committed_buckets); files that appear after the listing (a
    concurrent writer's stragglers) are untouched. Reads and deletes go
    through a thread pool — same py4j-concurrency grounds as the
    parallel commit loop. Returns the number of files folded in."""
    if max_workers is None:
        max_workers = _COMMIT_MAX_WORKERS
    mdir = _manifest_dir(out_path)
    names = [f for f in fs.listdir(mdir) if f.endswith(".json")]
    if len(names) <= 1:
        return len(names)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        # read_text_or_empty: a peer compaction sharing out_path may
        # delete a listed file mid-sweep — its rows are already covered
        # by that peer's snapshot (round-6 ADVICE race fix)
        texts = list(
            pool.map(lambda f: fs.read_text_or_empty(os.path.join(mdir, f)), names)
        )
    rows = [json.loads(line) for t_ in texts for line in t_.splitlines() if line.strip()]
    # one row per committed bucket (last writer wins — replays rewrite
    # the same bucket deterministically, so any row is equally valid)
    by_bucket = {int(r["bucket"]): r for r in rows if r["status"] == "committed"}
    snap = "".join(
        json.dumps(by_bucket[b]) + "\n" for b in sorted(by_bucket)
    )
    fs.write_text_atomic(
        os.path.join(mdir, f"snapshot-{run_id}-{uuid.uuid4().hex}.json"),
        snap,
        tmp_suffix=".tmp",
    )
    def _delete_quiet(f: str) -> None:
        try:
            fs.delete(os.path.join(mdir, f), recursive=False)
        except Exception:  # noqa: BLE001 — peer already deleted it
            pass

    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        list(pool.map(_delete_quiet, names))
    return len(names)


# Past this many buckets the per-bucket commit loop goes parallel: each
# driver-side Hadoop rename is an RPC round-trip (~tens of ms on object
# stores), so tens of thousands of buckets would serialize into minutes
# of pure commit latency (VERDICT r3 #6).
_COMMIT_PARALLEL_THRESHOLD = 1024
_COMMIT_MAX_WORKERS = 32


def _commit_buckets(
    fs,
    staging: str,
    final_dir: str,
    out_path: str,
    run_id: str,
    ts: str,
    bucket_dirs: list[str],
    fail_after: int | None = None,
    parallel_threshold: int | None = None,
    max_workers: int = _COMMIT_MAX_WORKERS,
    n_buckets: int | None = None,
) -> int:
    """Rename every staged bucket dir into final_dir, appending its
    manifest row immediately AFTER its own rename — the per-bucket
    commit point. Serial below parallel_threshold; above it a thread
    pool drives the identical per-bucket sequence concurrently (round
    4): _append_manifest writes a fresh uuid-named file per call so
    concurrent appends never collide, and the commit-point invariant
    weakens only from "at most ONE renamed-but-uncommitted bucket on
    crash" to "at most max_workers", each of which the resume replay
    already overwrites via the dst-exists branch. py4j supports calls
    from multiple Python threads (one gateway connection each) and
    Hadoop FileSystem instances are thread-safe."""

    def commit_one(i: int, bdir: str) -> None:
        if fail_after is not None and i >= fail_after:
            raise RuntimeError(f"simulated crash after {fail_after} bucket commits")
        src, dst = os.path.join(staging, bdir), os.path.join(final_dir, bdir)
        if fs.exists(dst):  # replay of an uncommitted leftover (a dst
            # dir would also flip Hadoop rename into move-INSIDE-dst)
            fs.delete(dst)
        if not fs.rename(src, dst):
            raise IOError(f"bucket rename failed: {src} -> {dst}")
        _append_manifest(
            fs,
            out_path,
            [
                {
                    "run_id": run_id,
                    "bucket": int(bdir.split("=")[1]),
                    "status": "committed",
                    "n_docs": None,
                    "n_buckets": n_buckets,  # resume-safety pin (ADVICE r5)
                    "output_path": dst,
                    "committed_at": ts,
                }
            ],
        )

    if parallel_threshold is None:
        parallel_threshold = _COMMIT_PARALLEL_THRESHOLD  # late-bound: tests monkeypatch it
    if len(bucket_dirs) <= parallel_threshold:
        for i, bdir in enumerate(bucket_dirs):
            commit_one(i, bdir)
        return len(bucket_dirs)

    from concurrent.futures import ThreadPoolExecutor

    committed = 0
    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        futures = [
            pool.submit(commit_one, i, bdir) for i, bdir in enumerate(bucket_dirs)
        ]
        try:
            for f in futures:
                f.result()
                committed += 1
        except BaseException:
            for f in futures:
                f.cancel()
            raise
    return committed


def extract_corpus(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    run_id: str,
    n_buckets: int = 16,
    salt_partitions: int | None = None,
    _fail_after_buckets: int | None = None,
) -> dict:
    """Flagship job (SURVEY §3.2): resumable bucketed extraction.

    Writes under out_path:
      spans/run_id=R/*.parquet       span-level extraction + lineage table
                                     (ONE Python pass; everything below
                                     derives from this parquet — cheaper
                                     than caching ~GBs of columnar state,
                                     and it IS the per-partition lineage
                                     artifact [B:14])
      extracted/bucket=N/*.parquet   doc-level (doc_id, spans) table
      manifest/commit-*.json         per-bucket commit records
      metrics/*.parquet              per-(run, partition) lineage+metrics

    Exactly-once resume: a bucket is visible iff its directory was
    atomically renamed into extracted/ AND a committed manifest row
    exists; a re-run left-anti-joins committed buckets (Q7 primitive)
    and re-processes only the remainder. Replays are idempotent — the
    same bucket is recomputed deterministically from the same input.

    `_fail_after_buckets` simulates a mid-commit crash for the resume
    property test (SURVEY §5.3).
    """
    t_start = time.monotonic()
    committed, manifest_n_buckets = read_manifest_state(spark, out_path)
    if committed and manifest_n_buckets is not None and manifest_n_buckets != n_buckets:
        raise ValueError(
            f"resume bucket-count mismatch at {out_path!r}: manifest was "
            f"committed with n_buckets={manifest_n_buckets}, this run asked "
            f"for {n_buckets}. bucket = pmod(xxhash64(doc_id), n_buckets), "
            "so a different count remaps documents across committed buckets "
            "and would silently duplicate or drop them — pass the original "
            f"n_buckets={manifest_n_buckets} (or a fresh out_path)."
        )
    corpus = load_corpus(spark, in_path).withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast(IntegerType())
    )
    if committed:
        corpus = corpus.filter(~F.col("bucket").isin(sorted(committed)))
    n_docs = corpus.count()
    if n_docs == 0:
        return {"run_id": run_id, "docs": 0, "buckets_committed": 0, "skipped": len(committed)}

    media = load_media(spark, in_path)
    # ONE Python pass: materialize the span-level table to parquet, then
    # metrics and reassembly read the (compressed, column-pruned) parquet
    # instead of re-running UDFs or decompressing a columnar cache.
    spans_dir = os.path.join(out_path, "spans", f"run_id={run_id}")
    extract_spans(
        corpus.select("doc_id", "spans"), media, salt_partitions=salt_partitions
    ).write.mode("overwrite").parquet(spans_dir)
    span_df = spark.read.parquet(spans_dir)

    extracted = reassemble(span_df, corpus).join(
        corpus.select("doc_id", "bucket"), "doc_id"
    )

    # ---- stage write, then per-bucket atomic rename + manifest commit
    staging = os.path.join(out_path, f"_staging_{run_id}")
    final_dir = os.path.join(out_path, "extracted")
    # one output file per bucket: repartition BY bucket count so each
    # task holds whole buckets (otherwise every reassembly task writes a
    # sliver into every bucket dir — tasks × buckets small files)
    extracted.repartition(n_buckets, "bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(staging)

    from .fsio import FS

    fs = FS(spark, out_path)
    fs.mkdirs(final_dir)
    ts = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    bucket_dirs = [d for d in fs.listdir(staging) if d.startswith("bucket=")]
    committed_now = _commit_buckets(
        fs, staging, final_dir, out_path, run_id, ts, bucket_dirs,
        fail_after=_fail_after_buckets, n_buckets=n_buckets,
    )
    # the commit loop finished every remaining bucket → fold the
    # per-bucket manifest files (this run's + prior partial runs') into
    # one snapshot so the NEXT resume reads O(1) manifest files
    _compact_manifest(fs, out_path, run_id)

    # ---- metrics (A17/A19) — derived from the span-level lineage table.
    # Write the DataFrame directly (round-3 fix: no collect-then-
    # createDataFrame driver hop / 1-row schema re-infer risk); the
    # summary total comes from one scalar agg over the same plan.
    metrics = compute_metrics(span_df, run_id)
    metrics.coalesce(1).write.mode("append").parquet(
        os.path.join(out_path, "metrics")
    )
    spans_out = int(
        metrics.agg(F.coalesce(F.sum("spans_out"), F.lit(0))).first()[0]
    )
    if fs.exists(staging):
        fs.delete(staging)
    return {
        "run_id": run_id,
        "docs": n_docs,
        "spans_out": spans_out,
        "buckets_committed": committed_now,
        "skipped": len(committed),
        "wall_s": round(time.monotonic() - t_start, 3),
    }


# ----------------------------------------------------------------- A16


def compare_golden(extracted: DataFrame, golden: DataFrame) -> DataFrame:
    """A16: span-sequence equality (kind, text, media_ref, order) per
    doc_id [B:14]. Canonicalize both sides with to_json over the spans
    array sorted by `order` (null struct fields are dropped identically
    on both sides), full-outer join, keep mismatches."""

    def canon(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            "doc_id",
            F.to_json(
                F.array_sort(
                    F.transform(
                        "spans",
                        lambda s: F.struct(
                            s["order"].alias("order"),
                            s["kind"].alias("kind"),
                            s["text"].alias("text"),
                            s["media_ref"].alias("media_ref"),
                        ),
                    )
                )
            ).alias(name),
        )

    e = canon(extracted, "e_spans")
    g = canon(golden, "g_spans")
    return (
        e.join(g, "doc_id", "full_outer")
        .filter(
            F.col("e_spans").isNull()
            | F.col("g_spans").isNull()
            | (F.col("e_spans") != F.col("g_spans"))
        )
    )
