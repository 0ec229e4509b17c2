"""extract_mixed: the real ``pipeline.extract_corpus`` job, end to end,
plus the probes of the traced run (engine sample, Arrow/UDF boundary,
per-phase Spark attribution, fixed per-job cost, crash + resume)."""

from __future__ import annotations

import os
import re
import shutil
import statistics
import time
from typing import Iterator

import numpy as np
import pandas as pd

N_DOCS = 3000
N_BUCKETS = 16
FIXED_DOCS = 16
CRASH_AFTER = 14
ENGINE_MEDIA = 400  # engine sample: first media rows of the window
ENGINE_TEXT_DOCS = 100  # engine sample: text spans of the first docs
PHASES = ("count", "stage_out", "reassemble_write", "commit", "metrics")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def input_bytes(in_dir: str) -> int:
    return sum(
        os.path.getsize(os.path.join(in_dir, f))
        for f in ("documents.parquet", "media.parquet")
    )


def manifest_files(out_dir: str) -> int:
    mdir = os.path.join(out_dir, "manifest")
    return sum(1 for f in os.listdir(mdir) if f.endswith(".json"))


def run_job(spark, tracer, in_dir: str, out_dir: str, run_id: str, name: str = "job",
            **kw) -> tuple[float, dict]:
    from text_extraction_spark.pipeline import extract_corpus

    with tracer.span(name, run_id=run_id) as sp:
        t0 = time.monotonic()
        res = extract_corpus(spark, in_dir, out_dir, run_id=run_id, n_buckets=N_BUCKETS, **kw)
        wall = time.monotonic() - t0
    sp["result"] = res
    return wall, res


def check_output(spark, tracer, in_dir: str, out_dir: str, n_docs: int) -> list[str]:
    """Problems with one finished job's output (empty list = correct):
    golden mismatches, missing or duplicated documents, manifest not
    compacted to one file."""
    from pyspark.sql import functions as F

    from text_extraction_spark.pipeline import compare_golden

    with tracer.span("check"):
        extracted = spark.read.parquet(os.path.join(out_dir, "extracted"))
        golden = spark.read.parquet(os.path.join(in_dir, "golden.parquet"))
        bad = compare_golden(extracted, golden).count()
        rows, distinct = extracted.agg(F.count("*"), F.countDistinct("doc_id")).first()
    problems = []
    if bad:
        problems.append(f"{bad} golden mismatches")
    if rows != n_docs or distinct != n_docs:
        problems.append(f"{rows} rows / {distinct} docs, expected {n_docs}")
    n_manifest = manifest_files(out_dir)
    if n_manifest != 1:
        problems.append(f"{n_manifest} manifest files")
    return problems


def spans_summary(out_dir: str, run_id: str) -> dict:
    """sum(proc_ms) by kind and the media span count, from the job's own
    span-level lineage table."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(out_dir, "spans", f"run_id={run_id}"),
                      columns=["kind", "proc_ms"])
    out = {"media_spans": 0}
    for kind in ("media", "text"):
        sel = t.filter(pc.equal(t["kind"], kind))
        out[f"proc_s.{kind}"] = (pc.sum(sel["proc_ms"]).as_py() or 0.0) / 1000.0
        if kind == "media":
            out["media_spans"] = sel.num_rows
    return out


# ------------------------------------------------------------ event log


_WRITE_TARGET = re.compile(
    r"\(\d+\) Execute InsertIntoHadoopFsRelationCommand\nInput: [^\n]*\nArguments: ([^,\s]+)"
)


def classify(plan: str) -> str | None:
    """Job phase of one SQL execution, from the paths in its physical plan.
    Writes are classified by their target; of the reads, the metrics total
    scans the span table and the resume-filtered count scans only
    documents.parquet."""
    m = _WRITE_TARGET.search(plan)
    if m is not None:
        target = m.group(1)
        if "/_staging_" in target:
            return "reassemble_write"
        if "/spans/run_id=" in target:
            return "stage_out"
        if target.rstrip("/").endswith("/metrics"):
            return "metrics"
        return None
    if "/spans/run_id=" in plan:
        return "metrics"
    if "documents.parquet" in plan:
        return "count"
    return None


def job_phases(log, start: float, end: float, wall: float) -> dict:
    """Per-phase walls and task totals for one extract_corpus call whose
    span is [start, end]."""
    execs: dict[str, list[dict]] = {p: [] for p in PHASES}
    for x in log.execs_in_window(start, end):
        p = classify(x["plan"])
        if p is not None:
            execs[p].append(x)
    out: dict = {"execs": execs}
    for p in PHASES:
        xs = execs[p]
        if p == "commit":
            if execs["reassemble_write"] and execs["metrics"]:
                s = max(x["end"] for x in execs["reassemble_write"])
                e = min(x["start"] for x in execs["metrics"])
                out[p] = {"wall_s": max(0.0, e - s), **log.stage_stats(set())}
            continue
        if not xs:
            continue
        stats = log.stage_stats(log.stages_of_execs(x["id"] for x in xs))
        out[p] = {"wall_s": max(x["end"] for x in xs) - min(x["start"] for x in xs), **stats}
    covered = sum(out[p]["wall_s"] for p in PHASES if p in out)
    out["unattributed_frac"] = 1.0 - covered / wall
    return out


def media_useful_frac(log, phases: dict, media_spans: int) -> float:
    scanned = log.scan_rows((x["id"] for x in phases["execs"]["stage_out"]), "media.parquet")
    return media_spans / scanned if scanned else 0.0


# --------------------------------------------------------------- probes


def engine_sample(in_dir: str) -> dict:
    """Single-process run of the engine's public stage functions over a
    fixed sample of this workload's own inputs, per media kind."""
    import pyarrow.parquet as pq

    from text_extraction_spark.engine.boilerplate import extract_main
    from text_extraction_spark.engine.imageproc import (
        adaptive_threshold_batch,
        decode_image,
        denoise_batch,
    )
    from text_extraction_spark.engine.ocr import extract_table_from_mask, normalize_text
    from text_extraction_spark.engine.pdfproc import extract_pdf_text

    media = pq.read_table(os.path.join(in_dir, "media.parquet")).slice(0, ENGINE_MEDIA)
    kt = pq.read_table(os.path.join(in_dir, "kinds.parquet"))
    kinds = dict(zip(kt.column("media_ref").to_pylist(), kt.column("kind").to_pylist()))
    ms: dict[str, list[float]] = {}

    def timed(key: str, fn, *args):
        t0 = time.perf_counter()
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 — a failing item is a null output
            return None
        finally:
            ms.setdefault(key, []).append((time.perf_counter() - t0) * 1000.0)

    outs: list = []
    grays: list[tuple[str, np.ndarray]] = []
    for r in media.to_pylist():
        kind = kinds[r["media_ref"]]
        if kind == "pdf":
            outs.append(timed("pdf", extract_pdf_text, r["data"]) or None)
            continue
        g = timed("decode", decode_image, r["data"], r["width"], r["height"], r["fmt"])
        if g is None:
            outs.append(None)
        else:
            grays.append((kind, g))
    groups: dict[tuple, list[int]] = {}
    for i, (_, g) in enumerate(grays):
        groups.setdefault(g.shape, []).append(i)
    masks: dict[int, np.ndarray] = {}
    t0 = time.perf_counter()
    for idxs in groups.values():
        stack = denoise_batch(adaptive_threshold_batch(np.stack([grays[i][1] for i in idxs])))
        masks.update(zip(idxs, stack))
    mask_ms = (time.perf_counter() - t0) * 1000.0
    for i, (kind, _) in enumerate(grays):
        outs.append(timed(f"grid.{kind}", extract_table_from_mask, masks[i]) or None)

    docs = pq.read_table(os.path.join(in_dir, "documents.parquet"), columns=["spans"])
    texts = [s["text"] for spans in docs.column("spans").to_pylist()[:ENGINE_TEXT_DOCS]
             for s in spans if s["kind"] == "text"]
    for s in texts:
        timed("text", lambda h: normalize_text(extract_main(h)), s)

    def mean(key: str) -> float:
        v = ms.get(key)
        return statistics.fmean(v) if v else 0.0

    return {
        "engine.decode_ms": mean("decode"),
        "engine.mask_ms": mask_ms / len(grays) if grays else 0.0,
        **{f"engine.grid_ms.{k}": mean(f"grid.{k}") for k in ("plain", "embedded", "skewed")},
        "engine.pdf_ms": mean("pdf"),
        "engine.text_ms": mean("text"),
        "engine.media_null_frac": sum(o is None for o in outs) / len(outs) if outs else 0.0,
    }


def udf_probe(spark, tracer, in_dir: str) -> dict:
    """Arrow/UDF boundary: a pass-through pandas UDF with the real UDF's
    signature and return type against the real timed UDF, over the same
    columns at the same partitioning, noop sink. Media runs at scan
    partitioning; text after the job's salted span repartition."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    from text_extraction_spark.pipeline import (
        extract_media_udf_timed,
        extract_text_udf_timed,
        load_corpus,
        load_media,
    )

    ret = StructType([StructField("out_text", StringType()), StructField("proc_ms", DoubleType())])

    @F.pandas_udf(ret)
    def media_passthrough(
        it: Iterator[tuple[pd.Series, pd.Series, pd.Series, pd.Series]],
    ) -> Iterator[pd.DataFrame]:
        for _w, _h, _f, data in it:
            yield pd.DataFrame({"out_text": pd.Series([None] * len(data), dtype="object"),
                                "proc_ms": 0.0})

    @F.pandas_udf(ret)
    def text_passthrough(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for texts in it:
            yield pd.DataFrame({"out_text": pd.Series([None] * len(texts), dtype="object"),
                                "proc_ms": 0.0})

    media = load_media(spark, in_dir)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    text = (
        load_corpus(spark, in_dir)
        .select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "text")
        .select("doc_id", F.col("s.offset").alias("offset"), F.col("s.text").alias("text"))
        .repartition(n_parts, F.xxhash64("doc_id", "offset"))
    )
    legs = {
        "udf.media.arrow_s": media.select(media_passthrough("width", "height", "fmt", "data").alias("r")),
        "udf.media.extract_s": media.select(extract_media_udf_timed("width", "height", "fmt", "data").alias("r")),
        "udf.text.arrow_s": text.select(text_passthrough("text").alias("r")),
        "udf.text.extract_s": text.select(extract_text_udf_timed("text").alias("r")),
    }
    walls = {}
    for k, df in legs.items():
        with tracer.span(k):
            t0 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            walls[k] = time.monotonic() - t0
    return walls


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path
