#!/usr/bin/env python
"""Round-6 scale evidence (BENCH/BASELINE.md), one op group per run.

Groups (each replaces one of the round-6 scripts, same protocol and the
same JSON lines):

  ivf2         ivf2 (two-level IVF) on a 512k-vector derived store —
               past the _IVF2_THRESHOLD (~344k) where the flat trainer's
               k cap would let occupancy (and candidate volume) go
               quadratic again. Wall time, linearity vs the measured sf1
               flat-path point, and recall@3 of the 50-query evaluation
               set vs a distributed brute-force truth.
               (was: scale_run_r6.py ivf2)
  d26          d26 (embedding dedup) at sf1 + sf10, verified inside the
               LSH bucket grid — target <= ~1.2x linear at the second
               decade. One warm-up run at sf0.1 precedes both decades.
               Each decade also reports its connected-components rounds
               (_cc_last_rounds) and its Spark job count (one job group
               per decade).
               (was: scale_run_r6.py d26)
  d16          d16 (PII scrub) at sf10 with the candidate prefilter —
               target meaningfully below the 54.1 s round-5 record.
               (was: scale_run_r6.py d16)
  r6           ivf2, d26 and d16 in turn.
               (was: scale_run_r6.py [all])
  incremental  the incremental-curation ops d53–d66 (d56 is fixture-
               based and excluded), cold single shots at sf0.1 → sf1 →
               sf10 with per-decade linearity.
               (was: scale_run_r6s3.py)
  index-sq8    the corpus-index / statistics / SQ8 ops d67–d72 (d73 is
               fixture-based and excluded), same decade protocol.
               (was: scale_run_r6s4.py)
  ivf2-1m      ivf2 on a 1,024k-vector derived store — one doubling past
               the 512k run. (was: scale_run_r6s5.py)

Usage: python tools/scale_run.py GROUP [op-prefix ...]
The op prefixes filter the decade groups (incremental, index-sq8).
Prints one JSON line per measurement. Run on a quiet host (no
concurrent Spark jobs) — these numbers go into the scale record.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from text_extraction_spark.scaledata import _BASE as SF01  # noqa: E402  (the sf0.1 test data)

INCREMENTAL_OPS = (
    "d53_chunk_sliding",
    "d54_incremental_dedup",
    "d55_quality_classifier_apply",
    "d57_token_budget_sample",
    "d58_snapshot_diff",
    "d59_stream_ingest_dedup",
    "d60_source_overlap",
    # second batch (same session): ordered-selection primitives
    "d61_stratified_split",
    "d62_curriculum_length",
    "d63_mixture_materialize",
    # third batch (same session): audit/pruning/manifest
    "d64_duplication_exposure",
    "d65_source_quality_prune",
    "d66_batch_manifest",
)
INDEX_SQ8_OPS = (
    "d67_url_dedup",
    "d68_cluster_representative",
    "d69_inverted_index",
    "d70_bigram_pmi",
    "d71_vocab_entropy",
    "d72_ann_sq8",
)


def big_embeddings(copies: int = 256) -> str:
    """512k-vector store derived from sf0.1 embeddings (2k rows): vec_id
    shifted per copy, seeded N(0, 0.02) noise per copy (the scaledata
    rule — cluster structure survives, exact duplication doesn't).
    Embeddings-only: deriving every table at 256x just to scale one
    store would cost ~150M lineitem rows nobody reads."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from text_extraction_spark.conf import cached_dir

    def build(tmp: str) -> None:
        src = pq.read_table(os.path.join(SF01, "embeddings.parquet"))
        n0 = len(src)
        stride = int(pa.compute.max(src.column("vec_id")).as_py()) + 1
        base = np.array(src.column("embedding").to_pylist(), dtype=np.float32)
        ids0 = np.array(src.column("vec_id").to_pylist(), dtype=np.int64)
        labels = src.column("label")
        pieces = []
        for k in range(copies):
            emb = base
            if k > 0:
                rng = np.random.Generator(np.random.PCG64(1000 + k))
                emb = base + rng.normal(0.0, 0.02, base.shape).astype(np.float32)
            pieces.append(
                pa.table(
                    {
                        "vec_id": pa.array(ids0 + k * stride, pa.int64()),
                        "label": labels,
                        "embedding": pa.array(
                            [row.tolist() for row in emb], pa.list_(pa.float32())
                        ),
                    }
                )
            )
        pq.write_table(
            pa.concat_tables(pieces),
            os.path.join(tmp, "embeddings.parquet"),
            row_group_size=1 << 18,
        )
        print(f"built {copies}x store ({n0 * copies} vecs)", file=sys.stderr)

    return cached_dir(f"emb_store_{copies}x_v1", build)


def _spark(shuffle: int = 128):
    from text_extraction_spark.conf import get_spark, stop_active

    stop_active()
    s = get_spark("local[32]", app_name="scale-run", shuffle_partitions=shuffle)
    s.sparkContext.setLogLevel("ERROR")
    return s


def run_ivf2(copies: int = 256, label: str = "d15/ivf2 two-level") -> None:
    from pyspark.sql import functions as F

    from text_extraction_spark import dataops as D

    spark = _spark()
    store = big_embeddings(copies=copies)
    e = spark.read.parquet(os.path.join(store, "embeddings.parquet"))
    stats = D.emb_stats(e)
    assert stats[0] > D._IVF2_THRESHOLD, stats
    # warm-up on a slice (JIT + Python worker pool), discarded
    D.ivf2_topk(e.limit(20000)).write.format("noop").mode("overwrite").save()
    t0 = time.monotonic()
    res = D.ivf2_topk(e, stats=stats)
    res.write.format("noop").mode("overwrite").save()
    wall = time.monotonic() - t0
    # recall@3 of the 50-query eval set vs distributed brute force
    hits = D.ivf2_topk(e, stats=stats).filter(F.col("q_id") < D._RECALL_QUERIES)
    qv = e.filter(F.col("vec_id") < D._RECALL_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    j = e.crossJoin(F.broadcast(qv)).filter(F.col("vec_id") != F.col("q_id"))
    sims = j.select(
        "q_id", "vec_id",
        F.round(D._cosine(F.col("embedding"), F.col("qe")), 4).alias("cosine"),
    )
    truth = D._per_query_topk(sims, 3).select("q_id", "vec_id")
    n_hit = truth.join(hits.select("q_id", "vec_id"), ["q_id", "vec_id"]).count()
    recall = n_hit / (3 * D._RECALL_QUERIES)
    # linearity vs the round-5 sf1 flat-path measurement (22.3 s @ 20k)
    sf1_point = 22.3
    lin = wall / (stats[0] / 20_000 * sf1_point)
    print(json.dumps({
        "op": label,
        "n_vecs": stats[0],
        "wall_s": round(wall, 1),
        "linearity_vs_sf1_flat": round(lin, 2),
        "recall_at_3": round(recall, 3),
    }))


def run_d26() -> None:
    from text_extraction_spark import dataops as D
    from text_extraction_spark.scaledata import sf1_dir

    spark = _spark()
    sc = spark.sparkContext
    fn = D.QUERIES["d26_embedding_dedup_pipeline"]
    # one warm-up at sf0.1: d26's connected-components rounds run when the
    # frame is built, so a per-decade warm-up would be a full hidden run
    fn(spark, SF01).write.format("noop").mode("overwrite").save()
    out, layer = {}, {}
    for tag, sf_dir in (("sf1", sf1_dir()), ("sf10", sf1_dir(copies=100))):
        group = f"scale-run-d26-{tag}"
        sc.setJobGroup(group, group)
        t0 = time.monotonic()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        out[tag] = round(time.monotonic() - t0, 1)
        layer[f"{tag}_cc_rounds"] = D._cc_last_rounds
        layer[f"{tag}_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
    print(json.dumps({
        "op": "d26 embedding dedup (bucket-grid verify)",
        "sf1_wall_s": out["sf1"],
        "sf10_wall_s": out["sf10"],
        "decade_linearity": round(out["sf10"] / (10 * out["sf1"]), 2),
        **layer,
    }))


def run_d16() -> None:
    from text_extraction_spark import dataops as D
    from text_extraction_spark.scaledata import sf1_dir

    spark = _spark()
    sf10 = sf1_dir(copies=100)
    fn = D.QUERIES["d16_pii_scrub"]
    fn(spark, SF01).write.format("noop").mode("overwrite").save()  # warm-up
    t0 = time.monotonic()
    fn(spark, sf10).write.format("noop").mode("overwrite").save()
    print(json.dumps({
        "op": "d16 PII scrub (prefiltered)",
        "sf10_wall_s": round(time.monotonic() - t0, 1),
        "round5_record_s": 54.1,
    }))


def run_decades(ops: tuple[str, ...], only: list[str]) -> None:
    """Each op as a cold single shot (no warm-up) at sf0.1 → sf1 → sf10,
    with the wall ratio of each decade to 10x the previous one."""
    from text_extraction_spark import dataops
    from text_extraction_spark.scaledata import sf1_dir

    spark = _spark(shuffle=64)
    dirs = [("sf0.1", SF01), ("sf1", sf1_dir()), ("sf10", sf1_dir(copies=100))]

    def run(name: str, sf: str) -> float:
        t0 = time.monotonic()
        df = dataops.QUERIES[name](spark, sf)
        df.write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0

    for name in ops:
        if only and not any(name.startswith(p) for p in only):
            continue
        rec: dict = {"op": name}
        prev = None
        for tag, d in dirs:
            w = run(name, d)
            rec[tag] = round(w, 2)
            if prev is not None:
                rec[f"linearity_{tag}"] = round(w / (10 * prev), 2)
            prev = w
        print(json.dumps(rec), flush=True)


GROUPS = {
    "ivf2": lambda only: run_ivf2(),
    "d26": lambda only: run_d26(),
    "d16": lambda only: run_d16(),
    "r6": lambda only: (run_ivf2(), run_d26(), run_d16()),
    "incremental": lambda only: run_decades(INCREMENTAL_OPS, only),
    "index-sq8": lambda only: run_decades(INDEX_SQ8_OPS, only),
    "ivf2-1m": lambda only: run_ivf2(copies=512, label="d15/ivf2 two-level @1M"),
}


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__.split("\n\n", 1)[0],
        epilog=__doc__.split("\n\n", 1)[1],
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    ap.add_argument("group", choices=GROUPS)
    ap.add_argument("only", nargs="*", metavar="op-prefix")
    args = ap.parse_args()
    GROUPS[args.group](args.only)
    from text_extraction_spark.conf import stop_active

    stop_active()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
