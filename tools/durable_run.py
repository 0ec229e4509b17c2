#!/usr/bin/env python
"""Durable-scale extraction run (BENCH/BASELINE.md scale-trend record).

Generates (cached) an N-doc interleaved corpus, runs the REAL resumable
extract_corpus job (staged bucketed write + atomic rename + manifest
commit + compaction) on local[CPUS], then times a resume no-op over the
committed manifest. Prints ONE JSON line.

Usage: python tools/durable_run.py [--docs 1000000] [--buckets 256]
       [--cpus 32] [--fail-after N]   (crash-replay exercise)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def scale_corpus(n_docs: int) -> str:
    from text_extraction_spark.conf import cached_dir
    from text_extraction_spark.corpus import write_corpus_parquet
    from text_extraction_spark.extraction_queries import _CORPUS_VERSION

    def build(tmp: str) -> None:
        t0 = time.monotonic()
        write_corpus_parquet(tmp, n_docs, with_golden=False)
        print(f"corpus generated in {time.monotonic() - t0:.1f}s", file=sys.stderr)

    return cached_dir(f"scale_corpus_{_CORPUS_VERSION}_{n_docs}", build)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--buckets", type=int, default=256)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--fail-after", type=int, default=None)
    ap.add_argument(
        "--resume", action="store_true",
        help="keep existing output and resume it (skip the fresh-start rmtree)",
    )
    args = ap.parse_args()

    from text_extraction_spark.conf import cache_root, get_spark, stop_active
    from text_extraction_spark.pipeline import extract_corpus

    corpus = scale_corpus(args.docs)
    out = os.path.join(cache_root(), f"durable_out_{args.docs}_{args.buckets}")
    if not args.resume:
        # fresh start only — re-invoking with --resume preserves the
        # partial state a crash-replay needs (round-6 ADVICE fix)
        import shutil

        shutil.rmtree(out, ignore_errors=True)
    stop_active()
    spark = get_spark(
        f"local[{args.cpus}]",
        app_name=f"durable-{args.docs}",
        shuffle_partitions=4 * args.cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.monotonic()
    crashed = False
    try:
        res = extract_corpus(
            spark, corpus, out, run_id="d1", n_buckets=args.buckets,
            _fail_after_buckets=args.fail_after,
        )
    except RuntimeError:
        # the simulated --fail-after crash; the resume leg below IS the
        # exercise — it must complete the job from the partial manifest
        # (round-6 ADVICE fix: this used to propagate and kill the tool)
        if args.fail_after is None:
            raise
        crashed = True
        res = {"buckets_committed": None, "spans_out": None}
    wall = time.monotonic() - t0
    t1 = time.monotonic()
    # resume with the SAME n_buckets — extract_corpus now asserts the
    # manifest's recorded count matches (round-6 ADVICE fix: the old
    # default-16 resume only worked because {0..15} ⊂ {0..255})
    res2 = extract_corpus(spark, corpus, out, run_id="d2", n_buckets=args.buckets)
    resume_noop_s = time.monotonic() - t1
    from text_extraction_spark.fsio import FS
    from text_extraction_spark.pipeline import _manifest_dir

    manifest_files = len(FS(spark, out).listdir(_manifest_dir(out)))
    # end-to-end completeness: the committed table must hold every doc
    # exactly once regardless of crash/resume path (round 6)
    extracted_docs = spark.read.parquet(os.path.join(out, "extracted")).count()
    stop_active()
    print(
        json.dumps(
            {
                "docs": args.docs,
                "buckets": args.buckets,
                "cpus": args.cpus,
                "wall_s": round(wall, 1),
                "docs_per_sec": round(args.docs / wall, 1),
                "buckets_committed": res["buckets_committed"],
                "spans_out": res["spans_out"],
                **(
                    {
                        "simulated_crash": True,
                        "resume_recommitted": res2["buckets_committed"],
                        "resume_spans_out": res2.get("spans_out"),
                    }
                    if crashed
                    else {}
                ),
                "resume_noop_s": round(resume_noop_s, 2),
                "resume_skipped": res2["skipped"],
                "manifest_files_after_completion": manifest_files,
                "extracted_docs": extracted_docs,
                "extracted_docs_match": extracted_docs == args.docs,
            }
        )
    )


if __name__ == "__main__":
    main()
