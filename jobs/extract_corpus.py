#!/usr/bin/env python
"""spark-submit entrypoint for the extraction pipeline (SURVEY §6):

  tools/make_dist.sh
  spark-submit --py-files dist/engine.zip jobs/extract_corpus.py \\
      --input /path/to/corpus --output /path/to/out --run-id run1 \\
      [--buckets 64] [--salt-partitions N]  # default N: task slots

The corpus dir must contain documents.parquet + media.parquet
(input_hint shape [B:15]); outputs: extracted/ (bucket-partitioned),
metrics/, manifest/ — resumable, re-run the same command after a crash.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument(
        "--salt-partitions",
        type=int,
        default=None,
        help="text-path salt partitions (default: the number of task slots)",
    )
    ap.add_argument("--master", default=None, help="override (tests/local)")
    args = ap.parse_args()

    # With --py-files the zip is already on the Python path of driver and
    # executors; the local fallback import covers bare `python jobs/...`.
    try:
        from text_extraction_spark.conf import get_spark
        from text_extraction_spark.pipeline import extract_corpus
    except ImportError:
        import os
        import sys

        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        from text_extraction_spark.conf import get_spark
        from text_extraction_spark.pipeline import extract_corpus

    spark = get_spark(args.master, app_name=f"extract-corpus-{args.run_id}")
    res = extract_corpus(
        spark,
        args.input,
        args.output,
        run_id=args.run_id,
        n_buckets=args.buckets,
        salt_partitions=args.salt_partitions,
    )
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
