"""SparkSession builder with scale-tuned defaults (SURVEY.md §4).

Single place every entrypoint (tests, jobs, bench, __spark_entry__)
gets its session from, so physical-execution knobs live in one module:

* UTC session timezone — DuckDB oracle timestamps are µs/UTC
  (SURVEY §7 hazard 5).
* Arrow batch size 1024 — media rows carry ~10–50 KB binary payloads;
  the default 10k-row batches would pin hundreds of MB per Python
  worker at scale (SURVEY §4 "vectorized Python execution").
* AQE on (skew-join splitting + partition coalescing are free for the
  relational plane; the UDF stage still needs explicit A4 salting
  because Python-UDF cost is opaque to the optimizer — SURVEY §2 note).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SHUFFLE_PARTITIONS = 32
# measured at local[32] over the 60k media corpus: 256→6.85s,
# 1024→7.07s, 4096→7.84s (smaller batches pipeline the JVM⇄Python
# producer/consumer better for ~12KB binary rows); 512 balances that
# against per-batch overhead on thin text rows
ARROW_MAX_RECORDS_PER_BATCH = 512


def get_spark(
    master: str | None = None,
    app_name: str = "text-extraction-spark",
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    # Python workers deserialize UDFs by importing this package — make the
    # package root visible to them regardless of the driver script's cwd
    # (the library-use equivalent of `spark-submit --py-files`).
    pp = os.environ.get("PYTHONPATH", "")
    if _PKG_ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{_PKG_ROOT}{os.pathsep}{pp}" if pp else _PKG_ROOT
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # Round 7 (guide §3.1/§9): let the planner pick shuffled-hash
        # over sort-merge when its size conditions hold — measured at
        # sf1: q04 1.58→1.35 s, q08 1.95→1.55 s, q05 0.38→0.30 s, rest
        # flat. Results are join-strategy-invariant (pinned by the
        # oracle sweep); at scale AQE's advisory partition sizing keeps
        # build sides bounded, and sort-merge remains available where
        # the conditions don't hold.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        # Media decode runs at scan partitioning (pipeline.py): split size
        # is the decode-parallelism unit. 32 MB ≈ a few thousand images
        # per task — fine-grained enough to keep every core busy locally
        # and a sane work quantum on a 1000-executor cluster too.
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        # Round 7: openCostInBytes stays at its 4 MB default. A 128 KB
        # override was tried to raise small-table scan split counts, but
        # every fixture table is written as 1–6 parquet row groups and a
        # reader cannot split inside a row group, so the extra splits
        # were EMPTY tasks — measured at sf1 as +0.1–0.3 s of pure
        # scheduling overhead on every scan-bound query (q01 0.42→0.19 s,
        # q10 0.62→0.47 s, d67 0.83→0.59 s after the revert). Row-group-
        # bound parallelism is instead restored where it matters by the
        # relational.t_spread round-robin spread, which is row-group- and
        # byte-gated per table.
        .config("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
    )
    if master:
        b = b.master(master)
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def cache_root() -> str:
    """Per-user cache dir for generated fixtures / bucketed tables / the
    worker py-files zip. NOT a bare predictable /tmp path: the dir is
    uid-suffixed, created 0700, and ownership + group/other-write bits
    are verified on every use — a pre-created dir or file planted by
    another local user fails loudly instead of being executed/served."""
    import stat
    import tempfile

    d = os.path.join(tempfile.gettempdir(), f"tes_cache_{os.getuid()}")
    os.makedirs(d, mode=0o700, exist_ok=True)
    st = os.stat(d)
    if st.st_uid != os.getuid() or (st.st_mode & (stat.S_IWGRP | stat.S_IWOTH)):
        raise RuntimeError(
            f"refusing unsafe cache dir {d}: uid={st.st_uid} mode={oct(st.st_mode)}"
        )
    return d


def cached_dir(name: str, build) -> str:
    """Return `cache_root()/name`, built once by `build(tmp)`.

    The one publishing protocol for every generated cache directory; a
    reader trusts a directory only through its `_COMPLETE` marker:

    * marker present → return at once, `build` is not called;
    * otherwise `build(tmp)` fills a fresh private
      `mkdtemp(prefix=f".{name}_build_")` under the cache root, the
      marker is written into tmp, and tmp is renamed onto `name` —
      atomic, so no reader ever sees a half-written directory;
    * a markerless `name` is a crashed build's leftover and is deleted
      first, re-checking the marker right before the delete so a
      concurrent builder's just-renamed directory is never clobbered;
    * a rename lost to a concurrent builder deletes tmp and returns the
      winner's directory — or raises if that holds no marker;
    * a `build` that raises leaves no tmp behind; the error propagates.

    `name` carries a content version: bump it whenever the builder's
    output changes, or an old cache keeps being served."""
    import shutil
    import tempfile

    root = cache_root()
    d = os.path.join(root, name)
    marker = os.path.join(d, "_COMPLETE")
    if os.path.exists(marker):
        return d
    tmp = tempfile.mkdtemp(prefix=f".{name}_build_", dir=root)
    try:
        build(tmp)
        with open(os.path.join(tmp, "_COMPLETE"), "w") as fh:
            fh.write("ok")
        if os.path.isdir(d) and not os.path.exists(marker):
            shutil.rmtree(d, ignore_errors=True)
        try:
            os.rename(tmp, d)
        except OSError:
            if not os.path.exists(marker):
                raise
        return d
    finally:
        # gone already after a won rename
        shutil.rmtree(tmp, ignore_errors=True)


def _reset_udf_judf_caches() -> None:
    """pyspark caches each UserDefinedFunction's JVM handle forever
    (`_judf_placeholder`), and that handle embeds the *creating*
    SparkContext's Python-metrics accumulator. Module-level UDFs reused
    after a session stop/start therefore ship a stale accumulator id —
    every task completion then logs a DAGScheduler.updateAccumulators
    stack trace (benign but alarming; seen in BENCH_r01.json). Clearing
    the placeholders on stop makes the next use re-wrap against the live
    context."""
    import sys

    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("text_extraction_spark"):
            continue
        for obj in vars(mod).values():
            # F.pandas_udf returns a wrapper carrying `_unwrapped` → the
            # real UserDefinedFunction; plain UDF objects carry the
            # placeholder themselves.
            target = getattr(obj, "_unwrapped", obj)
            if hasattr(target, "_judf_placeholder"):
                target._judf_placeholder = None


def stop_active() -> None:
    """Stop any active session (tests/bench switch master between
    local[N]) and drop cross-session UDF JVM handles."""
    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    _reset_udf_judf_caches()
