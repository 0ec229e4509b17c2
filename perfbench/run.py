"""Layered benchmark of the extraction job and the curation query plane.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0

Run from the repository root. One client runs one operation at a time
(closed loop) on one ``local[4]`` session built by ``conf.get_spark`` with
its shipped defaults, for ``--seconds`` of timed operations. Outputs are
checked outside the timed region: every job of extract_mixed, and every
query of curate on its check pass.

--trace 0 prints the end-to-end metrics; --trace 1 re-runs the workload
with an event log and benchmark-side spans and prints the per-layer
metrics (see perfbench/README.md). The last stdout line is the result:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.

Everything the run writes goes under .bench_work/ in the repository root.
Every process the run starts, directly or not, has ended before it
prints the result.
"""

from __future__ import annotations

import time

T_PROC = time.monotonic()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from tracing import (  # noqa: E402
    EventLog,
    RssSampler,
    Tracer,
    descendants,
    eventlog_conf,
    proc_tree_usage,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
RUN_DIR = os.path.join(WORK, "runs", str(os.getpid()))  # job outputs, event logs; removed at exit
MASTER = "local[4]"
WORKLOADS = ("extract_mixed", "curate")
PR_SET_CHILD_SUBREAPER = 36
REAP_GRACE_S = 30.0  # time descendants get to exit on their own before SIGKILL


def _scratch_env() -> None:
    """Point every temp/scratch location of Python, Spark and the JVM
    into WORK, before anything launches a JVM."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # -UsePerfData: the JVM's hsperfdata file ignores java.io.tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, pp) if p)
    sys.path.insert(0, ROOT)


def _session(extra: dict | None = None):
    from text_extraction_spark.conf import get_spark

    spark = get_spark(MASTER, app_name="perfbench", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()  # first warm-up operation
    return spark


def _stop_session() -> None:
    from text_extraction_spark.conf import stop_active

    stop_active()


def _stop_jvm() -> None:
    """Stop the session, then the driver JVM it runs in, and wait for the
    JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        _stop_session()
    finally:
        # the JVM goes down even when stopping the session raised
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=120)


def _adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts, so a
    process orphaned on the way out (the Python workers' daemon once the
    JVM exits) stays its descendant and ``_reap`` waits for it too."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _reap() -> None:
    """Wait until no descendant of this process is left, reaping the ones
    that re-parented here; SIGKILL whatever still runs after REAP_GRACE_S."""
    from multiprocessing import resource_tracker

    # the input pool's semaphore tracker ignores SIGTERM and would only
    # exit after this process does; closing its pipe ends it now
    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + REAP_GRACE_S
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        left = descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline + REAP_GRACE_S:
            raise RuntimeError(f"processes {left} survived SIGKILL")
        if time.monotonic() > deadline:
            for pid in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)


class Loop:
    """Closed loop: run ``op`` until the timed operations add up to
    ``seconds``; each operation's check runs untimed after it. Walls of
    operations that fail their check still count; the failure is reported
    through ``failed`` and the result's ``correct``."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.walls: list[float] = []
        self.cpus: list[float] = []
        self.problems: list[str] = []

    def run(self, seconds: float, op, check) -> None:
        spent = 0.0
        while spent < seconds:
            self.attempted += 1
            t0 = time.monotonic()
            cpu0 = proc_tree_usage(os.getpid())[1]
            try:
                wall, ctx = op()
            except Exception:  # noqa: BLE001 — a raising operation counts as failed
                traceback.print_exc()
                self.failed += 1
                spent += time.monotonic() - t0
                continue
            spent += wall
            self.walls.append(wall)
            self.cpus.append(proc_tree_usage(os.getpid())[1] - cpu0)
            problems = check(ctx)
            if problems:
                self.failed += 1
                self.problems += problems
                print(f"check failed: {problems}", file=sys.stderr)
        if not self.walls:
            raise RuntimeError("every operation raised")


# ------------------------------------------------------------ extract


def extract_workload(args, spark, tracer, m: dict) -> Loop:
    import extract as X
    import inputs

    in_dir = inputs.extract_corpus_dir(os.path.join(WORK, "inputs"), args.seed, X.N_DOCS)
    fixed_dir = inputs.extract_corpus_dir(os.path.join(WORK, "inputs"), args.seed, X.FIXED_DOCS)
    n_docs = json.load(open(os.path.join(in_dir, "input.json")))["n_docs"]
    in_bytes = X.input_bytes(in_dir)
    seq = iter(range(10**6))
    amp: list[float] = []
    results: dict[str, dict] = {}
    summaries: dict[str, dict] = {}

    def op():
        rid = f"r{next(seq)}"
        out = X.reset_dir(os.path.join(RUN_DIR, rid))
        wall, res = X.run_job(spark, tracer, in_dir, out, rid)
        results[rid] = res
        return wall, (out, rid)

    def check(ctx):
        out, rid = ctx
        problems = X.check_output(spark, tracer, in_dir, out, n_docs)
        amp.append(X.dir_bytes(out) / in_bytes)
        if args.trace:
            summaries[rid] = X.spans_summary(out, rid)
        X.reset_dir(out)
        return problems

    # warm-up, untimed: the first full-size job of a session runs ~1.5x
    # slower (Python workers start and import the engine, the JIT warms)
    X.run_job(spark, tracer, in_dir, X.reset_dir(os.path.join(RUN_DIR, "warm")), "warm")
    loop = Loop()
    with RssSampler() as rss:
        loop.run(args.seconds, op, check)
    untraced = m["op_wall_s"] = statistics.median(loop.walls)
    m["run.op_cpu_s"] = statistics.median(loop.cpus)
    m["run.peak_rss_mb"] = rss.peak / 2**20
    if not args.trace:
        return loop

    # ---- traced: same session defaults plus an event log, spans kept;
    # the 16-document jobs warm the restarted session
    log_dir = X.reset_dir(os.path.join(RUN_DIR, "eventlog"))
    _stop_session()
    spark = _session(eventlog_conf(log_dir))
    fixed = []
    for i in range(3):
        fixed.append(X.run_job(spark, tracer, fixed_dir,
                               X.reset_dir(os.path.join(RUN_DIR, f"fixed{i}")), f"fixed{i}",
                               name="job.fixed")[0])
    traced_loop = Loop()
    first_traced = len(tracer.spans)
    # about three jobs: the per-phase figures are medians over them
    traced_loop.run(3 * args.seconds, op, check)
    loop.attempted += traced_loop.attempted
    loop.failed += traced_loop.failed
    loop.problems += traced_loop.problems

    # crash after CRASH_AFTER of N_BUCKETS commits, then resume
    crash = X.reset_dir(os.path.join(RUN_DIR, "crash"))
    try:
        X.run_job(spark, tracer, in_dir, crash, "crash", name="job.crash",
                  _fail_after_buckets=X.CRASH_AFTER)
        loop.problems.append("simulated crash did not raise")
    except RuntimeError:  # the simulated crash
        pass
    from text_extraction_spark.pipeline import read_manifest_state

    reads = []
    for _ in range(3):
        with tracer.span("manifest.read"):
            t0 = time.monotonic()
            read_manifest_state(spark, crash)
            reads.append(time.monotonic() - t0)
    X.run_job(spark, tracer, in_dir, crash, "resume", name="job.resume")
    loop.attempted += 1
    resume_problems = X.check_output(spark, tracer, in_dir, crash, n_docs)
    if resume_problems:
        loop.failed += 1
        loop.problems += resume_problems
    resume_summary = X.spans_summary(crash, "resume")
    files_after = X.manifest_files(crash)
    udf = X.udf_probe(spark, tracer, in_dir)
    _stop_session()

    log = EventLog.load_dir(log_dir)
    jobs = [s for s in tracer.spans[first_traced:] if s["name"] == "job"]  # the traced loop
    per_job = [X.job_phases(log, s["start"], s["end"], s["end"] - s["start"]) for s in jobs]
    for p in X.PHASES:
        for k in ("wall_s", "executor_run_s", "shuffle_write_mb", "shuffle_read_mb",
                  "spill_mb", "tasks", "task_max_over_p50"):
            vals = [j[p][k] for j in per_job if p in j]
            if vals:
                m[f"spark.{p}.{k}"] = statistics.median(vals)
    useful = [X.media_useful_frac(log, j, summaries[s["run_id"]]["media_spans"])
              for s, j in zip(jobs, per_job)]
    resume_span = next(s for s in tracer.spans if s["name"] == "job.resume")
    resume_phases = X.job_phases(log, resume_span["start"], resume_span["end"],
                                 resume_span["end"] - resume_span["start"])
    traced_walls = [s["end"] - s["start"] for s in jobs]
    m.update({
        **X.engine_sample(in_dir),
        **udf,
        "pipeline.proc_s.media": statistics.median(s["proc_s.media"] for s in summaries.values()),
        "pipeline.proc_s.text": statistics.median(s["proc_s.text"] for s in summaries.values()),
        "pipeline.media_useful_frac": statistics.median(useful),
        "pipeline.media_useful_frac.resume": X.media_useful_frac(
            log, resume_phases, resume_summary["media_spans"]),
        "job.fixed_s": statistics.median(fixed),
        "job.docs_per_s": n_docs / untraced,
        "job.write_amp": statistics.median(amp),
        "trace.unattributed_frac": statistics.median(j["unattributed_frac"] for j in per_job),
        "trace.overhead_frac": statistics.median(traced_walls) / untraced - 1.0,
        "manifest.read_s": statistics.median(reads),
        "manifest.files_after": files_after,
        "commit.buckets": statistics.median(results[s["run_id"]]["buckets_committed"] for s in jobs),
    })
    return loop


# ------------------------------------------------------------- curate


def curate_workload(args, spark, tracer, m: dict) -> Loop:
    import curate as C
    import inputs

    data = inputs.curate_dir(os.path.join(WORK, "inputs"), C.SCALE)
    order = C.pass_order(args.seed)
    # the check pass doubles as the warm-up pass, untimed
    problems = C.check_queries(spark, tracer, data, order)
    raised = [0]

    def op():
        wall, n = C.run_pass(spark, tracer, data, order)
        raised[0] += n
        return wall, n

    def check(n: int) -> list[str]:
        return [f"{n} queries raised"] if n else []

    loop = Loop()
    loop.problems += [f"{q}: {p}" for q, p in problems.items()]
    with RssSampler() as rss:
        loop.run(args.seconds, op, check)
    untraced = m["op_wall_s"] = statistics.median(loop.walls)
    m["run.op_cpu_s"] = statistics.median(loop.cpus)
    m["run.peak_rss_mb"] = rss.peak / 2**20
    if args.trace:
        log_dir = os.path.join(RUN_DIR, "eventlog")
        _stop_session()
        spark = _session(eventlog_conf(log_dir))
        first = len(tracer.spans)
        traced = Loop()
        traced.run(args.seconds, op, check)
        _stop_session()
        passes = [i for i in range(first, len(tracer.spans)) if tracer.spans[i]["name"] == "pass"]
        m.update(C.query_layer(EventLog.load_dir(log_dir), tracer, passes))
        m["trace.overhead_frac"] = statistics.median(traced.walls) / untraced - 1.0
        loop.attempted += traced.attempted
        loop.problems += traced.problems
    # one operation = one query execution; every execution of a query
    # whose output check failed counts as failed
    passes_run = loop.attempted
    loop.attempted = passes_run * len(order)
    loop.failed = raised[0] + len(problems) * passes_run
    for q, p in problems.items():
        print(f"check failed: {q}: {p}", file=sys.stderr)
    return loop


# --------------------------------------------------------------- main


def measure(args, m: dict) -> Loop:
    import inputs

    # input generation is excluded from set-up: it runs (or hits the
    # cache) before the set-up clocks start
    t_gen = time.monotonic()
    if args.workload == "curate":
        import curate

        inputs.curate_dir(os.path.join(WORK, "inputs"), curate.SCALE)
    else:
        import extract

        for n in (extract.N_DOCS, extract.FIXED_DOCS):
            inputs.extract_corpus_dir(os.path.join(WORK, "inputs"), args.seed, n)
    tracer = Tracer()
    try:
        t_setup = time.monotonic()
        with tracer.span("setup"):
            spark = _session()
        # this process's own set-up, from its start to the first warm-up
        # query, less the input generation
        m["setup_s"] = (t_gen - T_PROC) + (time.monotonic() - t_setup)
        run = extract_workload if args.workload == "extract_mixed" else curate_workload
        return run(args, spark, tracer, m)
    finally:
        try:
            _stop_jvm()
        finally:
            shutil.rmtree(RUN_DIR, ignore_errors=True)
            tracer.write(os.path.join(WORK, "trace", f"{args.workload}-s{args.seed}-t{args.trace}.json"))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "text_extraction_spark")):
        print(f"no text_extraction_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    _adopt_orphans()
    # SIGTERM unwinds through the finally blocks, so the JVM and the
    # workers are stopped on that path too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    _scratch_env()
    m: dict[str, float] = {}
    try:
        loop = measure(args, m)
    finally:
        _reap()

    if args.trace:
        m["run.failed_frac"] = loop.failed / loop.attempted
        names = [x["name"] for x in spec["per_layer"]]
        units = {x["name"]: x["unit"] for x in spec["per_layer"]}
    else:
        names = [x["name"] for x in spec["end_to_end"]]
        units = {x["name"]: x["unit"] for x in spec["end_to_end"]}
    # a layer this workload does not execute did no work: reported as 0
    metrics = {n: {"value": float(m.get(n, 0.0)), "unit": units[n]} for n in names}
    print(json.dumps({
        "correct": loop.failed == 0 and not loop.problems,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
