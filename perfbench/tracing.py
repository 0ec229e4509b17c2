"""Measurement helpers: benchmark-side spans, a process-tree RSS sampler
and a Spark event-log reader.

Spans are recorded around calls into the program's public functions
(name, start, end, parent), kept in memory and written as JSON when the
run ends. The event log supplies what the spans cannot see: per-task
executor run time, shuffle and spill bytes, and per-scan row counts.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time


class Tracer:
    """In-memory span recorder. Wall times are epoch seconds so spans line
    up with event-log timestamps (epoch milliseconds)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def _proc_table() -> tuple[dict[int, list[int]], dict[int, tuple[int, int]]]:
    """(children by parent pid, (rss bytes, cpu ticks) by pid) from /proc.
    CPU ticks count user + system time of the process plus that of its
    reaped children."""
    children: dict[int, list[int]] = {}
    usage: dict[int, tuple[int, int]] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                s = f.read()
        except OSError:
            continue
        pid = int(s[: s.index(" ")])
        fields = s[s.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(pid)
        usage[pid] = (int(fields[21]) * page, sum(int(x) for x in fields[11:15]))
    return children, usage


def descendants(root_pid: int) -> list[int]:
    children, _ = _proc_table()
    out, todo = [], list(children.get(root_pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def proc_tree_usage(root_pid: int) -> tuple[int, float]:
    """(summed RSS bytes, summed CPU seconds) of root_pid and all its
    descendants. A worker that exits mid-operation keeps counting
    through its parent's reaped-children time."""
    children, usage = _proc_table()
    rss = ticks = 0
    todo = [root_pid]
    while todo:
        p = todo.pop()
        r, t = usage.get(p, (0, 0))
        rss, ticks = rss + r, ticks + t
        todo.extend(children.get(p, ()))
    return rss, ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Background sampler of the peak summed RSS of this process, the driver
    JVM it launched and the Python workers under it."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, proc_tree_usage(pid)[0])
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# ------------------------------------------------------------ event log


def eventlog_conf(log_dir: str) -> dict[str, str]:
    """Session config for the traced run. Spark 4.1 compresses event logs
    with zstd by default; uncompressed keeps the reader dependency-free."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def _plan_nodes(info: dict):
    yield info
    for c in info.get("children", ()):
        yield from _plan_nodes(c)


class EventLog:
    """Parsed event log of one application: SQL executions, jobs, stages
    and tasks, joined by ids."""

    def __init__(self, paths: list[str]) -> None:
        self.executions: dict[int, dict] = {}
        self.jobs: dict[int, dict] = {}
        self.stage_exec: dict[int, int | None] = {}
        self.tasks: list[dict] = []
        self.acc_updates: dict[int, int] = {}
        for path in paths:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))
        for j in self.jobs.values():
            for s in j["stages"]:
                self.stage_exec[s] = j["exec"]

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart"):
            self.executions[e["executionId"]] = {
                "id": e["executionId"],
                "start": e["time"] / 1000.0, "end": None,
                "plan": e.get("physicalPlanDescription", ""),
                "scans": {},
            }
            self._scan_metrics(e["executionId"], e.get("sparkPlanInfo") or {})
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            if e["executionId"] in self.executions:
                self.executions[e["executionId"]]["plan"] = e.get(
                    "physicalPlanDescription", self.executions[e["executionId"]]["plan"])
                self._scan_metrics(e["executionId"], e.get("sparkPlanInfo") or {})
        elif kind.endswith("SQLExecutionEnd"):
            if e["executionId"] in self.executions:
                self.executions[e["executionId"]]["end"] = e["time"] / 1000.0
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "start": e["Submission Time"] / 1000.0,
                "exec": int(ex) if ex not in (None, "") else None,
                "stages": list(e.get("Stage IDs", ())),
            }
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            self.tasks.append({
                "stage": e["Stage ID"],
                "run_ms": m.get("Executor Run Time", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
            })
            for a in (e.get("Task Info") or {}).get("Accumulables", ()):
                try:
                    upd = int(a.get("Update"))
                except (TypeError, ValueError):
                    continue
                self.acc_updates[a["ID"]] = self.acc_updates.get(a["ID"], 0) + upd

    def _scan_metrics(self, ex: int, info: dict) -> None:
        """Map scanned file path → 'number of output rows' accumulator ids."""
        scans = self.executions[ex]["scans"]
        for node in _plan_nodes(info):
            loc = (node.get("metadata") or {}).get("Location", "")
            if not node.get("nodeName", "").startswith("Scan") or not loc:
                continue
            for m in node.get("metrics", ()):
                if m.get("name") == "number of output rows":
                    scans.setdefault(loc, set()).add(m["accumulatorId"])

    @classmethod
    def load_dir(cls, log_dir: str) -> "EventLog":
        """The one finished application log under log_dir (Spark 4 writes a
        rolling ``eventlog_v2_*`` directory of ``events_<n>_*`` files)."""
        apps = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
        if len(apps) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, found {apps}")
        if not os.path.isdir(apps[0]):
            return cls([apps[0]])
        parts = glob.glob(os.path.join(apps[0], "events_*"))
        parts.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
        return cls(parts)

    def scan_rows(self, exec_ids, path_part: str) -> int:
        """Rows produced by the scans of files whose location contains
        path_part, summed over the given executions."""
        acc = set()
        for ex in exec_ids:
            for loc, ids in self.executions[ex]["scans"].items():
                if path_part in loc:
                    acc |= ids
        return sum(self.acc_updates.get(a, 0) for a in acc)

    def stage_stats(self, stages: set[int]) -> dict:
        """Task totals over the stages, plus max/median task run time of
        the heaviest stage (the one with the most executor run time)."""
        ts = [t for t in self.tasks if t["stage"] in stages]
        by_stage: dict[int, list[int]] = {}
        for t in ts:
            by_stage.setdefault(t["stage"], []).append(t["run_ms"])
        tail = 0.0
        if by_stage:
            runs = max(by_stage.values(), key=sum)
            p50 = statistics.median(runs)
            tail = max(runs) / p50 if p50 > 0 else 1.0
        mb = 1024.0 * 1024.0
        return {
            "executor_run_s": sum(t["run_ms"] for t in ts) / 1000.0,
            "shuffle_write_mb": sum(t["shuffle_write"] for t in ts) / mb,
            "shuffle_read_mb": sum(t["shuffle_read"] for t in ts) / mb,
            "spill_mb": sum(t["spill"] for t in ts) / mb,
            "tasks": len(ts),
            "task_max_over_p50": tail,
        }

    def stages_of_execs(self, exec_ids) -> set[int]:
        ids = set(exec_ids)
        return {s for s, ex in self.stage_exec.items() if ex in ids}

    def stages_in_window(self, start: float, end: float) -> set[int]:
        """Stages of every job submitted inside [start, end] — used where
        one client runs one operation at a time."""
        return {s for j in self.jobs.values() if start <= j["start"] <= end
                for s in j["stages"]}

    def execs_in_window(self, start: float, end: float) -> list[dict]:
        return sorted(
            (x for x in self.executions.values()
             if x["end"] is not None and start <= x["start"] <= end),
            key=lambda x: x["start"],
        )


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
