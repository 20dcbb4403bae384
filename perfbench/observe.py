"""Measurement from outside the library: /proc memory polling, job-group
timing and Spark event-log parsing.

Nothing here reaches into the package; layers are observed around the
calls the benchmark makes into them.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict

def session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue        # the process ended between listdir and read
        # fields after the parenthesised command: state, ppid, pgrp, session
        if int(stat[stat.rindex(")") + 2:].split()[3]) == sid:
            pids.append(int(name))
    return pids


def _session_procs(sid: int):
    """(pid, pss_bytes, is_python_worker) for every live process in ``sid``.
    PSS, not RSS: the Python workers are forked from one daemon, and RSS
    would count the pages they share once per worker."""
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                pss = next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except (OSError, StopIteration):
            continue
        yield pid, pss * 1024, b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


class PssPoller:
    """Polls the summed proportional set size (PSS) of this process's
    session (the driver, its JVM and the JVM's Python workers) and of the
    Python workers alone, keeping the peaks.  psutil is not a dependency,
    so it reads /proc directly."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.sid = os.getsid(0)
        self.peak_total = 0
        self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            total = workers = 0
            for _pid, pss, is_worker in _session_procs(self.sid):
                total += pss
                workers += pss if is_worker else 0
            self.peak_total = max(self.peak_total, total)
            self.peak_workers = max(self.peak_workers, workers)
            self._stop.wait(self.interval)

    def __enter__(self) -> "PssPoller":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def noop(df) -> None:
    """Materialise every column of ``df`` without writing anything."""
    df.write.format("noop").mode("overwrite").save()


def noop_all(frames) -> None:
    for f in frames:
        noop(f)


def time_calls(fn, *args, repeat: int = 1) -> list[float]:
    """Walls of ``repeat`` calls of ``fn``."""
    out = []
    for _ in range(repeat):
        t0 = time.perf_counter()
        fn(*args)
        out.append(time.perf_counter() - t0)
    return out


class Tracer:
    """Times calls, each under its own Spark job group, so the event log
    can be split per call afterwards."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        #: group -> fastest wall
        self.walls: dict[str, float] = {}
        #: group -> every wall, in call order
        self.samples: dict[str, list[float]] = {}

    def run(self, group: str, fn, *args, repeat: int = 1, **kwargs):
        """Call ``fn`` ``repeat`` times, under the job groups ``group``,
        ``group#1``, ...; the fastest wall is kept as ``group``'s.  Event
        log counts are read from ``group`` alone, the first call."""
        if group in self.walls:
            raise ValueError(f"job group {group!r} used twice")
        samples = self.samples[group] = []
        for i in range(repeat):
            self.sc.setJobGroup(self.group(group, i), group)
            t0 = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            finally:
                samples.append(time.perf_counter() - t0)
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
        self.walls[group] = min(samples)
        return result

    @staticmethod
    def group(group: str, i: int) -> str:
        """The job group of call ``i`` of ``group``."""
        return f"{group}#{i}" if i else group


#: SQL metric names (accumulable names in the event log)
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
OUT_ROWS = "number of output rows"

_SQL_EVENTS = ("org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
               "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate")


def _plan_metrics(node: dict, into: dict) -> None:
    """accumulator id -> (plan node name, metric name), over a plan tree."""
    for m in node.get("metrics", ()):
        into[m["accumulatorId"]] = (node["nodeName"], m["name"])
    for child in node.get("children", ()):
        _plan_metrics(child, into)


class EventLog:
    """Per-job-group totals from a finished (stopped-session) event log:
    jobs, actions, completed stages, task metrics, and SQL metrics keyed by
    the executed-plan node that owns them."""

    def __init__(self, log_dir: str):
        files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
        if len(files) != 1 or files[0].endswith(".inprogress"):
            raise RuntimeError(f"expected one finished event log in {log_dir}, "
                               f"found {files}")
        stage_group: dict[int, str] = {}
        roots: dict[str, set] = defaultdict(set)
        acc_owner: dict[int, tuple[str, str]] = {}
        self.jobs: dict[str, int] = defaultdict(int)
        #: Spark actions: distinct root SQL executions, plus jobs run
        #: outside any.  Unlike jobs this count repeats exactly: adaptive
        #: query execution runs one job per query stage, and the number of
        #: stages it runs varies between identical runs.
        self.actions: dict[str, int] = defaultdict(int)
        self.stages: dict[str, int] = defaultdict(int)
        self.gc_ms: dict[str, int] = defaultdict(int)
        self.shuffle_write: dict[str, int] = defaultdict(int)
        self.output_bytes: dict[str, int] = defaultdict(int)
        self.input_records: dict[str, int] = defaultdict(int)
        #: group -> (plan node name, metric name) -> summed task updates
        self.sql: dict[str, dict] = defaultdict(lambda: defaultdict(int))
        with open(os.path.join(log_dir, files[0])) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind in _SQL_EVENTS:
                    _plan_metrics(ev["sparkPlanInfo"], acc_owner)
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    if g is None:
                        continue
                    self.jobs[g] += 1
                    root = props.get("spark.sql.execution.root.id")
                    if root is None:
                        self.actions[g] += 1
                    elif root not in roots[g]:
                        roots[g].add(root)
                        self.actions[g] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerStageCompleted":
                    g = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if g is not None:
                        self.stages[g] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if g is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    self.gc_ms[g] += m.get("JVM GC Time", 0)
                    self.shuffle_write[g] += (m.get("Shuffle Write Metrics") or {}) \
                        .get("Shuffle Bytes Written", 0)
                    self.output_bytes[g] += (m.get("Output Metrics") or {}) \
                        .get("Bytes Written", 0)
                    self.input_records[g] += (m.get("Input Metrics") or {}) \
                        .get("Records Read", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                        owner = acc_owner.get(acc.get("ID"))
                        if owner is not None:
                            self.sql[g][owner] += int(acc["Update"])

    def metric(self, group: str, name: str, node: str | None = None) -> int:
        """Summed SQL metric ``name`` in ``group``, over plan nodes whose
        name contains ``node`` (all nodes when None)."""
        return sum(v for (n, m), v in self.sql.get(group, {}).items()
                   if m == name and (node is None or node in n))

    def py_bytes(self, group: str) -> int:
        return self.metric(group, PY_SENT) + self.metric(group, PY_RECEIVED)
