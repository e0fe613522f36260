"""Measurement plumbing owned by the benchmark: spans, Spark's status
store and a process-tree memory sampler.

Nothing here is imported by ``ts_process_spark``; spans are recorded
around the benchmark's own calls into the package and around each Spark
action it triggers.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    """In-memory span recorder.

    A span is ``(id, parent, op, name, start, end)``; ``op`` groups the
    spans of one operation (one cascade iteration, one lookup, ...).
    A disabled tracer records nothing and costs one branch per span.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(
                {"id": sid, "parent": parent, "op": op, "name": name,
                 "start": t0, "end": time.perf_counter()}
            )

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _seq(x) -> list:
    """py4j Scala Seq → Python list."""
    return [x.apply(i) for i in range(x.size())]


# the formatted plan of a parquet write: "Arguments: file:/.../tier_1m[/bucket_id=3], ..."
_WRITE_TARGET = re.compile(r"^Arguments: file:\S*?/tier_(1m|1h|1d)\b", re.M)


class StatusStore:
    """Reads Spark's status store (live with ``spark.ui.enabled=false``).

    ``mark()`` returns the highest job and SQL-execution ids seen so
    far; ``since(mark)`` returns what ran after it.  Only one action
    runs at a time in the traced phases, so id ranges attribute work.
    """

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._app = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._gw = sc._gateway
        self._jvm = sc._jvm
        self._q = self._gw.new_array(self._jvm.double, 2)
        self._q[0], self._q[1] = 0.5, 1.0

    def mark(self) -> tuple[int, int]:
        jobs = self._app.jobsList(None)  # newest first
        last_job = jobs.apply(0).jobId() if jobs.size() else -1
        return (last_job, self._sql.executionsCount() - 1)

    def since(self, mark: tuple[int, int]) -> "Window":
        """Looks each new job, stage and execution up by id: listing the
        whole store costs one py4j call per entry and grows all run."""
        last_job, last_exec = self.mark()
        jobs = [self._app.job(j) for j in range(mark[0] + 1, last_job + 1)]
        stages = []
        for sid in sorted({s for j in jobs for s in _seq(j.stageIds())}):
            try:
                st = self._app.lastStageAttempt(sid)
            except Py4JJavaError:  # never submitted (skipped)
                continue
            if st.status().toString() == "COMPLETE":
                stages.append(st)
        execs = [
            e.get() for e in (self._sql.execution(i) for i in range(mark[1] + 1, last_exec + 1))
            if e.isDefined()
        ]
        return Window(self, jobs, stages, execs)

    def stage_ids_of(self, execution) -> set[int]:
        conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        return set(conv.asJava(execution.stages()))

    def scan_metrics(self, execution_id: int) -> dict[str, float]:
        """Files, bytes and rows of the parquet scans of one SQL execution,
        from their SQL metrics.  (Stage ``inputBytes`` undercounts parquet
        reads made off the task thread, so it is not used.)"""
        conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        values = dict(conv.asJava(self._sql.executionMetrics(execution_id)))
        out = {"files": 0, "bytes": 0.0, "rows": 0}
        for node in _seq(self._sql.planGraph(execution_id).allNodes()):
            if not node.name().startswith("Scan parquet"):
                continue
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                if not v:
                    continue
                if m.name() == "number of files read":
                    out["files"] += int(v.replace(",", ""))
                elif m.name() == "number of output rows":
                    out["rows"] += int(v.replace(",", ""))
                elif m.name() == "size of files read":
                    out["bytes"] += _parse_size(v)
        return out

    def task_skew(self, stage) -> float:
        """max ÷ median task run time of one stage."""
        summ = self._app.taskSummary(stage.stageId(), stage.attemptId(), self._q)
        if not summ.isDefined():
            return 1.0
        run = summ.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / med if med > 0 else 1.0


class Window:
    """The jobs, completed stages and SQL executions of one interval."""

    def __init__(self, store: StatusStore, jobs, stages, execs):
        self.store, self.jobs, self.stages, self.execs = store, jobs, stages, execs

    def restrict(self, stage_ids: set[int]) -> "Window":
        jobs = [j for j in self.jobs if set(_seq(j.stageIds())) & stage_ids]
        stages = [s for s in self.stages if s.stageId() in stage_ids]
        return Window(self.store, jobs, stages, [])

    def in_group(self, group: str) -> "Window":
        """The jobs tagged with ``group`` and the SQL executions they ran."""
        jobs = [
            j for j in self.jobs
            if j.jobGroup().isDefined() and j.jobGroup().get() == group
        ]
        ids = {s for j in jobs for s in _seq(j.stageIds())}
        stages = [s for s in self.stages if s.stageId() in ids]
        execs = [e for e in self.execs if e.description() == group]
        return Window(self.store, jobs, stages, execs)

    def scans(self) -> dict[str, float]:
        """Parquet scan files, bytes and rows summed over the executions."""
        out = {"files": 0, "bytes": 0.0, "rows": 0}
        for e in self.execs:
            for k, v in self.store.scan_metrics(e.executionId()).items():
                out[k] += v
        return out

    def by_write_tier(self) -> dict[str, "Window"]:
        """Split by the tier directory each SQL execution writes."""
        out: dict[str, set[int]] = {"1m": set(), "1h": set(), "1d": set()}
        for e in self.execs:
            m = _WRITE_TARGET.search(e.physicalPlanDescription())
            if m:
                out[m.group(1)] |= self.store.stage_ids_of(e)
        return {t: self.restrict(ids) for t, ids in out.items()}

    def reading(self, path: str) -> "Window":
        """The SQL executions whose plan scans ``path``."""
        execs = [e for e in self.execs if f"[file:{path}]" in e.physicalPlanDescription()]
        return Window(self.store, [], [], execs)

    def summary(self) -> dict[str, float]:
        st = self.stages
        largest = max(st, key=lambda s: s.executorRunTime(), default=None)
        return {
            "jobs": len(self.jobs),
            "executor_run_s": sum(s.executorRunTime() for s in st) / 1e3,
            "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in st),
            "spill_bytes": sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in st),
            "task_skew": self.store.task_skew(largest) if largest is not None else 1.0,
            "largest_stage_tasks": largest.numTasks() if largest is not None else 0,
        }


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _parse_size(v: str) -> float:
    """A size SQL metric as bytes: "744.9 KiB", or the total on the
    second line of "total (min, med, max ...)\n744.9 KiB (...)"."""
    number, unit = v.strip().splitlines()[-1].split()[:2]
    return float(number.replace(",", "")) * _UNITS[unit]


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared by forked Python workers are
    split between them instead of counted once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def dir_bytes(path: str, suffix: str = "") -> int:
    """Bytes of the files under ``path`` whose names end with ``suffix``."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            if not name.endswith(suffix):
                continue
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                pass
    return total


class RssSampler:
    """Samples the resident memory (PSS) summed over this process and all
    its descendants (the Spark JVM and the Python workers it forks) and
    the size of Spark's shuffle/spill directory, keeping the peaks."""

    def __init__(self, shuffle_dir: str, period_s: float = 0.5):
        self.shuffle_dir = shuffle_dir
        self.period_s = period_s
        self.peak_rss = 0
        self.peak_shuffle = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            pids = process_tree(me)
            self.peak_rss = max(self.peak_rss, sum(_pss_bytes(p) for p in pids))
            self.peak_shuffle = max(self.peak_shuffle, dir_bytes(self.shuffle_dir))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def quantile(xs: list[float], q: float) -> float:
    """Nearest-rank quantile (q in (0, 1])."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 1)) - 1))
    return s[k]
