"""What the benchmark measures besides wall time: spans, Spark counters per
job group, streaming progress, process-tree memory and box context.

Everything here observes the program from outside: job groups set by the
benchmark before each call, the application status store, and a
``StreamingQueryListener`` the benchmark registers.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import threading
import time
import zlib
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory spans: name, layer, start, end, parent and run id, with
    counters attached. A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        s = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            "counters": {},
        }
        self.spans.append(s)
        self._stack.append(s["id"])
        try:
            yield s
        finally:
            self._stack.pop()
            s["end"] = time.perf_counter()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per layer: each span's duration minus the part of its interval that
    its children cover, summed."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"] - covered)
    return out


#: StageData fields summed per job group -> counter name
STAGE_FIELDS = {
    "executorRunTime": "executor_run_ms",
    "jvmGcTime": "gc_ms",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_PYTHON_METRICS = ("data sent to Python workers", "data returned from Python workers")


class SparkCounters:
    """Job, stage and task counters of a job group, read from the
    application status store after the group's work has finished."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jspark = spark._jsparkSession
        jvm = self.sc._jvm
        scala_module = getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$"
        )
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            scala_module
        )
        self.store = self.sc._jsc.sc().statusStore()

    def _json(self, obj) -> dict:
        return json.loads(self.mapper.writeValueAsString(obj))

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def wait_idle(self) -> None:
        """Let the listener bus deliver every pending event to the store."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def stage_totals(self, jobs: list[int]) -> dict[str, float]:
        """Counters summed over the stages that ran for ``jobs``."""
        c = {"jobs": len(jobs), "stages": 0, "tasks": 0, "executor_cpu_ms": 0.0,
             "spill_bytes": 0, "input_bytes": 0, "scan_tasks": 0}
        for v in STAGE_FIELDS.values():
            c[v] = 0
        for job in jobs:
            for sid in self._json(self.store.job(job))["stageIds"]:
                sd = self._json(self.store.lastStageAttempt(sid))
                if sd["status"] == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += sd["numCompleteTasks"]
                c["executor_cpu_ms"] += sd["executorCpuTime"] / 1e6
                c["spill_bytes"] += sd["memoryBytesSpilled"] + sd["diskBytesSpilled"]
                for field, name in STAGE_FIELDS.items():
                    c[name] += sd[field]
                if sd["inputBytes"] > 0:
                    c["input_bytes"] += sd["inputBytes"]
                    c["scan_tasks"] += sd["numCompleteTasks"]
        return c

    def python_bytes(self, job_ids: set[int]) -> float:
        """Bytes sent to and returned from Python workers by the SQL
        executions that ran any of ``job_ids`` (SQL metrics are kept by the
        SQL status store, not by the stages)."""
        sql_store = self.jspark.sharedState().statusStore()
        total = 0.0
        for ex in self._json(sql_store.executionsList()):
            if not job_ids & {int(j) for j in ex["jobs"]}:
                continue
            ids = [m["accumulatorId"] for m in ex["metrics"] if m["name"] in _PYTHON_METRICS]
            if not ids:
                continue
            values = self._json(sql_store.executionMetrics(ex["executionId"]))
            total += sum(parse_size(values[str(a)]) for a in ids if str(a) in values)
        return total


def parse_size(text: str) -> float:
    """Bytes from Spark's formatted size metric: either ``"1.5 KiB"`` or
    ``"total (min, med, max ...)\\n1.5 KiB (…)"``."""
    last = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d.]+)\s*([KMGT]?i?B)", last)
    return float(m.group(1)) * _SIZE_UNITS[m.group(2)] if m else 0.0


#: StreamingQueryProgress.durationMs phases reported per traced run
STREAM_PHASES = (
    "latestOffset", "queryPlanning", "addBatch", "walCommit",
    "commitOffsets", "triggerExecution",
)


class StreamProgress(StreamingQueryListener):
    """Sums micro-batch phases, batches and state rows over every query."""

    def __init__(self):
        self.totals = {f"{p}_ms": 0.0 for p in STREAM_PHASES}
        self.totals.update(batches=0, state_rows=0)
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self._lock:
            for phase in STREAM_PHASES:
                self.totals[f"{phase}_ms"] += p.durationMs.get(phase, 0)
            self.totals["batches"] += 1
            self.totals["state_rows"] += sum(s.numRowsTotal for s in p.stateOperators)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _children(pid: int) -> list[int]:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids.extend(int(k) for k in fh.read().split())
    except OSError:
        pass
    return kids


def process_tree(root: int) -> list[int]:
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(_children(pid))
    return tree


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


class RssSampler:
    """Peak summed RSS of the driver Python, the JVM and the JVM's Python
    workers, sampled every ``interval`` seconds from ``statm`` (reading
    ``smaps`` walks page tables under the target's memory lock, and slowed
    the JVM it measured). Other children of the JVM, short-lived helpers it
    spawns for file-system calls, share its address space until they exec,
    so they are left out. ``jvm_pid`` is set once the session has started."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.jvm_pid: int | None = None
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        by_kind = {"driver": _rss_bytes(os.getpid()), "jvm": 0, "workers": 0}
        jvm = self.jvm_pid
        if jvm is not None:
            by_kind["jvm"] = _rss_bytes(jvm)
            by_kind["workers"] = sum(
                _rss_bytes(p) for p in process_tree(jvm)[1:] if _comm(p).startswith("python")
            )
        total = sum(by_kind.values())
        if total > self.peak:
            self.peak = total
            self.at_peak = by_kind

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


def cpu_steal_s() -> float:
    """CPU time the hypervisor has given to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def calibration_s() -> float:
    """A fixed single-thread CPU task (zlib + sha256 over 8 MiB), best of
    three: it moves with the box, not with the program, so two sets of runs
    can be compared from their records alone."""
    chunk = bytes(range(256)) * 64
    buf = b"".join(
        hashlib.sha256(chunk + i.to_bytes(4, "little")).digest() + chunk
        for i in range(512)
    )
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        zlib.compress(buf, 6)
        hashlib.sha256(buf * 4).digest()
        best = min(best, time.perf_counter() - t0)
    return best
