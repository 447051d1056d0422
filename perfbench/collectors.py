"""Measurements taken from outside the program: the Spark REST API
(jobs, stages, SQL node metrics, executors) and /proc (process-tree
RSS). Nothing here imports the program."""

from __future__ import annotations

import datetime as _dt
import json
import os
import re
import threading
import time
import urllib.request


# ---------------------------------------------------------------- /proc
# "RSS" below is the process tree's resident memory, counted as PSS so
# a page shared by several processes of the tree is counted once.

def _children(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def process_tree(root: int) -> list[int]:
    """``root`` and every descendant alive now (driver Python, the
    JVM it launched, the JVM's Python workers)."""
    seen, stack = [], [root]
    while stack:
        pid = stack.pop()
        seen.append(pid)
        stack.extend(_children(pid))
    return seen


def rss_bytes(pid: int) -> int:
    """Proportional set size of ``pid``: resident pages, each shared
    page divided among the processes mapping it. Summed over a tree
    it counts every page once, where plain RSS would count a freshly
    forked child's copy-on-write pages twice (the JVM forks to spawn
    its Python workers)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of the machine since boot, from
    /proc/stat: steal is time the hypervisor ran someone else on our
    virtual CPUs, the main source of run-to-run noise on shared hosts."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_seconds(root: int) -> float:
    """User + system CPU seconds used so far by the tree under
    ``root``, including exited children its members have reaped.
    Unlike wall time, it excludes time stolen by the hypervisor."""
    total = 0
    for p in process_tree(root):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[11:15] = utime, stime, cutime, cstime (stat fields 14-17)
        total += sum(int(v) for v in fields[11:15])
    return total / _CLK_TCK


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def tree_rss_by_process(root: int) -> dict[str, int]:
    """RSS of the tree split into the root process, the JVM and the
    rest (the JVM's Python workers)."""
    out = {"driver": 0, "jvm": 0, "workers": 0}
    for p in process_tree(root):
        kind = ("driver" if p == root
                else "jvm" if _comm(p) == "java" else "workers")
        out[kind] += rss_bytes(p)
    return out


class RssSampler:
    """Samples the summed RSS of a process tree on a daemon thread and
    keeps the peak. Use as a context manager; ``peak_bytes`` is final
    after exit. ``extra`` (optional) is called on every tick, for
    other pollers that should share the thread."""

    def __init__(self, root: int | None = None, interval_s: float = 0.2,
                 extra=None):
        self.root = os.getpid() if root is None else root
        self.interval_s = interval_s
        self.extra = extra
        self.peak_bytes = 0
        self.peak_split: dict[str, int] = {}
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        split = tree_rss_by_process(self.root)
        total = sum(split.values())
        if total > self.peak_bytes:
            self.peak_bytes, self.peak_split = total, split
        self.samples += 1
        if self.extra is not None:
            self.extra()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        return False


# ------------------------------------------------------------ Spark REST

def parse_rest_time(s: str | None) -> float | None:
    """'2026-10-17T04:40:14.123GMT' -> epoch seconds."""
    if not s:
        return None
    t = _dt.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=_dt.timezone.utc).timestamp()


_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
               "TiB": 1024 ** 4}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM_UNIT = re.compile(r"(-?[\d.,]+)\s*([A-Za-z]+)?")


def parse_sql_metric(value: str) -> float:
    """SQL UI metric strings -> a number in base units (bytes, seconds
    or a plain count). Accumulated metrics read
    ``'total (min, med, max ...)\\n12.3 MiB (1 KiB, ...)'``; the total
    is the first figure of the last line."""
    line = value.strip().splitlines()[-1]
    m = _NUM_UNIT.search(line)
    if m is None:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    if unit in _SIZE_UNITS:
        return num * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return num * _TIME_UNITS[unit]
    return num


class SparkRest:
    """Reads one application's status store over the REST API."""

    def __init__(self, ui_url: str, app_id: str):
        self.base = f"{ui_url.rstrip('/')}/api/v1/applications/{app_id}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def jobs(self) -> list[dict]:
        return self.get("jobs")

    def stages(self) -> list[dict]:
        return self.get("stages")

    def sql(self) -> list[dict]:
        out, offset = [], 0
        while True:
            page = self.get(f"sql?details=true&planDescription=true"
                            f"&offset={offset}&length=500")
            out.extend(page)
            if len(page) < 500:
                return out
            offset += 500

    def executors(self) -> list[dict]:
        return self.get("executors")

    def task_summary(self, stage_id: int, attempt: int) -> dict:
        return self.get(f"stages/{stage_id}/{attempt}/taskSummary"
                        "?quantiles=0.5,1.0")

    def storage_used_bytes(self) -> int:
        return sum(int(e.get("memoryUsed", 0)) + int(e.get("diskUsed", 0))
                   for e in self.executors())

    def wait_idle(self, timeout_s: float = 60.0) -> None:
        """Block until the status store shows no running job (the
        listener bus delivers events asynchronously)."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            if not any(j.get("status") == "RUNNING" for j in self.jobs()):
                return
            time.sleep(0.2)


def stage_totals(stages: list[dict]) -> dict:
    """Sum the task-level counters of completed/failed stage attempts
    (skipped stages ran no tasks)."""
    t = {"task_s": 0.0, "task_cpu_s": 0.0, "shuffle_mb": 0.0,
         "spill_mb": 0.0, "gc_s": 0.0, "result_mb": 0.0, "tasks": 0,
         "tasks_failed": 0}
    for s in stages:
        if s.get("status") == "SKIPPED":
            continue
        t["task_s"] += s.get("executorRunTime", 0) / 1e3
        t["task_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
        t["shuffle_mb"] += (s.get("shuffleReadBytes", 0)
                            + s.get("shuffleWriteBytes", 0)) / 2 ** 20
        t["spill_mb"] += (s.get("memoryBytesSpilled", 0)
                          + s.get("diskBytesSpilled", 0)) / 2 ** 20
        t["gc_s"] += s.get("jvmGcTime", 0) / 1e3
        t["result_mb"] += s.get("resultSize", 0) / 2 ** 20
        t["tasks"] += s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
        t["tasks_failed"] += s.get("numFailedTasks", 0)
    return t


PYTHON_NODE_METRICS = {
    "data sent to Python workers": "sent_b",
    "data returned from Python workers": "returned_b",
    "time to start Python workers": "start_s",
    "time to run Python workers": "run_s",
}


def python_node_metrics(executions: list[dict], node_name: str | None = None):
    """Per SQL execution, the summed Python-worker metrics of its
    nodes (optionally only nodes named ``node_name``). Yields
    (execution, {sent_b, returned_b, start_s, run_s})."""
    for ex in executions:
        acc = dict.fromkeys(PYTHON_NODE_METRICS.values(), 0.0)
        for node in ex.get("nodes", []):
            if node_name is not None and node.get("nodeName") != node_name:
                continue
            for m in node.get("metrics", []):
                key = PYTHON_NODE_METRICS.get(m.get("name"))
                if key is not None:
                    acc[key] += parse_sql_metric(m.get("value", ""))
        yield ex, acc
