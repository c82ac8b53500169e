"""Spans, process-tree CPU and memory, and Spark job attribution.

The benchmark records a span around each call it makes into a layer of the
program: name, start, end, parent, and the id of the operation it belongs
to.  Spans stay in memory until the run ends.  Each span sets its own Spark
job group, so the status store attributes every job, stage and task to the
innermost open span.  CPU comes from ``/proc`` for the whole process tree
(driver Python, the JVM, and the Python workers the JVM forks), read at each
span boundary.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
GROUP_PREFIX = "perfbench-"


def _proc_table() -> dict[int, tuple[str, int, int, int]]:
    """pid -> (comm, ppid, cpu ticks including reaped children, rss pages)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:  # the process ended between listdir and open
            continue
        left, right = s.index("("), s.rindex(")")
        fields = s[right + 2:].split()
        cpu = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        out[int(d)] = (s[left + 1:right], int(fields[1]), cpu, int(fields[21]))
    return out


def tree_sample(root: int) -> tuple[float, float, int, int]:
    """(JVM CPU s, Python CPU s, JVM RSS bytes, Python RSS bytes) summed
    over ``root`` and its descendants.  The JVM is the ``java`` process;
    everything else in the tree is Python (the driver and the workers)."""
    table = _proc_table()
    children: dict[int, list[int]] = defaultdict(list)
    for pid, (_, ppid, _, _) in table.items():
        children[ppid].append(pid)
    jvm = py = jvm_pages = py_pages = 0
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid not in table:
            continue
        comm, _, cpu, rss = table[pid]
        if comm == "java":
            jvm, jvm_pages = jvm + cpu, jvm_pages + rss
        else:
            py, py_pages = py + cpu, py_pages + rss
        stack.extend(children[pid])
    return jvm / _TICK, py / _TICK, jvm_pages * _PAGE, py_pages * _PAGE


class RssSampler:
    """Background thread that keeps the peak RSS of the process tree, and
    of its JVM and Python parts."""

    def __init__(self, root: int, period_s: float = 0.2):
        self.root, self.period_s = root, period_s
        self.peak = self.peak_jvm = self.peak_py = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self):
        _, _, jvm, py = tree_sample(self.root)
        self.peak = max(self.peak, jvm + py)
        self.peak_jvm, self.peak_py = max(self.peak_jvm, jvm), max(self.peak_py, py)

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


class Tracer:
    """Span recorder.  A disabled tracer records nothing and touches
    neither Spark nor ``/proc``, so untraced runs pay no tracing cost.
    ``cost_s`` is the time spent inside the tracer itself."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc, self.enabled = sc, enabled
        self.root = os.getpid()
        self.spans: list[dict] = []
        self.cost_s = 0.0
        self._stack: list[dict] = []
        self._next_id = 0

    def _set_group(self, rec: dict | None):
        if rec is None:
            self.sc.setJobGroup(GROUP_PREFIX + "none", "outside any span")
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{rec['id']}", rec["name"])

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        entered = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else self._next_id,
        }
        self._next_id += 1
        self._stack.append(rec)
        self._set_group(rec)
        jvm0, py0, _, _ = tree_sample(self.root)
        rec["start"] = time.perf_counter()
        self.cost_s += rec["start"] - entered
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            jvm1, py1, _, _ = tree_sample(self.root)
            rec["jvm_cpu_s"], rec["py_cpu_s"] = jvm1 - jvm0, py1 - py0
            self._stack.pop()
            self.spans.append(rec)
            self._set_group(parent)
            self.cost_s += time.perf_counter() - rec["end"]

    def dump(self, path: str):
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["id"]):
                f.write(json.dumps(rec) + "\n")


def _seq(sc, scala_seq) -> list:
    return list(sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


def read_status_store(sc) -> dict[str, dict]:
    """Per job group, from the session's live status store (the store
    Spark keeps for every application, so reading it after the pass adds no
    cost inside it): jobs, stages run, tasks, failed tasks, task seconds,
    shuffle bytes written, bytes spilled to disk and input records read."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    acc: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str | None] = {}
    jobs = sorted(_seq(sc, store.jobsList(None)), key=lambda j: j.jobId())
    for job in jobs:
        group = job.jobGroup().get() if job.jobGroup().isDefined() else None
        acc[group]["jobs"] += 1
        for sid in _seq(sc, job.stageIds()):
            stage_group.setdefault(sid, group)  # the first job runs it
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    for st in _seq(sc, store.stageList(None, False, False, no_quantiles, None)):
        if st.status().toString() == "SKIPPED":
            continue
        a = acc[stage_group.get(st.stageId())]
        a["stages"] += 1
        a["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        a["failed_tasks"] += st.numFailedTasks()
        a["task_s"] += st.executorRunTime() / 1000
        a["shuffle_write_bytes"] += st.shuffleWriteBytes()
        a["spill_bytes"] += st.diskBytesSpilled()
        a["records_read"] += st.inputRecords()
    return {g: dict(v) for g, v in acc.items()}


LAYER_FIELDS = (
    ("wall_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("failed_tasks", "count"),
    ("task_s", "s"),
    ("idle_core_frac", "ratio"),
    ("jvm_cpu_s", "s"),
    ("py_cpu_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("scan_amp", "ratio"),
)


def layer_metrics(spans: list[dict], groups: dict[str, dict], layer: str,
                  cores: int, input_rows: float) -> dict[str, float]:
    """One layer's row: its spans' wall and CPU plus the status-store
    counts of the job groups those spans set.  ``input_rows`` is the number of
    input rows the layer's calls were handed, the base of ``scan_amp``."""
    mine = [s for s in spans if s["name"] == layer]
    ev: dict[str, float] = defaultdict(float)
    for s in mine:
        for k, v in groups.get(f"{GROUP_PREFIX}{s['id']}", {}).items():
            ev[k] += v
    wall = sum(s["end"] - s["start"] for s in mine)
    return {
        "wall_s": wall,
        "jobs": ev["jobs"],
        "stages": ev["stages"],
        "tasks": ev["tasks"],
        "failed_tasks": ev["failed_tasks"],
        "task_s": ev["task_s"],
        "idle_core_frac": 1 - ev["task_s"] / (cores * wall) if wall else 0.0,
        "jvm_cpu_s": sum(s["jvm_cpu_s"] for s in mine),
        "py_cpu_s": sum(s["py_cpu_s"] for s in mine),
        "shuffle_write_mb": ev["shuffle_write_bytes"] / 2**20,
        "spill_mb": ev["spill_bytes"] / 2**20,
        "scan_amp": ev["records_read"] / input_rows if input_rows else 0.0,
    }


def self_time(spans: list[dict], rec: dict) -> float:
    """A span's duration minus the part of it its child spans cover."""
    kids = sorted(
        (s["start"], s["end"]) for s in spans if s["parent"] == rec["id"]
    )
    covered, cursor = 0.0, rec["start"]
    for start, end in kids:
        start, end = max(start, cursor), min(end, rec["end"])
        if end > start:
            covered += end - start
            cursor = end
    return (rec["end"] - rec["start"]) - covered
