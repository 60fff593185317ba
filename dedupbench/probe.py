"""Measurements taken from outside the program: process-tree CPU and
peak memory from /proc, Spark job and stage metrics from the JVM status
store, and in-memory spans.

Status-store access goes through ``sc._jsc.sc().statusStore()``, which
works with ``spark.ui.enabled=false``; its collections are Scala Seqs
and Options, walked with ``size()``/``apply(i)`` and ``isDefined()``/``get()``.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_TICK = os.sysconf("SC_CLK_TCK")
MB = 1024 * 1024


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds of the process plus its reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            rest = fh.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None
    # fields after "(comm)": state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
    return int(rest[1]), sum(int(x) for x in rest[11:15]) / _TICK


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except FileNotFoundError:
        return ""


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu() -> dict[str, float]:
    """CPU seconds of the process tree, split into the JVM and the rest
    (the benchmark's Python driver and the Python workers). A reaped
    worker's time lives on in its parent's cutime/cstime, so the sum
    stays monotone while workers come and go."""
    out = {"jvm": 0.0, "python": 0.0}
    for pid in process_tree():
        st = _stat(pid)
        if st is not None:
            out["jvm" if _comm(pid) == "java" else "python"] += st[1]
    return out


def host_cpu_ticks() -> dict[str, int]:
    """Whole-machine CPU ticks from /proc/stat: busy, idle and steal
    (time the hypervisor gave the virtual CPUs to other guests)."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return {"busy": f[0] + f[1] + f[2] + f[5] + f[6], "idle": f[3] + f[4], "steal": f[7]}


def steal_share(t0: dict, t1: dict) -> float:
    total = sum(t1.values()) - sum(t0.values())
    return (t1["steal"] - t0["steal"]) / total if total else 0.0


def tree_peak_rss_mb() -> dict[str, float]:
    """Peak RSS (VmHWM) of each live process of the tree, in MB, keyed
    by "<comm>:<pid>"."""
    out = {}
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[f"{_comm(pid)}:{pid}"] = int(line.split()[1]) / 1024.0
        except FileNotFoundError:
            continue
    return out


@dataclass
class StageSums:
    jobs: int = 0
    stages: int = 0
    task_s: float = 0.0
    jvm_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    output_mb: float = 0.0
    gc_s: float = 0.0
    # per completed stage: (rdd ids in its lineage, input MB it read)
    stage_inputs: list = field(default_factory=list)


class StatusStore:
    """Job/stage metrics grouped by job group, read from the JVM."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(group, group)

    def drain(self) -> None:
        """Wait until every finished job's events reached the store."""
        self._jsc.listenerBus().waitUntilEmpty(60_000)

    def rdd_mb(self, rdd_id: int) -> float:
        """Stored size of a persisted (or checkpointed) RDD, from the
        block manager."""
        for info in self._jsc.getRDDStorageInfo():
            if info.id() == rdd_id:
                return (info.memSize() + info.diskSize()) / MB
        raise KeyError(f"RDD {rdd_id} is not persisted")

    def sums(self, groups: set[str]) -> dict[str, StageSums]:
        """Per job group: completed-stage metric sums. Skipped stages
        (shuffle output reused) did no work and are not counted."""
        self.drain()
        out = {g: StageSums() for g in groups}
        jobs = self._store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            grp = job.jobGroup()
            if not grp.isDefined() or grp.get() not in out:
                continue
            acc = out[grp.get()]
            acc.jobs += 1
            ids = job.stageIds()
            for j in range(ids.size()):
                try:
                    st = self._store.lastStageAttempt(ids.apply(j))
                except Py4JJavaError:  # stage never attempted
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                acc.stages += 1
                acc.task_s += st.executorRunTime() / 1e3
                acc.jvm_cpu_s += st.executorCpuTime() / 1e9
                acc.shuffle_write_mb += st.shuffleWriteBytes() / MB
                acc.shuffle_read_mb += st.shuffleReadBytes() / MB
                acc.output_mb += st.outputBytes() / MB
                acc.gc_s += st.jvmGcTime() / 1e3
                rdds = st.rddIds()
                acc.stage_inputs.append(({int(rdds.apply(k)) for k in range(rdds.size())},
                                         st.inputBytes() / MB))
        return out


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str
    cpu: dict

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory; each span is also a Spark job group named
    ``<run_id>:<span name>``, so the jobs a layer ran can be found in the
    status store afterwards."""

    def __init__(self, store: StatusStore, run_id: str):
        self.store = store
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.store.set_group(self.group(name))
        t0, c0 = time.perf_counter(), tree_cpu()
        try:
            yield
        finally:
            t1, c1 = time.perf_counter(), tree_cpu()
            self._stack.pop()
            self.store.set_group(self.group(self._stack[-1]) if self._stack else None)
            self.spans.append(Span(name, t0, t1, parent, self.run_id,
                                   {k: c1[k] - c0[k] for k in c1}))

    def group(self, name: str) -> str:
        return f"{self.run_id}:{name}"

    def records(self) -> list[dict]:
        return [{"name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "run_id": s.run_id, "cpu_s": s.cpu}
                for s in self.spans]
