"""Host and Spark probes used by the benchmark: process-tree memory, load
average, span recording and Spark job/stage/task counts.

Everything here reads /proc or Spark's status tracker from the benchmark's
own process; nothing reaches into the engine.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs —
    the co-tenancy a guest cannot see in its load average."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (not including it)."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def descendants_pss(root: int) -> dict[int, int]:
    """PSS in bytes of every live process below ``root``."""
    out = {}
    for pid in descendants(root):
        try:
            out[pid] = _pss_bytes(pid)
        except OSError:
            continue  # exited since it was listed
    return out


def _cmd(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")[:120]
    except OSError:
        return "?"


class MemorySampler:
    """Samples the summed PSS of this process's descendants — the driver
    JVM and its Python workers — every ``interval`` seconds; ``peak_mb`` is
    the largest sum seen, and ``at_peak`` the processes that made it up.

    PSS, not RSS: the Python workers are forks of one daemon and share its
    pages, and a JVM that spawns a helper process is briefly listed twice
    with the same resident pages. Summed RSS counts such pages once per
    process and jumps by a whole JVM when a sample lands on a spawn; summed
    PSS counts each page once. The benchmark's own process, which holds
    the generated inputs, is left out."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self.at_peak: list[tuple[int, float, str]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            pss = descendants_pss(pid)
            if sum(pss.values()) > self.peak:
                self.peak = sum(pss.values())
                self.at_peak = [(p, b / (1 << 20), _cmd(p)) for p, b in pss.items()]
            self._stop.wait(self.interval)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


class Spans:
    """In-memory span recorder: each span has a name, start, end, parent
    span index and request id. Layer self time is a span's duration minus
    the time its child spans cover."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, request: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent]["request"]
        idx = len(self.spans)
        self.spans.append({"name": name, "start": time.perf_counter(), "end": None,
                           "parent": parent, "request": request})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per layer, a layer being the span name without
        its last dotted component (``search.searcher.compile`` →
        ``search.searcher``)."""
        child_cover = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_cover[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, cover in zip(self.spans, child_cover):
            layer = s["name"].rsplit(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - cover
        return out


class JobCounter:
    """Spark jobs, stages and tasks launched under a job group, read from
    the status tracker. The listener bus is asynchronous, so ``counts``
    waits until the group's job list stops changing."""

    def __init__(self, sc):
        self.sc = sc
        self._n = 0

    @contextmanager
    def group(self, label: str):
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def counts(self, gid: str) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        prev, stable = None, 0
        for _ in range(100):
            jobs = sorted(st.getJobIdsForGroup(gid))
            infos = [st.getJobInfo(j) for j in jobs]
            done = all(i is not None and i.status != "RUNNING" for i in infos)
            stable = stable + 1 if (jobs == prev and done) else 0
            if stable >= 3:
                break
            prev = jobs
            time.sleep(0.05)
        stages = sorted({s for i in infos if i is not None for s in i.stageIds})
        tasks = 0
        for sid in stages:
            info = st.getStageInfo(sid)
            if info is not None:
                tasks += info.numTasks
        return len(jobs), len(stages), tasks
