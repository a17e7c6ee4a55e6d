"""Spans, Spark status-store counters, the RSS sampler and the spin probe.

Spans record name, start, end and parent and are kept in memory; ``dump``
writes them out when the run ends. Spark counters are read from the
driver's status store after the measured work: each span owns the stages
submitted inside its wall-clock interval (a closed loop from one driver
thread, so the intervals of sibling spans never share a stage).
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.t0 = time.perf_counter()
        self._epoch0 = time.time()
        self.bookkeeping_s = 0.0   # time spent inside span enter/exit

    def now(self) -> float:
        return time.perf_counter() - self.t0

    @contextmanager
    def span(self, name: str, **attrs):
        b0 = time.perf_counter()
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": self.now(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self.bookkeeping_s += time.perf_counter() - b0
        try:
            yield rec
        finally:
            b1 = time.perf_counter()
            rec["end"] = self.now()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - b1

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> dict:
        """A span whose interval was derived from other spans' boundaries."""
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "start": start, "end": end, **attrs}
        self.spans.append(rec)
        return rec

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def coverage(self, end: float) -> float:
        """Share of [0, end] covered by top-level spans."""
        top = sorted((s["start"], s["end"]) for s in self.spans if s["parent"] is None)
        covered, cur = 0.0, 0.0
        for a, b in top:
            a = max(a, cur)
            if b > a:
                covered += b - a
                cur = b
        return covered / end if end > 0 else 0.0

    def attach_spark(self, spark, names: set[str]) -> None:
        """Status-store counters for every span named in ``names``."""
        stages = stage_table(spark)
        for s in self.spans:
            if s["name"] not in names:
                continue
            lo = (self._epoch0 + s["start"]) * 1000
            hi = (self._epoch0 + s["end"]) * 1000
            own = [st for st in stages if lo <= st["submitted_ms"] <= hi]
            wall = s["end"] - s["start"]
            task_s = sum(st["run_ms"] for st in own) / 1000
            s["spark"] = {
                "jobs": len({j for st in own for j in st["jobs"]}),
                "stages": len(own),
                "tasks": sum(st["tasks"] for st in own),
                "task_s": task_s,
                "cpu_s": sum(st["cpu_ns"] for st in own) / 1e9,
                "shuffle_write_bytes": sum(st["shuffle_write"] for st in own),
                "cpu_util": task_s / (wall * spark.sparkContext.defaultParallelism)
                if wall > 0 else 0.0,
                "max_task_share": max((st["max_task_ms"] for st in own), default=0.0)
                / 1000 / wall if wall > 0 else 0.0,
            }

    def dump(self, path: str, **extra) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh, ensure_ascii=False, indent=1)


def stage_table(spark) -> list[dict]:
    """Every executed (non-skipped) stage the status store retains."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    no_status = gw.jvm.java.util.ArrayList()
    no_q = gw.new_array(gw.jvm.double, 0)
    q_max = gw.new_array(gw.jvm.double, 1)
    q_max[0] = 1.0
    job_of: dict[int, set[int]] = {}
    for jid in tracker.getJobIdsForGroup(None):
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            job_of.setdefault(sid, set()).add(jid)
    out = []
    for sid in sorted(job_of):
        seq = store.stageData(sid, False, no_status, False, no_q)
        for a in range(seq.size()):
            sd = seq.apply(a)
            sub = sd.submissionTime()
            if not sub.isDefined():
                continue  # skipped: its shuffle output came from an earlier stage
            summary = store.taskSummary(sid, sd.attemptId(), q_max)
            out.append({
                "stage": sid, "jobs": sorted(job_of[sid]),
                "submitted_ms": sub.get().getTime(),
                "tasks": sd.numCompleteTasks(),
                "run_ms": sd.executorRunTime(), "cpu_ns": sd.executorCpuTime(),
                "shuffle_write": sd.shuffleWriteBytes(),
                "max_task_ms": summary.get().executorRunTime().apply(0)
                if summary.isDefined() else 0.0,
            })
    return out


class RssSampler:
    """Peak summed RSS of a process tree (the JVM and its Python workers),
    sampled from /proc on a background thread."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.root_pid: int | None = None
        self.peak_bytes = 0
        self.pids_seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def tree(self) -> list[int]:
        if self.root_pid is None:
            return []
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [self.root_pid]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, []))
        return out

    def sample(self, pids: list[int] | None = None) -> int:
        total = 0
        for pid in self.tree() if pids is None else pids:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
                self.pids_seen.add(pid)
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _loop(self) -> None:
        # the process tree is re-read from /proc once a second, the RSS of
        # its processes ten times a second: a full /proc scan per sample
        # would take CPU from the measured work
        pids: list[int] = []
        k = 0
        while not self._stop.wait(self.interval):
            if k % 10 == 0:
                pids = self.tree()
            self.sample(pids)
            k += 1


def spin_probe() -> float:
    """Contention sentinel: wall time of a fixed single-threaded spin. The
    same loop run at the start and the end of a run; a max/min spread above
    1.2 means another process took CPU from this one."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(5_000_000):
        acc += i * i
    if not acc:
        raise RuntimeError("spin probe optimised away")
    return time.perf_counter() - t0
