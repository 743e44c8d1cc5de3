"""Measurement helpers: spans, Spark status-store deltas, memory.

Everything here observes the program from outside: spans wrap the
package's public entry points (and the module-level references the
pipeline resolves at call time), and engine counters come from the
status store Spark keeps for its own UI, which is populated even when
the UI is disabled.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent,
    op); spans nest through a stack, since one driver thread issues
    every call. ``enabled`` False makes every span a no-op."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "op": self.op_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self, ops: set[int]) -> dict[str, dict]:
        """Per span name: calls, total and self seconds (duration minus
        the time its direct children cover) over spans of ``ops``."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            if s["op"] not in ops or s["end"] is None:
                continue
            row = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            d = s["end"] - s["start"]
            row["calls"] += 1
            row["total_s"] += d
            row["self_s"] += d - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")


def patch_module_refs(modules, target, replacement) -> int:
    """Point every module-level name bound to ``target`` at
    ``replacement``; returns how many references were rebound."""
    n = 0
    for mod in list(modules):
        for attr, val in list(vars(mod).items()):
            if val is target:
                setattr(mod, attr, replacement)
                n += 1
    return n


_STAGE_FIELDS = (
    "numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
    "inputBytes", "shuffleWriteBytes", "shuffleReadBytes", "outputBytes",
    "memoryBytesSpilled", "diskBytesSpilled", "numFailedTasks",
)


class StageReader:
    """Reads the stages and jobs Spark's status store recorded since the
    previous read. Both lists come newest-first, so a read stops at the
    first id it has already seen; reading after every operation keeps
    the store's retention limit from dropping stages between reads."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._empty = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self.last_stage = -1
        self.last_job = -1
        self.read()  # skip everything before the first measured op

    def _drain(self) -> None:
        # the store is fed asynchronously by the listener bus
        try:
            self._bus.waitUntilEmpty()
        except Exception:
            time.sleep(0.05)

    def read(self) -> dict:
        self._drain()
        stages = self._store.stageList(
            self._empty, False, False, self._no_quantiles, self._empty
        )
        out = {f: 0 for f in _STAGE_FIELDS}
        out.update(stages=0, intervals=[])
        it = stages.iterator()
        top = self.last_stage
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid <= self.last_stage:
                break
            top = max(top, sid)
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for f in _STAGE_FIELDS:
                out[f] += getattr(s, f)()
            sub, done = s.submissionTime(), s.completionTime()
            if sub.isDefined() and done.isDefined():
                out["intervals"].append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
        self.last_stage = top
        jobs = self._store.jobsList(self._empty).iterator()
        n_jobs, top = 0, self.last_job
        while jobs.hasNext():
            jid = jobs.next().jobId()
            if jid <= self.last_job:
                break
            top = max(top, jid)
            n_jobs += 1
        self.last_job = top
        out["jobs"] = n_jobs
        return out


def covered_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def steal_seconds() -> float:
    """CPU seconds stolen by the hypervisor since boot, all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring Spark's markers."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size
