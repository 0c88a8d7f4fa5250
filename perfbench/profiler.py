"""Measurement from outside the engine: Spark job phases, Python spans,
process-tree memory and host load.

Nothing here changes engine code. Phases read Spark's status store
(works with ``spark.ui.enabled=false``); spans wrap the engine's public
functions by replacing module attributes, and only while a
:class:`Tracer` is active.
"""

from __future__ import annotations

import functools
import inspect
import os
import sys
import threading
import time
import uuid
from contextlib import contextmanager

#: Counters summed over the stages of one phase, from ``v1.StageData``.
STAGE_FIELDS = {
    "task_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "output_bytes": "outputBytes",
}


class JobProfiler:
    """Runs a block under its own Spark job group and sums the job,
    stage and task counters Spark recorded for that group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    @contextmanager
    def phase(self, name: str, out: dict):
        """Fill ``out`` with the phase's wall time and Spark counters."""
        # Unique per phase: the status store keeps old groups' jobs.
        group = f"perfbench-{uuid.uuid4().hex}-{name}"
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield out
        finally:
            out["wall_s"] = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            out.update(self.group_stats(group))

    def group_stats(self, group: str) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        stats = {"jobs": len(job_ids), "stages": 0, "spill_bytes": 0}
        stats.update({k: 0 for k in STAGE_FIELDS})
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage evicted or never submitted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            stats["stages"] += 1
            for k, f in STAGE_FIELDS.items():
                stats[k] += int(getattr(sd, f)())
            stats["spill_bytes"] += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
        return stats


class Tracer:
    """In-memory spans around the public functions of chosen modules.

    :meth:`install` wraps each public function defined in a module and
    rebinds every reference to it held by the package's loaded modules,
    so both ``M.fn(...)`` and ``from M import fn`` call sites record a
    span. Spans are recorded only while :attr:`active` is set; the
    wrapper is otherwise a plain pass-through.
    """

    def __init__(self):
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def install(self, layers: dict[str, str], package: str) -> None:
        """``layers`` maps a layer name to the module that implements it."""
        originals = {}
        for layer, modname in layers.items():
            mod = sys.modules[modname]
            for name, fn in list(vars(mod).items()):
                if (
                    name.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != modname
                ):
                    continue
                originals[id(fn)] = self._wrap(fn, f"{layer}.{name}", layer)
        for modname, mod in list(sys.modules.items()):
            if modname != package and not modname.startswith(package + "."):
                continue
            for name, val in list(vars(mod).items()):
                wrapped = originals.get(id(val))
                if wrapped is not None and wrapped.__wrapped__ is val:
                    setattr(mod, name, wrapped)

    def _wrap(self, fn, span_name: str, layer: str):
        """A pass-through that records a span while the tracer is active.
        A ``path`` argument (the target of a sink) is kept on the span."""
        sig = inspect.signature(fn)
        takes_path = "path" in sig.parameters

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active or threading.current_thread() is not threading.main_thread():
                return fn(*args, **kwargs)
            attrs = {}
            if takes_path:
                attrs["path"] = sig.bind(*args, **kwargs).arguments.get("path")
            with self.span(span_name, layer, **attrs):
                return fn(*args, **kwargs)
        return wrapper

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        """A span around a block: a query phase, a medallion layer or a
        wrapped engine call."""
        if not self.active:
            yield {}
            return
        span = {"name": name, "layer": layer, "id": len(self.spans),
                "parent": self._stack[-1]["id"] if self._stack else None,
                "start": time.perf_counter(), "child_s": 0.0, **attrs}
        self.spans.append(span)
        self._stack.append(span)
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self._stack[-1]["child_s"] += span["end"] - span["start"]

    def layer_totals(self, since: int, until: int) -> dict[str, dict[str, float]]:
        """``{layer: {"calls": n, "self_s": s}}`` over spans[since:until]."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans[since:until]:
            t = out.setdefault(s["layer"], {"calls": 0, "self_s": 0.0})
            t["calls"] += 1
            t["self_s"] += (s["end"] - s["start"]) - s["child_s"]
        return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: a page shared by n processes counts 1/n
    to each, so a freshly forked child (the JVM forks helper commands;
    Python workers fork from one daemon) does not double the total."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM forks Python workers
    from threads other than its main one)."""
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return kids


def tree_pss_mb(root: int) -> float:
    """Memory of ``root`` and all its descendants (the driver JVM and the
    Python workers are descendants of the benchmark process)."""
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _pss_kb(pid)
        todo.extend(_children(pid))
    return total / 1024.0


class MemorySampler:
    """Samples the process tree's PSS on a background thread; ``peak()``
    returns the maximum since the last ``reset()``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        pid = os.getpid()
        while not self._stop.wait(self.interval_s):
            mb = tree_pss_mb(pid)
            with self._lock:
                self._peak = max(self._peak, mb)

    def reset(self) -> None:
        mb = tree_pss_mb(os.getpid())
        with self._lock:
            self._peak = mb

    def peak(self) -> float:
        mb = tree_pss_mb(os.getpid())
        with self._lock:
            return max(self._peak, mb)


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies from ``/proc/stat``."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


class HostWindow:
    """Steal share and 1-minute load average over one run."""

    def __enter__(self):
        self._t0 = cpu_jiffies()
        return self

    def __exit__(self, *exc):
        tot1, st1 = cpu_jiffies()
        self.steal_frac = (st1 - self._t0[1]) / max(tot1 - self._t0[0], 1)
        self.loadavg = os.getloadavg()[0]
