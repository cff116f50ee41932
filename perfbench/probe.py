"""Measurement probes the benchmark attaches from outside the engine.

Nothing here changes engine code: the probes wrap public functions and
the py4j client from the benchmark process, and read Spark's status
tracker and status store.

- :class:`Py4jCounter` counts py4j commands sent to the JVM. Object
  release commands (``m``/``d``, sent whenever Python's garbage
  collector frees a proxy) are excluded, so the count repeats exactly
  from run to run.
- :class:`JobCounter` counts the Spark jobs, stages and tasks run since
  its last call, and sums the stages' shuffle-write and spill bytes.
- :class:`Tracer` keeps spans (name, start, end, parent, op id) in
  memory, with the py4j count of each span.
"""

from __future__ import annotations

import functools
import gc
import json
import os
import threading
import time
from contextlib import contextmanager


class Py4jCounter:
    """Counts py4j commands from every thread of this process.

    ``paused()`` suspends counting around the benchmark's own probe
    calls, so a count covers only the engine's commands."""

    def __init__(self, spark):
        self.n = 0
        self._pause = threading.local()
        self._lock = threading.Lock()
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command

        def send_command(command, *args, **kwargs):
            if not command.startswith("m\nd\n") and not getattr(self._pause, "on", False):
                with self._lock:  # the service thread sends too
                    self.n += 1
            return orig(command, *args, **kwargs)

        client.send_command = send_command

    @contextmanager
    def paused(self):
        prev = getattr(self._pause, "on", False)
        self._pause.on = True
        try:
            yield
        finally:
            self._pause.on = prev


class JobCounter:
    """Jobs, stages and tasks completed since the previous ``take()``.

    Job ids are dense integers, so new jobs are found by probing the
    status tracker from the last id seen. The listener bus is drained
    first, so jobs that just ended are visible."""

    def __init__(self, spark, py4j: Py4jCounter):
        self._sc = spark.sparkContext
        self._py4j = py4j
        self._next = 0
        with py4j.paused():
            self._skip_to_end()

    def _skip_to_end(self) -> None:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        while tracker.getJobInfo(self._next) is not None:
            self._next += 1

    def take(self) -> dict[str, int]:
        out = {"jobs": 0, "stages": 0, "tasks": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0}
        with self._py4j.paused():
            jsc = self._sc._jsc.sc()
            jsc.listenerBus().waitUntilEmpty()
            tracker = self._sc.statusTracker()
            store = jsc.statusStore()
            while True:
                info = tracker.getJobInfo(self._next)
                if info is None:
                    break
                self._next += 1
                out["jobs"] += 1
                for sid in info.stageIds:
                    stage = store.lastStageAttempt(int(sid))
                    if str(stage.status()) == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += int(stage.numCompleteTasks())
                    out["shuffle_write_bytes"] += int(stage.shuffleWriteBytes())
                    out["spill_bytes"] += int(stage.memoryBytesSpilled()) + int(
                        stage.diskBytesSpilled())
        return out


class Tracer:
    """In-memory spans plus per-span counts.

    A span records wall time and, when the tracer has a py4j counter,
    the py4j commands sent inside it. ``op(op_id)`` tags the spans of
    one benchmark operation; spans opened inside another span get it
    as their parent."""

    def __init__(self, py4j: Py4jCounter | None = None):
        self.py4j = py4j
        self.spans: list[dict] = []
        self._local = threading.local()
        self._op = None
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def op(self, op_id):
        prev, self._op = self._op, op_id
        try:
            yield
        finally:
            self._op = prev

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        rec = {"name": name, "op": self._op,
               "parent": stack[-1] if stack else None, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        p0 = self.py4j.n if self.py4j else 0
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if self.py4j:
                rec["py4j"] = self.py4j.n - p0
            stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that runs in a span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            for s in self.spans:
                row = dict(s, start=s["start"] - t0, end=s["end"] - t0)
                f.write(json.dumps(row) + "\n")


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM, in MB."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_retained_mb(spark) -> dict[str, float]:
    """Heap the driver JVM still holds after a full GC, and its
    non-heap use (metaspace, code cache), in MB."""
    # Python's collector runs at arbitrary moments; until it frees the
    # proxies of finished ops, py4j keeps their JVM objects alive
    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    # Spark's ContextCleaner frees the broadcast and shuffle blocks of
    # the objects that GC found unreachable; collect again after it
    time.sleep(0.5)
    jvm.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return {"heap": mx.getHeapMemoryUsage().getUsed() / 2**20,
            "non_heap": mx.getNonHeapMemoryUsage().getUsed() / 2**20}


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, with reaped children) of ``root`` and
    every process below it: the Python driver, the JVM and the Python
    workers. On a VM the kernel leaves time stolen by the hypervisor out
    of these counters."""
    stats = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name in parentheses may hold spaces
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[1] is the parent pid; fields[11:15] utime stime cutime cstime
        stats[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return total / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this VM, all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def tree_files(path: str) -> dict[str, int]:
    """Relative path -> size of every data file under ``path``
    (Spark's ``.crc`` and ``_SUCCESS`` markers left out)."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for name in files:
            if name.endswith(".crc") or name.startswith("_SUCCESS"):
                continue
            full = os.path.join(root, name)
            try:
                out[os.path.relpath(full, path)] = os.path.getsize(full)
            except OSError:
                pass
    return out
