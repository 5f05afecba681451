"""Per-layer tracing from outside the library.

``Tracer`` wraps every public function and public class method of the
loaded ``csvplus_spark`` modules, plus the names ``__spark_entry__`` bound
at import, so each call records a span (name, layer, start, end, parent,
pass id). Each span also tags the Spark jobs it fires: on entry it sets
the thread's job group to the span's own id, so a job counts against the
innermost open span. ``SparkStats`` then reads Spark's in-process status
store (no UI, no network) for the jobs and stages of those groups.

``uninstall`` restores every original, so untraced passes run the
library exactly as shipped. Wrappers carry the original's module and
qualified name; pickling one (e.g. inside a UDF closure) resolves to the
plain function on the Python workers, which are never patched.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import os
import sys
import threading
import time
import types

_GROUP_KEY = "spark.jobGroup.id"


def layer_of(module: str) -> str:
    """Layer name of a ``csvplus_spark`` module: ``operators.<m>`` for the
    operators package, else the first component under the package."""
    parts = module.split(".")[1:]
    if not parts:
        return "package"
    if parts[0] == "operators" and len(parts) > 1:
        return "operators." + parts[1]
    return parts[0]


class Span:
    __slots__ = ("sid", "name", "layer", "start", "end", "parent", "pass_id",
                 "in_exec")

    def __init__(self, sid, name, layer, parent, pass_id, in_exec):
        self.sid = sid
        self.name = name
        self.layer = layer
        self.parent = parent
        self.pass_id = pass_id
        #: inside a terminal action: its jobs and time count as execution
        self.in_exec = in_exec
        self.start = time.perf_counter()
        self.end = None

    def group(self) -> str:
        return f"perfbench-{self.sid}"


class Tracer:
    """Records spans while installed; see the module docstring."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.pass_id = -1
        self._thread = threading.get_ident()
        self._patches: list[tuple[object, str, object]] = []
        self._wrappers: dict[int, object] = {}

    # -- spans -------------------------------------------------------------

    def open(self, name: str, layer: str) -> Span | None:
        if threading.get_ident() != self._thread:
            return None
        parent = self.stack[-1] if self.stack else None
        span = Span(len(self.spans), name, layer,
                    parent.sid if parent else None, self.pass_id,
                    bool(parent and (parent.in_exec or parent.layer == "spark.exec")))
        self.spans.append(span)
        self.stack.append(span)
        self.sc.setLocalProperty(_GROUP_KEY, span.group())
        return span

    def close(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        self.stack.pop()
        self.sc.setLocalProperty(
            _GROUP_KEY, self.stack[-1].group() if self.stack else None)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        span = self.open(name, layer)
        try:
            yield span
        finally:
            self.close(span)

    # -- patching ----------------------------------------------------------

    def _wrap(self, fn, layer: str):
        w = self._wrappers.get(id(fn))
        if w is not None:
            return w
        tracer = self
        name = f"{fn.__module__.split('.', 1)[-1]}.{fn.__qualname__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = tracer.open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(span)

        self._wrappers[id(fn)] = traced
        return traced

    def _set(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def install(self, entry_module: types.ModuleType) -> None:
        """Wrap the public functions and methods of every loaded
        ``csvplus_spark`` module and rebind the matching names in every
        such module and in ``entry_module``."""
        mods = [m for n, m in list(sys.modules.items())
                if m is not None and (n == "csvplus_spark"
                                      or n.startswith("csvplus_spark."))]
        originals: dict[int, object] = {}
        for m in mods:
            for attr, obj in list(vars(m).items()):
                if attr.startswith("_"):
                    continue
                if isinstance(obj, types.FunctionType) \
                        and obj.__module__ == m.__name__:
                    originals[id(obj)] = self._wrap(obj, layer_of(m.__name__))
                elif inspect.isclass(obj) and obj.__module__ == m.__name__:
                    for mattr, meth in list(vars(obj).items()):
                        if mattr.startswith("_"):
                            continue
                        layer = layer_of(m.__name__)
                        if isinstance(meth, types.FunctionType):
                            self._set(obj, mattr, self._wrap(meth, layer))
                        elif isinstance(meth, (classmethod, staticmethod)):
                            kind = type(meth)
                            self._set(obj, mattr, kind(
                                self._wrap(meth.__func__, layer)))
        for m in mods + [entry_module]:
            for attr, obj in list(vars(m).items()):
                w = originals.get(id(obj))
                if w is not None:
                    self._set(m, attr, w)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()
        self.sc.setLocalProperty(_GROUP_KEY, None)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it that child spans cover."""
    child: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
    return {s.sid: (s.end - s.start) - child.get(s.sid, 0.0) for s in spans}


# -- Spark status store ------------------------------------------------------

class SparkStats:
    """Reads job and stage metrics for job groups from the live status
    store of ``sc`` (``statusTracker`` + ``statusStore``)."""

    def __init__(self, sc):
        self.sc = sc
        self.jsc = sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.tracker = sc.statusTracker()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the final metrics of the jobs that just ran."""
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def stages(self, job_ids: list[int]) -> list[dict]:
        seen: set[int] = set()
        out = []
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._stage(sid)
                if st is not None:
                    out.append(st)
        return out

    def _stage(self, sid: int) -> dict | None:
        from py4j.protocol import Py4JJavaError

        try:
            sd = self.store.lastStageAttempt(sid)
        except Py4JJavaError:  # NoSuchElementException: evicted from store
            return None
        if str(sd.status().toString()) == "SKIPPED":
            return None

        def ms(opt):
            return opt.get().getTime() / 1000.0 if opt.isDefined() else None

        return {
            "tasks": sd.numTasks(),
            "task_run_s": sd.executorRunTime() / 1e3,
            "task_cpu_s": sd.executorCpuTime() / 1e9,
            "jvm_gc_s": sd.jvmGcTime() / 1e3,
            "input_bytes": sd.inputBytes(),
            "output_bytes": sd.outputBytes(),
            "shuffle_read_bytes": sd.shuffleReadBytes(),
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            "peak_exec_mem_bytes": sd.peakExecutionMemory(),
            "start": ms(sd.submissionTime()),
            "end": ms(sd.completionTime()),
        }


def uncovered(t0: float, t1: float, intervals) -> float:
    """Length of [t0, t1] that no interval covers."""
    covered, cur = 0.0, t0
    for a, b in sorted((max(a, t0), min(b, t1)) for a, b in intervals
                       if a is not None and b is not None):
        if b <= cur:
            continue
        covered += b - max(a, cur)
        cur = b
    return max(0.0, (t1 - t0) - covered)


# -- /proc -------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields resume after the closing paren
    return data[data.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Every live process below ``root``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def pyworker_cpu_s() -> float:
    """CPU seconds used so far by the PySpark worker daemon and its
    workers, reaped ones included (their time lands in the daemon's
    cutime/cstime)."""
    total = 0
    for pid in descendants(os.getpid()):
        cmd = _cmdline(pid)
        if "pyspark.daemon" not in cmd and "pyspark.worker" not in cmd:
            continue
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def reset_peak_rss(pids) -> None:
    """Restart the kernel's per-process RSS high-water mark (VmHWM)."""
    for pid in pids:
        with contextlib.suppress(OSError):
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")


def peak_rss_mb(pids) -> float:
    """Sum of the processes' RSS high-water marks (VmHWM), in MB."""
    total = 0
    for pid in pids:
        with contextlib.suppress(OSError):
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
                        break
    return total / 1024.0
