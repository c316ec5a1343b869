"""Spans recorded from outside the program.

The benchmark wraps public entry points of ``ezdata_spark`` modules
(operators, sources, ``expr.translate``, ``EzTable`` methods, ``cache``)
by rebinding the module attributes that point at them.  Each call then
opens a span with a name, start, end, parent and query id, and sets a
Spark job group naming the span, so jobs the call starts can be
attributed to it afterwards (:func:`attribute_jobs`).

Only functions that run on the driver while a query is built are
wrapped: a function handed to a UDF is pickled and would carry the
tracer into the Python workers.  ``functools.wraps`` keeps the wrapper's
``__module__``/``__qualname__`` equal to the original's, so a wrapped
module-level function that a UDF references by name still pickles by
reference and resolves to the unwrapped original on the workers.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import os
import sys
import threading
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-"
# a wrapped function with one of these prefixes writes an artifact; its
# span records the bytes under its output path
WRITER_PREFIXES = ("write_", "save_")


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    parent: int | None
    query: str | None
    end: float | None = None
    bytes_written: int = 0
    jobs: list = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.sid}"


class Tracer:
    """Records spans in memory; one per benchmark run.

    ``sc`` is the SparkContext whose job group is set while a span is
    open (``None`` in unit tests).  ``clock`` returns wall-clock seconds
    since the epoch, the time base of the Spark UI's job timestamps.
    """

    def __init__(self, sc=None, clock=time.time):
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self.query: str | None = None
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # ----------------------------------------------------------- spans
    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        self.sc.setLocalProperty("spark.jobGroup.id", None if span is None else span.group)
        self.sc.setLocalProperty("spark.job.description", None if span is None else span.name)

    def open(self, name: str, layer: str) -> Span:
        stack = self._stack()
        # a span opened on a helper thread (an operator overlapping its
        # writes) is parented to the main thread's innermost open span
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            span = Span(len(self.spans), name, layer, self.clock(),
                        None if parent is None else parent.sid, self.query)
            self.spans.append(span)
        stack.append(span)
        self._set_group(span)
        return span

    def close(self, span: Span) -> None:
        span.end = self.clock()
        stack = self._stack()
        stack.remove(span)
        self._set_group(stack[-1] if stack else None)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        span = self.open(name, layer)
        try:
            yield span
        finally:
            self.close(span)

    # ------------------------------------------------------- wrapping
    def wrap(self, fn, layer: str, measure_path: bool = False):
        name = f"{layer}.{fn.__name__}"
        path_of = _path_argument(fn) if measure_path else None

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(span)
                if path_of is not None:
                    span.bytes_written = _tree_bytes(path_of(args, kwargs))

        return traced

    def install(self, targets: list[tuple[str, str, str]]) -> None:
        """Wrap each ``(module, attribute, layer)`` target and rebind it
        in every loaded ``ezdata_spark`` module that holds it, so both
        lazy ``from .x import f`` and module-level imports see the
        wrapper."""
        for module_name, attr, layer in targets:
            original = getattr(sys.modules[module_name], attr)
            wrapped = self.wrap(original, layer, measure_path=attr.startswith(WRITER_PREFIXES))
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith("ezdata_spark"):
                    continue
                for key, value in list(vars(mod).items()):
                    if value is original:
                        self._patches.append((mod, key, value))
                        setattr(mod, key, wrapped)

    def install_methods(self, cls, layer: str) -> None:
        """Wrap the public plain methods of ``cls`` (not properties,
        class- or static methods)."""
        for key, value in list(vars(cls).items()):
            if key.startswith("_") or not inspect.isfunction(value):
                continue
            self._patches.append((cls, key, value))
            setattr(cls, key, self.wrap(value, layer))

    def uninstall(self) -> None:
        while self._patches:
            owner, key, value = self._patches.pop()
            setattr(owner, key, value)


def _path_argument(fn):
    """Return a getter for the output-path argument (``path`` or
    ``dir_path``) of a writer, or ``None`` when it has none."""
    params = list(inspect.signature(fn).parameters)
    for name in ("path", "dir_path"):
        if name in params:
            idx = params.index(name)
            return lambda args, kwargs: kwargs.get(name, args[idx] if idx < len(args) else None)
    return None


def _tree_bytes(path) -> int:
    if not isinstance(path, (str, os.PathLike)) or not os.path.exists(path):
        return 0
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


# ------------------------------------------------------------ analysis
def self_times(spans: list[Span]) -> dict[int, float]:
    """Duration of each closed span minus the part of its interval that
    its children cover.  Children may overlap each other (helper
    threads); the union of their intervals, clipped to the parent, is
    subtracted once."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        if s.end is None:
            continue
        intervals = sorted(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.sid, []) if c.end is not None
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in intervals:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = (s.end - s.start) - covered
    return out


def attribute_jobs(spans: list[Span], jobs: list[dict]) -> list[dict]:
    """Attach each job to one span and return the jobs left over.

    A job whose group names a span belongs to it.  A job without one
    (started from a thread that did not inherit the group) belongs to
    the innermost span whose interval holds its submission time.  Jobs
    carry ``group`` (str or None) and ``submitted`` (epoch seconds)."""
    by_group = {s.group: s for s in spans}
    unattributed = []
    for job in jobs:
        span = by_group.get(job.get("group") or "")
        if span is None:
            t = job["submitted"]
            holding = [s for s in spans if s.start <= t <= (s.end if s.end is not None else t)]
            span = max(holding, key=lambda s: (s.start, s.sid)) if holding else None
        if span is None:
            unattributed.append(job)
        else:
            span.jobs.append(job)
    return unattributed


def subtree(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span below it."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(children.get(s.sid, []))
    return out
