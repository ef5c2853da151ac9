"""Spans around calls into the program's public functions, for the traced run.

:class:`Tracer` replaces each target function with a wrapper that
records a span (name, start, end, parent). Many modules bind a function
by name at import (``from graphem_rapids_spark.checkpoint import
eager_checkpoint as _eager_ckpt``), so the wrapper is written into the
defining module AND every loaded ``graphem_rapids_spark`` module
attribute that holds the same function object. Imports done inside a
function body read the defining module at call time and so reach the
wrapper too. :meth:`Tracer.restore` puts every original back.

Spans marked ``count_jobs`` also read the highest Spark job id (after
draining the listener bus) at entry and exit; that costs a round trip
to the JVM, so only coarse spans use it. With ``active`` false the
wrappers call straight through and record nothing.
"""

from __future__ import annotations

import functools
import sys
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    child_s: float = 0.0
    jobs: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.child_s


class Tracer:
    def __init__(self, job_id=None, package: str = "graphem_rapids_spark"):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._job_id = job_id
        self._package = package
        self._patches: list[tuple[object, str, object]] = []
        self.active = True

    # -- recording ----------------------------------------------------
    def _wrap(self, name: str, fn, count_jobs: bool):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            j0 = self._job_id() if count_jobs and self._job_id else 0
            span = Span(name, time.perf_counter(),
                        parent=self._stack[-1] if self._stack else -1)
            self.spans.append(span)
            idx = len(self.spans) - 1
            self._stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                self._stack.pop()
                if span.parent >= 0:
                    self.spans[span.parent].child_s += span.duration
                if count_jobs and self._job_id:
                    span.jobs = self._job_id() - j0

        wrapper.__perfbench_original__ = fn
        return wrapper

    # -- patching -----------------------------------------------------
    def _set(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def patch_function(self, module, attr: str, name: str | None = None,
                       count_jobs: bool = False) -> None:
        """Wrap ``module.attr`` and every name-bound alias of it."""
        fn = getattr(module, attr)
        wrapper = self._wrap(name or f"{module.__name__}.{attr}", fn, count_jobs)
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "") or ""
            if mod is not module and not mname.startswith(self._package):
                continue
            for key, val in list(vars(mod).items()):
                if val is fn:
                    self._set(mod, key, wrapper)

    def patch_method(self, cls, attr: str, name: str, count_jobs: bool = False) -> None:
        self._set(cls, attr, self._wrap(name, cls.__dict__[attr], count_jobs))

    def patch_module(self, module, prefix: str | None = None) -> list[str]:
        """Wrap every public function defined in ``module``."""
        names = []
        for key, val in list(vars(module).items()):
            if (callable(val) and not key.startswith("_") and not isinstance(val, type)
                    and getattr(val, "__module__", None) == module.__name__):
                self.patch_function(module, key, f"{prefix or module.__name__}.{key}")
                names.append(key)
        return names

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- summaries ----------------------------------------------------
    def clear(self) -> None:
        self.spans.clear()

    def summary(self) -> dict[str, dict]:
        """Per span name: calls, total duration of outermost calls (a
        recursive or nested call of the same name is not double
        counted), self time, and jobs."""
        out: dict[str, dict] = {}
        for s in self.spans:
            d = out.setdefault(s.name, {"calls": 0, "s": 0.0, "self_s": 0.0, "jobs": 0})
            d["calls"] += 1
            d["self_s"] += s.self_s
            if not self._inside_same(s):
                d["s"] += s.duration
                d["jobs"] += s.jobs
        return out

    def _inside_same(self, span: Span) -> bool:
        p = span.parent
        while p >= 0:
            if self.spans[p].name == span.name:
                return True
            p = self.spans[p].parent
        return False

    def module_totals(self, prefix: str) -> float:
        """Wall time spent inside any span whose name starts with
        ``prefix``, counting only the outermost such span."""
        total = 0.0
        for s in self.spans:
            if not s.name.startswith(prefix):
                continue
            p, nested = s.parent, False
            while p >= 0:
                if self.spans[p].name.startswith(prefix):
                    nested = True
                    break
                p = self.spans[p].parent
            if not nested:
                total += s.duration
        return total
