"""Span recorder for the traced run.

A span is (name, start, end, parent span, op id), recorded around each call
into a layer of the package, from the benchmark's side only: the workloads
open spans around the calls they make, and ``install_operator_spans``
replaces the public functions of the operator modules with wrappers. Spans
stay in memory and are written out when the run ends. Spans that ask for it
also record the range of Spark job ids started while they were open.

A layer's self time is its span's duration minus that of its child spans
(one client thread, so children never overlap).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import time
from contextlib import contextmanager, nullcontext

OPERATOR_MODULES = [
    "relational", "ordered", "rollup", "dedup", "similarity", "text",
    "quality", "graph",
]


class NoTrace:
    """Stand-in for the untraced run: opens no spans."""

    enabled = False
    op = None

    def span(self, name: str, jobs: bool = False):
        return nullcontext()


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None
        self.next_job_id = None  # set once Spark is up

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        rec = {
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "wall": time.time(),
        }
        if jobs and self.next_job_id:
            rec["job_lo"] = self.next_job_id()
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if jobs and self.next_job_id:
                rec["job_hi"] = self.next_job_id()

    def self_times(self) -> list[float]:
        own = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def install_operator_spans(tracer: Tracer, package: str) -> None:
    """Wrap every public function defined in the operator modules, and
    rebind each name any loaded package module imported from them, so calls
    through either path open an ``operators.<module>.<function>`` span."""
    importlib.import_module(f"{package}.queries")
    wrapped: dict[int, object] = {}
    for short in OPERATOR_MODULES:
        mod = importlib.import_module(f"{package}.operators.{short}")
        for name, fn in list(vars(mod).items()):
            if (name.startswith("_") or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__):
                continue
            wrapped[id(fn)] = _wrap(tracer, f"operators.{short}.{name}", fn)
    for modname, mod in list(sys.modules.items()):
        if mod is None or not modname.startswith(package):
            continue
        for name, obj in list(vars(mod).items()):
            if id(obj) in wrapped:
                setattr(mod, name, wrapped[id(obj)])


def _wrap(tracer: Tracer, span_name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(span_name):
            return fn(*args, **kwargs)

    return traced
