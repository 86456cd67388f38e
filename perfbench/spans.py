"""Spans timed from outside the engine: wrap a module's public function
and replace it everywhere it is looked up, so a call made through a
by-name import (``from .runner import run_stream``) is timed too.
"""

from __future__ import annotations

import functools
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "sparkstreamingstateful_spark"


class Tracer:
    """In-memory span recorder.  A span is ``[name, start, end, parent,
    run]``; ``parent`` is the index of the enclosing span or -1, ``run``
    the label of the pass it belongs to.  ``enabled`` gates recording
    only: wrapped functions always run, and their ``after`` hooks always
    fire."""

    def __init__(self) -> None:
        self.enabled = False
        self.run = "setup"
        self.spans: list[list] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, self.run])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def wrap(self, fn, name: str, after=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            with self.span(name):
                result = fn(*args, **kwargs)
            if after is not None:
                after(result, time.perf_counter() - t0)
            return result

        return wrapper

    def totals(self, run: str) -> dict[str, dict[str, float]]:
        """Per span name: call count, total and self seconds for ``run``."""
        child_s = defaultdict(float)
        for name, t0, t1, parent, _ in self.spans:
            if parent >= 0 and t1 is not None:
                child_s[parent] += t1 - t0
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0}
        )
        for idx, (name, t0, t1, _, r) in enumerate(self.spans):
            if r != run or t1 is None:
                continue
            rec = out[name]
            rec["calls"] += 1
            rec["total_s"] += t1 - t0
            rec["self_s"] += t1 - t0 - child_s[idx]
        return dict(out)


def patch_everywhere(module, attr: str, wrapper) -> int:
    """Set ``module.attr = wrapper`` and rebind every loaded package
    module that imported the original by name.  Returns the rebind count."""
    original = getattr(module, attr)
    count = 0
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith(PACKAGE):
            continue
        for key, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, key, wrapper)
                count += 1
    return count
