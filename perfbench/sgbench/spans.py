"""In-memory span tracer for the traced run.

Spans are recorded only from the benchmark's side: around each op, and
around every public function of the layer modules, which
:meth:`Tracer.patch` swaps for a recording wrapper by module-attribute
assignment (callers look the function up on the module at call time, so
they reach the wrapper; ``Tracer.unpatch`` restores the originals).

While a span is open its id is the thread's Spark job group, so the
event log attributes every job to the innermost open span. Operators
are lazy: a span around one measures plan construction plus any jobs
the function runs eagerly; the lazy execution belongs to the enclosing
action span.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from types import ModuleType

GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "pb-span-"


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0


class _Traced:
    """Recording stand-in for a module function.

    Pickles as a by-reference lookup of the original on its module, so a
    Python UDF that closes over a patched function ships the untraced
    original to the workers."""

    def __init__(self, tracer: Tracer, fn, layer: str):
        functools.update_wrapper(self, fn)
        self._fn, self._tracer, self._layer = fn, tracer, layer
        self._span_name = f"{layer}.{fn.__name__}"

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._span_name, self._layer):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return getattr, (sys.modules[self._fn.__module__], self._fn.__name__)


class Tracer:
    def __init__(self, sc):
        self._sc = sc
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack = self._stack()
        self._patched: list[tuple[ModuleType, str, object]] = []
        self.spans: list[Span] = []

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        # a streaming foreachBatch callback runs on another thread while
        # the main thread waits inside the feed call: hang its spans
        # under the main thread's innermost span
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        span = Span(
            span_id=next(self._ids),
            name=name,
            layer=layer,
            parent=parent.span_id if parent else None,
            op=(parent.op if parent else None),
            start=time.time(),
        )
        if span.op is None:
            span.op = span.span_id
        previous = self._sc.getLocalProperty(GROUP_KEY)
        self._sc.setLocalProperty(GROUP_KEY, f"{GROUP_PREFIX}{span.span_id}")
        stack.append(span)
        try:
            yield span
        finally:
            stack.pop()
            self._sc.setLocalProperty(GROUP_KEY, previous)
            span.end = time.time()
            self.spans.append(span)

    def patch(self, module: ModuleType, layer: str) -> None:
        """Wrap every public function defined in ``module``."""
        for name, obj in list(vars(module).items()):
            if (
                not name.startswith("_")
                and inspect.isfunction(obj)
                and obj.__module__ == module.__name__
            ):
                self._patched.append((module, name, obj))
                setattr(module, name, _Traced(self, obj, layer))

    def patch_function(self, module: ModuleType, name: str, layer: str) -> None:
        """Wrap one (possibly private) function of ``module``."""
        obj = getattr(module, name)
        self._patched.append((module, name, obj))
        setattr(module, name, _Traced(self, obj, layer))

    def unpatch(self) -> None:
        for module, name, obj in reversed(self._patched):
            setattr(module, name, obj)
        self._patched.clear()

    def dump(self, path) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.span_id):
                fh.write(json.dumps(asdict(s)) + "\n")


def span_of_group(group: str | None) -> int | None:
    if group and group.startswith(GROUP_PREFIX):
        return int(group[len(GROUP_PREFIX):])
    return None
