"""In-memory span recorder for the traced benchmark run.

The engine is imported unmodified; tracing replaces module attributes at
start-up with wrappers that record a span around each call. Callers
inside the engine resolve functions by module-global name (the batcher
calls ``search_many``, ``build_index`` calls its ``build_*_stage``
functions, ``merge`` calls ``build_docstats_stage``), so a wrapper must
replace the function in every engine module that bound it, not only in
the module that defines it.

A span records name, start, end, its parent span and the request id it
belongs to. Spans stay in memory until the run ends. A span's self time
is its duration minus the part of it covered by its child spans.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import threading
import time


class Recorder:
    """Thread-safe span store. Parents follow the per-thread call stack;
    a request id set with :meth:`request` is inherited by every span
    opened under it on the same thread."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0

    def _stack(self) -> list[dict]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def request(self, request_id: str | None):
        prev = getattr(self._local, "request", None)
        self._local.request = request_id
        try:
            yield
        finally:
            self._local.request = prev

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        with self._lock:
            span_id = self._next_id
            self._next_id += 1
        rec = {
            "id": span_id,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "request": getattr(self._local, "request", None),
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap_function(self, func, name: str, package: str, on_call=None):
        """Replace ``func`` in every loaded module of ``package`` that
        binds it. ``on_call(rec, args, kwargs, call)`` may run the call
        itself (to count work around it); by default the wrapper just
        calls through."""

        @functools.wraps(func)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                if on_call is None:
                    return func(*args, **kwargs)
                return on_call(rec, args, kwargs, func)

        replaced = 0
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (
                mod_name == package or mod_name.startswith(package + ".")
            ):
                continue
            for attr, value in list(vars(mod).items()):
                if value is func:
                    setattr(mod, attr, wrapper)
                    replaced += 1
        if not replaced:
            raise RuntimeError(f"{name}: no module binds {func!r}")
        return wrapper

    def wrap_method(self, cls, attr: str, name: str, request_id=None):
        """Wrap ``cls.attr``; ``request_id(self_obj)`` names the request
        the call serves, so spans below it share that id."""
        func = getattr(cls, attr)

        @functools.wraps(func)
        def wrapper(obj, *args, **kwargs):
            rid = request_id(obj) if request_id is not None else None
            ctx = self.request(rid) if rid is not None else contextlib.nullcontext()
            with ctx, self.span(name):
                return func(obj, *args, **kwargs)

        setattr(cls, attr, wrapper)

    def finished(self) -> list[dict]:
        with self._lock:
            return list(self.spans)


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the union of its children's intervals
    (clipped to the parent's own interval)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[int, float] = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
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
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
