"""In-memory span tracer, applied from the outside of the program.

``Tracer.wrap(owner, attr, name)`` replaces ``owner.attr`` (a module
function or a class method) by a wrapper that records a span around every
call; ``Tracer.restore()`` puts the originals back. Spans nest per thread
(foreachBatch callbacks of concurrent queries run on different threads),
share the run id, and carry the Spark job/task counters read at their
boundaries. Nothing is written until ``dump()``.
"""

from __future__ import annotations

import functools
import itertools
import json
import math
import threading
import time
import uuid


def percentile_allowed(n_samples: int, q: float) -> bool:
    """Report the q-quantile only if at least 10 samples lie beyond it."""
    return n_samples - math.ceil(q * n_samples - 1e-9) >= 10


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> its duration minus the part its children cover."""
    kids: dict[int | None, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids.get(s["id"], [])
        ):
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


class Tracer:
    def __init__(self, counters=None):
        """``counters()`` returns a dict of counts read at span boundaries."""
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._counters = counters or (lambda: {})
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def wrap(self, owner, attr: str, name: str | None = None, after=None):
        """Trace every call of ``owner.attr``. ``after(span, args, result)``
        may add fields to the span once the call has returned."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        label = name or attr
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(label) as sp:
                result = orig(*args, **kwargs)
                if after is not None:
                    after(sp, args, result)
                return result

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))
        return orig

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self": selfs[s["id"]]}, default=str) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t, self.rec = tracer, {"name": name, **attrs}

    def __enter__(self) -> dict:
        t, stack = self.t, self.t._stack()
        self.rec.update(
            id=next(t._ids),
            parent=stack[-1] if stack else None,
            run=t.run_id,
            thread=threading.current_thread().name,
            counters0=t._counters(),
            start=time.perf_counter(),
        )
        stack.append(self.rec["id"])
        return self.rec

    def __exit__(self, exc_type, exc, tb) -> None:
        t = self.t
        self.rec["end"] = time.perf_counter()
        self.rec["counters1"] = t._counters()
        self.rec["error"] = None if exc is None else repr(exc)
        t._stack().pop()
        with t._lock:
            t.spans.append(self.rec)
