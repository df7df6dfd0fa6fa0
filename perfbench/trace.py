"""In-memory spans around the benchmark's calls into the program's
layers.  A disabled tracer records nothing and patches nothing, so
untraced runs execute the program untouched."""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from collections.abc import Callable, Iterator
from typing import Any


class Tracer:
    """Spans are ``{id, parent, name, start, end, attrs}``; the parent
    is the innermost open span of the calling thread."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[Any, str, Any]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[dict[str, Any]]:
        if not self.enabled:
            yield attrs
            return
        stack = self._stack()
        span = {
            "id": next(self._ids),
            "parent": stack[-1] if stack else None,
            "name": name,
            "attrs": attrs,
            "start": time.time(),
        }
        stack.append(span["id"])
        try:
            yield attrs
        finally:
            stack.pop()
            span["end"] = time.time()
            with self._lock:
                self.spans.append(span)

    def wrap(self, owner: Any, attr: str, name: str, on_call: Callable | None = None) -> None:
        """Record a span around every call of ``owner.attr``;
        ``on_call(attrs, args, kwargs, result)`` runs after the span
        closes and may add counts to its attributes."""
        if not self.enabled:
            return
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as attrs:
                result = original(*args, **kwargs)
            if on_call is not None:
                on_call(attrs, args, kwargs, result)
            return result

        self._patched.append((owner, attr, owner.__dict__.get(attr)))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, own in reversed(self._patched):
            if own is None:
                delattr(owner, attr)  # the attribute was inherited
            else:
                setattr(owner, attr, own)
        self._patched.clear()

    # -- derived figures --------------------------------------------------
    @staticmethod
    def ms(span: dict[str, Any]) -> float:
        return (span["end"] - span["start"]) * 1000.0

    def spans_named(self, name: str) -> list[dict[str, Any]]:
        return [s for s in self.spans if s["name"] == name]

    def durations_ms(self, name: str) -> list[float]:
        return [self.ms(s) for s in self.spans_named(name)]

    def parent_name(self, span: dict[str, Any]) -> str | None:
        if span["parent"] is None:
            return None
        return next((s["name"] for s in self.spans if s["id"] == span["parent"]), None)

    def self_times_ms(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of
        the interval its children cover (children of one span do not
        overlap: they run on the parent's thread)."""
        child_ms: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + self.ms(s)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + self.ms(s) - child_ms.get(s["id"], 0.0)
        return out

    def dump(self, path: str) -> None:
        """Write every span as one JSON line."""
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s, default=str) + "\n")
