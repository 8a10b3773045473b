"""In-memory spans recorded around calls into the engine's modules.

The benchmark never edits the engine: a `Tracer` replaces a function or
method attribute with a wrapper that opens a span, calls through and
closes the span, and `restore()` puts every original back. Spans live in
a list until the run ends; each has a name, a start and end on the
`time.perf_counter` clock, and the id of the span that was open when it
started (its parent). Only the thread that created the tracer records
spans; calls from other threads pass straight through.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans = []  # dicts: id, parent, name, start, end, attrs
        self._stack = []
        self._patched = []
        self._thread = threading.get_ident()

    @contextmanager
    def span(self, name, **attrs):
        if threading.get_ident() != self._thread:
            yield None
            return
        rec = {"id": len(self.spans),
               "parent": self._stack[-1]["id"] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None,
               "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add_span(self, name, start, end, parent, **attrs):
        """Record a span measured elsewhere (e.g. the engine's own phase
        clock), clamped inside its parent so the tree stays nested."""
        if parent is not None:
            start = max(start, parent["start"])
            end = min(end, parent["end"])
        rec = {"id": len(self.spans),
               "parent": parent["id"] if parent else None,
               "name": name, "start": start, "end": max(start, end),
               "attrs": attrs}
        self.spans.append(rec)
        return rec

    def patch(self, owner, attr, name):
        """Wrap ``owner.attr`` (a module function, a class's method or an
        instance's bound method) in a span called ``name``."""
        own = attr in vars(owner)
        saved = vars(owner)[attr] if own else None
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, own, saved))

    def restore(self):
        while self._patched:
            owner, attr, own, saved = self._patched.pop()
            if own:
                setattr(owner, attr, saved)
            else:
                delattr(owner, attr)

    # --- summaries ----------------------------------------------------------

    def closed(self):
        return [s for s in self.spans if s["end"] is not None]

    def totals(self):
        """{name: (count, inclusive seconds, self seconds)} per span
        name. Self time is the span's duration minus the time its direct
        children cover."""
        child_time = defaultdict(float)
        for s in self.closed():
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(lambda: [0, 0.0, 0.0])
        for s in self.closed():
            d = s["end"] - s["start"]
            t = out[s["name"]]
            t[0] += 1
            t[1] += d
            t[2] += d - child_time[s["id"]]
        return {k: tuple(v) for k, v in out.items()}

    def nesting_errors(self):
        """Spans that are not inside their parent's interval."""
        by_id = {s["id"]: s for s in self.spans}
        bad = []
        for s in self.spans:
            if s["end"] is None:
                bad.append((s["name"], "never closed"))
                continue
            p = by_id.get(s["parent"])
            if p is not None and not (p["start"] <= s["start"]
                                      and s["end"] <= p["end"]):
                bad.append((s["name"], f"outside {p['name']}"))
        return bad

