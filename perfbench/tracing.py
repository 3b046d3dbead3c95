"""In-memory spans recorded from the benchmark's own code.

A span has a name, start, end, parent span and request id. Spans come
from two places: ``Tracer.span`` blocks around the calls the benchmark
makes into each layer, and ``Tracer.wrap``, which replaces a module's
public function with a timing wrapper for the duration of a traced run
(in this process only: Spark's Python workers are out of reach, which
is why segment requests are replayed in-process when traced).

A layer's self time is its span's duration minus the time its child
spans cover.
"""

from __future__ import annotations

import contextlib
import itertools
import statistics
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.request: str | None = None
        self._stack: list[int] = []
        self._ids = itertools.count()
        self._restore: list[tuple[object, str, object]] = []
        self._t0 = time.perf_counter()

    def _record(self, sid: int, name: str, start: float, parent, attrs) -> None:
        span = {
            "id": sid,
            "name": name,
            "start": start - self._t0,
            "end": time.perf_counter() - self._t0,
            "parent": parent,
            "request": self.request,
        }
        if attrs:
            span.update(attrs)
        self.spans.append(span)

    def _open(self) -> tuple[int, int | None]:
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        return sid, parent

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid, parent = self._open()
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self._record(sid, name, start, parent, attrs)

    def wrap(self, owner, attr: str, name: str, size=None) -> None:
        """Time every call of ``owner.attr`` as a span called ``name``;
        ``size(args)`` optionally records the bytes the call handled."""
        orig = getattr(owner, attr)

        def timed(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            sid, parent = self._open()
            start = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                self._stack.pop()
                self._record(
                    sid, name, start, parent,
                    {"bytes": size(args)} if size is not None else None,
                )

        setattr(owner, attr, timed)
        self._restore.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    # -- summaries -------------------------------------------------------

    def durations(self, name: str) -> list[float]:
        """Seconds of every span called ``name``."""
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def per_request(self, name: str, value=None) -> list[float]:
        """Per traced request: the summed ``value(span)`` (default: its
        seconds) of the spans called ``name``; requests without one
        count as 0."""
        totals: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["request"] is not None:
                totals[s["request"]] += 0.0
                if s["name"] == name:
                    totals[s["request"]] += (
                        value(s) if value else s["end"] - s["start"]
                    )
        return list(totals.values())

    def self_times(self) -> dict[str, float]:
        """Median per request of each span name's summed self time, ms."""
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        per: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            if s["request"] is not None:
                own = s["end"] - s["start"] - child[s["id"]]
                per[s["name"]][s["request"]] += own
        return {
            name: round(statistics.median(v.values()) * 1e3, 4)
            for name, v in sorted(per.items())
        }


def median_or_zero(values) -> float:
    """Median of the values, or 0 when the layer did no work here."""
    values = list(values)
    return statistics.median(values) if values else 0.0
