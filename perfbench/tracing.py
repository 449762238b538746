"""Spans recorded around calls into the engine's layers.

Spans are kept in memory (name, start, end, parent) and written out when
the run ends. A layer's self time is its span's duration minus the part of
that interval its child spans cover. The spans come only from the
benchmark's own files: it wraps the public names a module imports, for the
length of one traced pass, and restores them afterwards.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        # [id, name, start, end, parent] — lists, so an open span can close
        self.spans: list[list] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = [sid, name, time.perf_counter(), None,
               self._stack[-1] if self._stack else None]
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec[3] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, n: float) -> None:
        self.counts[name] += n

    def busy_s(self, name: str) -> float:
        """Total duration of the closed spans called ``name``."""
        return sum(s[3] - s[2] for s in self.spans
                   if s[1] == name and s[3] is not None)

    def self_s(self) -> dict[str, float]:
        """Per span name: duration minus the union of its children."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s[4] is not None and s[3] is not None:
                kids[s[4]].append((s[2], s[3]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s[3] is None:
                continue
            covered, hi = 0.0, s[2]
            for a, b in sorted(kids.get(s[0], ())):
                a, b = max(a, hi), min(b, s[3])
                if b > a:
                    covered += b - a
                    hi = b
            out[s[1]] += (s[3] - s[2]) - covered
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({
                "spans": [{"id": s[0], "name": s[1], "start": s[2],
                           "end": s[3], "parent": s[4]}
                          for s in self.spans],
                "counts": dict(self.counts),
            }, f)


def timed(tracer: Tracer, name: str, fn, counts=None):
    """``fn`` run inside ``tracer.span(name)``; ``counts(args, result)``,
    if given, returns counts to add to the tracer's."""
    def traced(*args, **kwargs):
        with tracer.span(name):
            res = fn(*args, **kwargs)
        if counts is not None:
            for k, v in counts(args, res).items():
                tracer.count(k, v)
        return res
    return traced


@contextmanager
def patched(module, make: dict):
    """Replace each ``module.<attr>`` in ``make`` by ``make[attr](original)``
    and put the originals back on exit."""
    saved = {attr: getattr(module, attr) for attr in make}
    try:
        for attr, fn in saved.items():
            setattr(module, attr, make[attr](fn))
        yield
    finally:
        for attr, fn in saved.items():
            setattr(module, attr, fn)
