"""In-memory span tracer for the traced run.

Spans are recorded around the calls into each layer, from the benchmark's
own code: ``Tracer.wrap`` replaces a module or class attribute with a
wrapper that records a span and calls the original, and ``restore`` puts
every original back. Each span holds its name, start, end, the span that
caused it (the operation it ran under) and the operation id shared by one
request. Spans from the coordinator's worker threads attach to the
operation that is current when they start, which is the one the single
client thread is running.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    op_id: int | None
    parent_id: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._op: Span | None = None
        self._patched: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans --
    def _open(self, name: str, attrs: dict | None = None) -> Span:
        op = self._op
        return Span(next(self._ids), name, op.op_id if op else None,
                    op.span_id if op else None, time.perf_counter(),
                    attrs=attrs or {})

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self.spans.append(span)

    @contextmanager
    def op(self, name: str, **attrs):
        """One client operation: the root span its layer spans attach to."""
        span = self._open(name, attrs)
        span.op_id = span.span_id
        span.parent_id = None
        prev, self._op = self._op, span
        try:
            yield span
        finally:
            self._op = prev
            self._close(span)

    def wrap(self, owner, attr: str, name: str, measure=None, outcome=None) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr``. ``measure(args, kwargs)`` and ``outcome(result)``
        may return dicts of counts stored on the span."""
        original = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            span = tracer._open(name, measure(args, kwargs) if measure else None)
            try:
                result = original(*args, **kwargs)
                if outcome:
                    span.attrs.update(outcome(result))
                return result
            finally:
                tracer._close(span)

        wrapper.__wrapped__ = original
        wrapper.__name__ = getattr(original, "__name__", attr)
        wrapper.__doc__ = getattr(original, "__doc__", None)
        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, original))

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    # ---------------------------------------------------------- queries --
    def ops(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.op_id == s.span_id]

    def children(self, op: Span, name: str | None = None) -> list[Span]:
        return [s for s in self.spans if s.op_id == op.op_id
                and s.span_id != op.span_id and (name is None or s.name == name)]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def covered(spans: list[Span], lo: float, hi: float) -> float:
    """Length of the union of the spans' intervals, clipped to [lo, hi]."""
    iv = sorted((max(s.start, lo), min(s.end, hi)) for s in spans)
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(tracer: Tracer, op: Span) -> float:
    """The operation's duration minus the part its layer spans cover."""
    return op.dur - covered(tracer.children(op), op.start, op.end)


def install_layer_wrappers(tracer: Tracer) -> None:
    """Wrap the public entry points of every layer the workloads cross."""
    import pyarrow.parquet as pq

    from librecatastro_spark.analyzer import Analyzer
    from librecatastro_spark.engine import wand
    from librecatastro_spark.streaming import incremental

    # must run before an index opens: refresh() binds Analyzer.analyze
    tracer.wrap(Analyzer, "analyze", "analyze")
    tracer.wrap(pq.ParquetFile, "read_row_groups", "seek.read",
                lambda a, k: {"row_groups": len(a[1] if len(a) > 1 else k["row_groups"])})
    tracer.wrap(wand, "decode_varbyte", "decode",
                lambda a, k: {"bytes_in": len(a[0] if a else k["buf"])})
    tracer.wrap(wand.CompressedIndex, "refresh", "CompressedIndex.refresh")
    for attr in ("append_batch", "delete_batch", "recover_index"):
        tracer.wrap(incremental, attr, attr)
    tracer.wrap(incremental, "compact_term_stats", "compact_term_stats",
                outcome=lambda fired: {"fired": bool(fired)})
