"""In-memory spans around the engine's layer boundaries, and self-time sums.

Spark is lazy: a layer's DataFrame code only builds a plan, and the work runs
when ``sources.checkpoint.write_stage`` materializes that stage (the
pipeline's stage barrier). A span around ``write_stage``, keyed by stage
name, is therefore the busy time of the layer that built the stage.
``connected_components`` is the exception: it runs its rounds eagerly, before
the ``cc`` stage is written, so it gets a span of its own.

The wrappers are installed from this file by patching module attributes, so
the engine itself carries no tracing code. End-to-end numbers always come
from untraced runs.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

# Stage sink (or traced call) -> the per-layer metric its span time counts
# toward. Each span counts toward exactly one metric, so the layer times and
# ``pipeline.driver_s`` (the op's own self time) add up to the op wall time.
STAGE_METRIC = {
    "normalize": "normalize.s",
    "normalize_delta": "normalize.s",
    "block_token": "blocking.token_s",
    "block_sn": "blocking.sn_s",
    "pairs": "blocking.union_s",
    "score": "scoring.s",
    "edges": "scoring.edges_s",
    "edges_delta": "scoring.edges_s",
    "connected_components": "cc.s",
    "cc": "cc.s",
    "entities": "emit.s",
    "token_df": "catalog_state.s",
    "sn_index": "catalog_state.s",
    "sn_bounds": "catalog_state.s",
    "tok_index": "catalog_state.s",
    "pairs_delta": "incremental.pairs_s",
    "score_delta": "incremental.score_s",
    "cc_delta": "incremental.cc_s",
    "entities_delta": "incremental.emit_s",
}
CATALOG_STATE_STAGES = ("token_df", "sn_index", "sn_bounds", "tok_index")


@dataclass
class Span:
    name: str
    start: float
    end: float
    op_id: int
    parent: int | None  # index into Tracer.spans; None for the op span
    attrs: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its direct children cover.

    Children are clipped to their parent and overlapping children are
    merged, so for any span tree the self times sum to the root's duration.
    """
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(i, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
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
        out.append((s.end - s.start) - covered)
    return out


class Tracer:
    """Records spans for one op at a time; ``overhead_s`` is the tracer's
    own bookkeeping time inside the op."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.overhead_s: dict[int, float] = {}
        self._stack: list[int] = []
        self._op_id: int | None = None
        self._restore: list[tuple[object, str, object]] = []

    def begin_op(self, op_id: int) -> None:
        self._op_id = op_id
        self.overhead_s[op_id] = 0.0
        self._open("op")

    def end_op(self) -> Span:
        span = self._close()
        self._op_id = None
        return span

    def _open(self, name: str) -> None:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, self._op_id, parent))
        self._stack.append(len(self.spans) - 1)

    def _close(self) -> Span:
        span = self.spans[self._stack.pop()]
        span.end = time.perf_counter()
        return span

    def wrap(self, module, attr: str, name_of, on_result=None) -> None:
        """Replace ``module.attr`` with a spanning wrapper.

        ``name_of(*args, **kwargs)`` names the span; ``on_result(span,
        result)`` may copy counts from the call's result into the span.
        """
        inner = getattr(module, attr)

        def traced(*args, **kwargs):
            if self._op_id is None:
                return inner(*args, **kwargs)
            t0 = time.perf_counter()
            self._open(name_of(*args, **kwargs))
            t1 = time.perf_counter()
            try:
                result = inner(*args, **kwargs)
            finally:
                t2 = time.perf_counter()
                span = self._close()
            if on_result is not None:
                on_result(span, result)
            self.overhead_s[self._op_id] += (t1 - t0) + (
                time.perf_counter() - t2
            )
            return result

        self._restore.append((module, attr, inner))
        setattr(module, attr, traced)

    def uninstall(self) -> None:
        while self._restore:
            module, attr, inner = self._restore.pop()
            setattr(module, attr, inner)

    def op_spans(self, op_id: int) -> list[Span]:
        """The spans of one op, re-indexed so parents point into the list."""
        idx = [i for i, s in enumerate(self.spans) if s.op_id == op_id]
        pos = {old: new for new, old in enumerate(idx)}
        return [
            Span(
                s.name, s.start, s.end, s.op_id,
                None if s.parent is None else pos[s.parent], dict(s.attrs),
            )
            for s in (self.spans[i] for i in idx)
        ]


def layer_times(spans: list[Span]) -> dict[str, float]:
    """Self time per layer metric plus ``pipeline.driver_s`` (the op span's
    own self time: planning, driver collects, chain reads, manifests)."""
    out = {m: 0.0 for m in sorted(set(STAGE_METRIC.values()))}
    out["pipeline.driver_s"] = 0.0
    for s, t in zip(spans, self_times(spans)):
        if s.name == "op":
            out["pipeline.driver_s"] += t
        else:
            out[STAGE_METRIC[s.name]] += t
    return out
