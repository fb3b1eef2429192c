"""Spans around the calls into the engine's layers.

A span is opened either by the benchmark itself (``Tracer.span``) or by
a wrapper patched over a module attribute (``Tracer.wrap``), so the
engine's own files stay untouched.  Each span tags the jobs submitted
inside it with a job group of its own and restores the enclosing span's
group on exit; ``evlog.fold`` later assigns every job to the innermost
span by that tag.
"""

from __future__ import annotations

import functools
import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    group: str
    t0: float = 0.0
    t1: float = 0.0
    count: int = 0  # sweeps / supersteps / rounds the call reported


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple] = []
        self._ids = itertools.count(1)

    def _tag(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        s = Span(sid, name, parent.id if parent else None, f"perfbench-{sid}")
        self._tag(s)
        self._stack.append(s)
        s.t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()
            self._tag(parent)
            self.spans.append(s)

    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        """Patch ``owner.attr`` so each call runs in a span ``name``.
        ``count(result)`` adds the call's iteration count to the span.  A
        call made while a span of the same name is innermost (an
        operator re-entering itself) stays in that span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if self._stack and self._stack[-1].name == name:
                return orig(*args, **kwargs)
            with self.span(name) as s:
                out = orig(*args, **kwargs)
                if count is not None:
                    s.count += count(out)
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def count(self, name: str) -> int:
        return sum(s.count for s in self.spans if s.name == name)


def install_engine_spans(tracer: Tracer) -> None:
    """Wrap the engine layers named in the per-layer table."""
    import sys

    from grappolo_spark import checkpoint, lineage
    from grappolo_spark.operators import (components, labelprop, louvain,
                                          pagerank, triangles)
    from grappolo_spark.oracle import numpy_oracle

    tracer.wrap(louvain, "louvain_prepare", "louvain.prepare")
    tracer.wrap(louvain, "louvain_phase", "louvain.phase",
                count=lambda r: r.num_iters)
    tracer.wrap(louvain, "renumber", "louvain.renumber")
    tracer.wrap(louvain, "coarsen", "louvain.coarsen")
    # louvain() imports the driver tail at call time, so the module
    # attribute is what it picks up
    tracer.wrap(numpy_oracle, "louvain_multiphase_np", "oracle.tail")
    tracer.wrap(pagerank, "pagerank_prepare", "pagerank.prepare")
    tracer.wrap(pagerank, "pagerank", "pagerank", count=lambda r: r[1])
    tracer.wrap(checkpoint.CheckpointManager, "save", "checkpoint.save")
    tracer.wrap(components, "connected_components", "components",
                count=lambda r: r[1])
    tracer.wrap(labelprop, "label_propagation", "labelprop",
                count=lambda r: r[1])
    tracer.wrap(triangles, "triangles", "triangles")
    # every operator module binds cut_lineage by name at import
    cut = lineage.cut_lineage
    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "").startswith("grappolo_spark")
                and getattr(mod, "cut_lineage", None) is cut):
            tracer.wrap(mod, "cut_lineage", "lineage.cut_lineage")


class NullTracer:
    """Stand-in for untraced runs: spans cost nothing and tag nothing."""

    @contextmanager
    def span(self, name: str):
        yield None
