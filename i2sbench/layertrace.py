"""Outside-in layer trace: spans around calls into the engine's modules.

The traced run replaces public functions of the engine with wrappers that
record a span (name, start, end, Spark job counter at start and end) and
puts the originals back afterwards. Nothing inside the engine changes, and
the untraced run installs nothing.

Spans from different threads nest by time: with one client, a span that
starts and ends inside another span's interval ran on that span's behalf
(the server's handler thread works while the client thread waits). A
span's self time is its duration minus the union of the intervals of the
spans inside it; its self jobs are its jobs minus those of the outermost
spans inside it. Job counts come from Spark's job-id counter, which only
this process's single client advances.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from contextlib import contextmanager

# (span name, module, attribute). A dotted attribute is a method of a class.
TARGETS = (
    ("session.table", "impalatogo_spark.session", "table"),
    ("session.register_tables", "impalatogo_spark.session", "register_tables"),
    ("dialect.translate", "impalatogo_spark.dialect", "translate"),
    ("engine.sql", "impalatogo_spark.engine", "Engine.sql"),
    ("server.open_session", "impalatogo_spark.server", "I2SClient.open_session"),
    ("server.execute", "impalatogo_spark.server", "I2SClient.execute"),
    ("server.fetch", "impalatogo_spark.server", "I2SClient.fetch_all"),
    ("admission.admit", "impalatogo_spark.admission",
     "AdmissionController.admit"),
    ("operators.dedup.connected_components",
     "impalatogo_spark.operators.dedup", "connected_components"),
    ("operators.dedup.connected_components_star",
     "impalatogo_spark.operators.dedup", "connected_components_star"),
    ("operators.dedup.incremental_components_update",
     "impalatogo_spark.operators.dedup", "incremental_components_update"),
    ("operators.similarity.kmeans_quantized",
     "impalatogo_spark.operators.similarity", "kmeans_quantized"),
    ("operators.similarity.kmeans_multi_quantized",
     "impalatogo_spark.operators.similarity", "kmeans_multi_quantized"),
    ("operators.text.bpe_merges", "impalatogo_spark.operators.text",
     "bpe_merges"),
)
OPERATORS = tuple(name for name, _, _ in TARGETS
                  if name.startswith("operators."))
# spans whose self part is final execution (the benchmark's own span
# around collect(), and the client's statement round trips)
EXECUTION = ("execution", "server.execute", "server.fetch")


class Span:
    __slots__ = ("name", "t0", "t1", "j0", "j1", "result")

    def __init__(self, name: str, t0: float, j0: int):
        self.name, self.t0, self.j0 = name, t0, j0
        self.t1, self.j1, self.result = t0, j0, None


class Tracer:
    """Records spans; `install` wraps TARGETS, `uninstall` restores them."""

    def __init__(self, next_job_id):
        self._next_job_id = next_job_id
        self.spans: list[Span] = []
        self.patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        sp = Span(name, time.perf_counter(), self._next_job_id())
        try:
            yield sp
        finally:
            sp.j1 = self._next_job_id()
            sp.t1 = time.perf_counter()
            self.spans.append(sp)

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                sp.result = fn(*args, **kwargs)
                return sp.result
        return traced

    def install(self) -> None:
        """Wrap every target wherever the engine's modules hold it: a
        function imported by name into another module is replaced there
        too, so calls through either name are traced."""
        for name, modname, attr in TARGETS:
            mod = importlib.import_module(modname)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                self._patch(cls, meth, cls.__dict__[meth], name)
                continue
            original = getattr(mod, attr)
            for m in list(sys.modules.values()):
                if not getattr(m, "__name__", "").startswith("impalatogo_spark"):
                    continue
                for key, val in list(vars(m).items()):
                    if val is original:
                        self._patch(m, key, original, name)

    def _patch(self, owner, attr: str, original, name: str) -> None:
        self.patched.append((owner, attr, original))
        setattr(owner, attr, self._wrap(name, original))

    def uninstall(self) -> None:
        while self.patched:
            owner, attr, original = self.patched.pop()
            setattr(owner, attr, original)

    def take(self) -> list[Span]:
        spans, self.spans = self.spans, []
        return spans


def _union_length(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _inside(sp: Span, outer: Span) -> bool:
    return sp is not outer and outer.t0 <= sp.t0 and sp.t1 <= outer.t1


def self_parts(spans: list[Span]) -> dict[int, tuple[float, set]]:
    """id(span) -> (self seconds, set of self job ids)."""
    out = {}
    for sp in spans:
        inner = [s for s in spans if _inside(s, sp)]
        outermost = [s for s in inner
                     if not any(_inside(s, o) for o in inner)]
        jobs = set(range(sp.j0, sp.j1))
        for s in outermost:
            jobs -= set(range(s.j0, s.j1))
        out[id(sp)] = (sp.t1 - sp.t0 - _union_length(
            (s.t0, s.t1) for s in inner), jobs)
    return out
