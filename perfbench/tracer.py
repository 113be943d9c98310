"""Outside-in span tracer for the graph engine's layer boundaries.

The library carries no instrumentation of its own, so the tracer wraps the
public entry points of each layer from the outside while it is installed
and restores the originals when it is removed:

* ``operator.<name>.run``  — each algorithm builder's ``run()``
* ``pregel.run``           — ``PregelBuilder.run`` (the superstep loop)
* ``checkpointer.<method>`` — ``ParquetCheckpointer`` pushes and deletions

Spans live in memory (name, start, end, parent index, run id, attributes)
and are written out once, when the benchmark ends. Builder spans also
record the builder's public result attributes (``iterations_``,
``phase_stats_``) after ``run()`` returns.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time
from typing import Callable, Dict, List, Optional, Tuple

PUSH_SPANS = (
    "checkpointer.push",
    "checkpointer.push_partitioned",
    "checkpointer.push_bucketed",
)
EVICT_SPANS = (
    "checkpointer.evict",
    "checkpointer.evict_all_but_latest",
    "checkpointer.remove_last",
    "checkpointer.purge",
)


def _builder_attrs(builder) -> dict:
    attrs = {"iterations": getattr(builder, "iterations_", None)}
    phases = getattr(builder, "phase_stats_", None)
    if phases is not None:
        attrs["phases"] = [list(p) for p in phases]
    return attrs


_PKG = "graphframes_rs_spark"
# (module, class, method, span name, attribute reader run after the call)
TARGETS: List[Tuple[str, str, str, str, Optional[Callable]]] = [
    (f"{_PKG}.operators.pagerank", "PageRankBuilder", "run",
     "operator.pagerank.run", _builder_attrs),
    (f"{_PKG}.operators.connected_components", "ConnectedComponentsBuilder",
     "run", "operator.connected_components.run", _builder_attrs),
    (f"{_PKG}.operators.shortest_paths", "ShortestPathsBuilder", "run",
     "operator.shortest_paths.run", _builder_attrs),
    (f"{_PKG}.pregel", "PregelBuilder", "run", "pregel.run", _builder_attrs),
] + [
    (f"{_PKG}.plans.checkpointer", "ParquetCheckpointer", name.split(".")[1],
     name, None)
    for name in PUSH_SPANS + EVICT_SPANS
]


class Tracer:
    def __init__(self) -> None:
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self._originals: List[Tuple[type, str, Callable]] = []
        self.run_id: Optional[str] = None

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "run": self.run_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.monotonic(),
            "end": None,
            "attrs": {},
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()

    def _wrap(self, cls: type, method: str, name: str, attrs) -> None:
        original = cls.__dict__[method]

        @functools.wraps(original)
        def traced(obj, *args, **kwargs):
            with self.span(name) as rec:
                out = original(obj, *args, **kwargs)
                if attrs is not None:
                    rec["attrs"] = attrs(obj)
                return out

        setattr(cls, method, traced)
        self._originals.append((cls, method, original))

    def install(self) -> None:
        if self._originals:
            raise RuntimeError("tracer already installed")
        for module, cls_name, method, name, attrs in TARGETS:
            cls = getattr(importlib.import_module(module), cls_name)
            self._wrap(cls, method, name, attrs)

    def uninstall(self) -> None:
        for cls, method, original in reversed(self._originals):
            setattr(cls, method, original)
        self._originals = []

    @contextlib.contextmanager
    def tracing(self, run_id: str):
        """Install the wrappers for one run, tagging its spans ``run_id``."""
        self.run_id = run_id
        self.install()
        try:
            yield
        finally:
            self.uninstall()
            self.run_id = None

    def run_spans(self, run_id: str) -> List[dict]:
        """The spans of one run (a contiguous block of the recording), with
        ``parent`` rebased to index into the returned list."""
        idx = [i for i, s in enumerate(self.spans) if s["run"] == run_id]
        if not idx:
            return []
        base = idx[0]
        return [
            dict(
                self.spans[i],
                parent=None
                if self.spans[i]["parent"] is None
                else self.spans[i]["parent"] - base,
            )
            for i in idx
        ]


def _covered(intervals: List[Tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end > reach:
            total += end - max(start, reach)
            reach = end
    return total


def self_time(spans: List[dict], index: int) -> float:
    """A span's duration minus the part of it its child spans cover."""
    s = spans[index]
    children = [
        (c["start"], c["end"]) for c in spans if c["parent"] == index
    ]
    return (s["end"] - s["start"]) - _covered(children)


def outermost(spans: List[dict], names: Tuple[str, ...]) -> List[dict]:
    """Spans named in ``names`` whose parent is not itself in ``names``
    (``push_partitioned`` calls ``push``: that is one checkpoint, not two)."""
    out = []
    for s in spans:
        if s["name"] not in names:
            continue
        parent = s["parent"]
        if parent is not None and spans[parent]["name"] in names:
            continue
        out.append(s)
    return out


def layer_metrics(spans: List[dict], job_s: float) -> Dict[str, float]:
    """Per-layer numbers of one traced run from its spans (as returned by
    :meth:`Tracer.run_spans`) and its wall time ``job_s``."""
    pregel = [i for i, s in enumerate(spans) if s["name"] == "pregel.run"]
    pregel_s = sum(spans[i]["end"] - spans[i]["start"] for i in pregel)
    supersteps = sum(spans[i]["attrs"].get("iterations") or 0 for i in pregel)
    # pregel.run's only children are checkpointer calls
    pregel_driver_s = sum(self_time(spans, i) for i in pregel)

    pushes = outermost(spans, PUSH_SPANS)
    evicts = outermost(spans, EVICT_SPANS)

    cc = [s for s in spans if s["name"] == "operator.connected_components.run"]
    phase_s = {"prep": 0.0, "round": 0.0, "local": 0.0, "backprop+final": 0.0}
    contracted = 0
    rounds = 0
    for s in cc:
        rounds += s["attrs"].get("iterations") or 0
        for phase, edges_in, seconds in s["attrs"].get("phases", []):
            phase_s[phase] = phase_s.get(phase, 0.0) + seconds
            if phase in ("round", "local"):
                contracted += edges_in or 0

    return {
        "operator.prep_s": job_s - pregel_s,
        "connected_components.rounds": rounds,
        "connected_components.prep_s": phase_s["prep"],
        "connected_components.round_s": phase_s["round"],
        "connected_components.local_s": phase_s["local"],
        "connected_components.backprop_s": phase_s["backprop+final"],
        "connected_components.edges_contracted": contracted,
        "pregel.run_s": pregel_s,
        "pregel.supersteps": supersteps,
        "pregel.superstep_s": pregel_s / supersteps if supersteps else 0.0,
        "pregel.driver_s": pregel_driver_s,
        "checkpointer.push_calls": len(pushes),
        "checkpointer.push_s": sum(s["end"] - s["start"] for s in pushes),
        "checkpointer.evict_calls": len(evicts),
        "checkpointer.evict_s": sum(s["end"] - s["start"] for s in evicts),
    }
