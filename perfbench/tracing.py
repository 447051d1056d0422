"""Span tracing around the program's layer boundaries, from outside.

``Tracer.install()`` wraps every public function of each layer module
and rebinds the name wherever a caller looks it up: the module
attribute (used by ``module.func`` calls, same-module calls and
function-local ``from X import f`` imports) and every
``from X import f`` binding already made in another program module
(e.g. ``coordinate_descent`` binds ``release_local_checkpoint`` by
name). Each call records an in-memory span (name, layer, start, end,
parent) and tags the Spark jobs it triggers with the span id as the
job group, so stage and SQL metrics join to the innermost span that
ran them.

Lazy functions (most of ``ml.scoring``, ``ml.random_effects``) only
build plans: their executed work lands in the span of whichever caller
triggers the action. The layer table in README.md reads with that in
mind.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import threading
import time

# layer -> modules whose public functions belong to it
LAYERS = {
    "cli": ["photon_ml_spark.cli"],
    "sources": ["photon_ml_spark.sources.featurize",
                "photon_ml_spark.sources.model_io",
                "photon_ml_spark.sources.datasets"],
    "ml.glm": ["photon_ml_spark.ml.glm"],
    "ml.random_effects": ["photon_ml_spark.ml.random_effects"],
    "ml.scoring": ["photon_ml_spark.ml.scoring"],
    "ml.coordinate_descent": ["photon_ml_spark.ml.coordinate_descent"],
    "functions.metrics": ["photon_ml_spark.functions.metrics"],
    "operators.text": ["photon_ml_spark.operators.text"],
    "operators.dedup": ["photon_ml_spark.operators.dedup"],
    "operators.sampling": ["photon_ml_spark.operators.sampling"],
}

PROBE_GROUP = "perfbench-probe"


class Span:
    __slots__ = ("id", "name", "layer", "parent", "start", "end")

    def __init__(self, id, name, layer, parent, start):
        self.id, self.name, self.layer = id, name, layer
        self.parent, self.start, self.end = parent, start, None

    def as_dict(self):
        return {"id": self.id, "name": self.name, "layer": self.layer,
                "parent": self.parent, "start": self.start, "end": self.end}


class Tracer:
    """Records spans for calls made on the thread that installed it.
    Calls from other threads, and calls on executors (which import the
    program fresh, without the wrappers), pass straight through."""

    def __init__(self, spark, run_tag: str):
        self.sc = spark.sparkContext
        self.run_tag = run_tag
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.counters: dict[str, float] = {}
        self.probe_s = 0.0
        self._thread = threading.get_ident()
        self._undo: list[tuple[object, str, object]] = []
        self._hooks = {}

    # -- recording ---------------------------------------------------
    def _group(self, span: Span | None) -> str | None:
        return None if span is None else f"{self.run_tag}:{span.id}"

    def _set_group(self, span: Span | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", self._group(span))

    def begin(self, name: str, layer: str) -> Span:
        parent = self.stack[-1].id if self.stack else None
        span = Span(len(self.spans), name, layer, parent, time.time())
        self.spans.append(span)
        self.stack.append(span)
        self._set_group(span)
        return span

    def finish(self, span: Span) -> None:
        span.end = time.time()
        self.stack.pop()
        self._set_group(self.stack[-1] if self.stack else None)

    def count(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0.0) + value

    def probe(self, fn):
        """Run benchmark-side counting work (extra Spark jobs) under
        its own job group, so it is charged to no layer; its wall time
        is reported as probe time."""
        t0 = time.time()
        self.sc.setLocalProperty("spark.jobGroup.id", PROBE_GROUP)
        try:
            return fn()
        finally:
            self._set_group(self.stack[-1] if self.stack else None)
            self.probe_s += time.time() - t0

    # -- wrapping ----------------------------------------------------
    def on_return(self, qualname: str, hook) -> None:
        """``hook(tracer, span, result)`` runs after ``qualname``
        (``module:function``) returns, while its span is still open;
        extra Spark jobs a hook runs belong inside ``probe``."""
        self._hooks[qualname] = hook

    def _wrap(self, fn, layer: str):
        qual = f"{fn.__module__}:{fn.__name__}"
        name = f"{layer}.{fn.__name__}"
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if threading.get_ident() != tracer._thread:
                return fn(*args, **kwargs)
            span = tracer.begin(name, layer)
            try:
                result = fn(*args, **kwargs)
                hook = tracer._hooks.get(qual)
                if hook is not None:
                    hook(tracer, span, result)
                return result
            finally:
                tracer.finish(span)

        traced.__perfbench_original__ = fn
        return traced

    def install(self) -> None:
        replaced = {}
        for layer, mods in LAYERS.items():
            for mod_name in mods:
                mod = importlib.import_module(mod_name)
                for attr, fn in list(vars(mod).items()):
                    if (attr.startswith("_") or not inspect.isfunction(fn)
                            or fn.__module__ != mod_name):
                        continue
                    wrapped = self._wrap(fn, layer)
                    replaced[id(fn)] = wrapped
                    self._undo.append((mod, attr, fn))
                    setattr(mod, attr, wrapped)
        # rebind names imported by value into other program modules
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("photon_ml_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                w = replaced.get(id(val))
                if w is not None and getattr(mod, attr) is not w:
                    self._undo.append((mod, attr, val))
                    setattr(mod, attr, w)

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._undo):
            setattr(mod, attr, orig)
        self._undo.clear()
        self.sc.setLocalProperty("spark.jobGroup.id", None)


# ------------------------------------------------------------ analysis

def _merge(intervals):
    out = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def _subtract(base, cuts):
    """Intervals of ``base`` (merged list) not covered by ``cuts``."""
    out = []
    cuts = _merge(cuts)
    for a, b in base:
        cur = a
        for c, d in cuts:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append([cur, c])
            cur = max(cur, d)
        if cur < b:
            out.append([cur, b])
    return out


def _length(intervals):
    return sum(b - a for a, b in intervals)


def self_intervals(spans: list[dict]) -> dict[int, list]:
    """span id -> the parts of its interval no child span covers."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append([s["start"], s["end"]])
    return {s["id"]: _subtract([[s["start"], s["end"]]], kids.get(s["id"], []))
            for s in spans}


METRICS = ["calls", "wall_s", "self_s", "driver_s", "jobs", "task_s",
           "task_cpu_s", "shuffle_mb", "spill_mb", "gc_s"]


def layer_metrics(spans: list[dict], jobs_by_span: dict[int, list],
                  stage_totals_by_span: dict[int, dict]) -> dict:
    """Per layer: the ten METRICS. ``jobs_by_span`` maps a span id to
    its jobs' [submit, complete] intervals; ``stage_totals_by_span`` to
    the summed counters of the stages those jobs ran."""
    by_id = {s["id"]: s for s in spans}
    selfs = self_intervals(spans)
    out = {layer: dict.fromkeys(METRICS, 0.0) for layer in LAYERS}
    for s in spans:
        m = out.setdefault(s["layer"], dict.fromkeys(METRICS, 0.0))
        m["calls"] += 1
        # wall: only the outermost span of a layer, so recursion within
        # one layer is not counted twice
        p, nested = s["parent"], False
        while p is not None:
            if by_id[p]["layer"] == s["layer"]:
                nested = True
                break
            p = by_id[p]["parent"]
        if not nested:
            m["wall_s"] += s["end"] - s["start"]
        own = selfs[s["id"]]
        m["self_s"] += _length(own)
        jobs = jobs_by_span.get(s["id"], [])
        m["driver_s"] += _length(_subtract(own, jobs))
        m["jobs"] += len(jobs)
        st = stage_totals_by_span.get(s["id"])
        if st:
            for k in ("task_s", "task_cpu_s", "shuffle_mb", "spill_mb", "gc_s"):
                m[k] += st[k]
    return out
