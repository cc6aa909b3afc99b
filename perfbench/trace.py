"""Spans around the calls into each layer, recorded from outside the engine.

``Tracer.install`` wraps every public function of the layer modules (see
:data:`LAYER_MODULES`) in every already-imported module of the package that
binds it, so calls through ``from ... import name`` bindings are traced too.
While a span is open the Spark job group names its layer (and the pass), so
the jobs a layer runs eagerly (side-cache builds, sizing aggregates,
driver-side loops) are attributed to it in the event log.  Plans a layer
only *builds* run later, when the caller consumes them, and are charged to
the enclosing catalog entry span.

Spans (name, start, end, parent, run id) are kept in memory and written as
NDJSON by :meth:`Tracer.write_ndjson`; a span's self time is its duration
minus the time its child spans cover.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "rangebar_patterns_spark"

#: layer name -> module it is made of
LAYER_MODULES = {
    "sources.bars": f"{PACKAGE}.sources.bars",
    "sources.sinks": f"{PACKAGE}.sources.sinks",
    "operators.windows": f"{PACKAGE}.operators.windows",
    "operators.sweep": f"{PACKAGE}.operators.sweep",
    "operators.barriers": f"{PACKAGE}.operators.barriers",
    "operators.eval_metrics": f"{PACKAGE}.operators.eval_metrics",
    "operators.wfo": f"{PACKAGE}.operators.wfo",
    "operators.dedup": f"{PACKAGE}.operators.dedup",
    "operators.similarity": f"{PACKAGE}.operators.similarity",
    "operators.textops": f"{PACKAGE}.operators.textops",
}

#: operators.sweep splits in two: the W7 threshold engine (its three
#: paths and their sizing) and everything else (grids, candidates, funnel,
#: signals, trades)
SWEEP_THRESHOLD_FUNCS = frozenset(
    {
        "with_signalset_quantiles",
        "exact_shuffle_partitions",
        "grid_pairs_per_formation",
        "derive_grid_shuffle_partitions",
        "estimate_pair_rows",
        "partitions_from_pair_rows",
        "derive_threshold_partitions",
        "sweep_candidates_with_thresholds",
        "sweep_candidates_auto",
    }
)

#: every layer the trace reports, in report order
LAYERS = [
    "sources.bars",
    "operators.windows",
    "operators.sweep.thresholds",
    "operators.sweep.funnel",
    "operators.barriers",
    "operators.eval_metrics",
    "operators.wfo",
    "operators.dedup",
    "operators.similarity",
    "operators.textops",
    "sources.sinks",
]


#: functions whose return values the trace keeps, for the layer counts
KEPT_RETURNS = frozenset(
    {
        "bars_from_events",
        "estimate_pair_rows",
        "simulate_barriers",
        "ngram_candidates",
        "ngram_jaccard_pairs",
    }
)


def layer_of(layer: str, func: str) -> str:
    if layer == "operators.sweep":
        return layer + (".thresholds" if func in SWEEP_THRESHOLD_FUNCS else ".funnel")
    return layer


def group_id(pass_no: int, name: str) -> str:
    """Spark job group of the jobs run under span ``name`` in ``pass_no``."""
    return f"pb|{pass_no}|{name}"


def parse_group(group: str | None) -> tuple[int, str] | None:
    if not group or not group.startswith("pb|"):
        return None
    _, pass_no, name = group.split("|", 2)
    return int(pass_no), name


class Tracer:
    """Span recorder bound to one SparkContext.  Inactive until
    :meth:`begin_pass`; :meth:`end_pass` stops recording."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        #: function name -> [(pass, return value)] for KEPT_RETURNS
        self.returns: dict[str, list] = defaultdict(list)
        self.pass_no: int | None = None
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self._next_id = 0

    # -- recording ---------------------------------------------------------
    def begin_pass(self, pass_no: int) -> None:
        self.pass_no = pass_no

    def end_pass(self) -> None:
        self.pass_no = None
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str):
        """Open a span; jobs started inside it carry its job group."""
        if self.pass_no is None:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._next_id += 1
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "pass": self.pass_no,
        }
        switch = parent is None or parent["name"] != name
        if switch:
            self.sc.setLocalProperty("spark.jobGroup.id", group_id(self.pass_no, name))
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            if switch:
                self.sc.setLocalProperty(
                    "spark.jobGroup.id",
                    group_id(self.pass_no, parent["name"]) if parent else None,
                )

    # -- layer patching ----------------------------------------------------
    def _wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer.pass_no is None:
                return fn(*args, **kwargs)
            with tracer.span(layer):
                out = fn(*args, **kwargs)
            if fn.__name__ in KEPT_RETURNS:
                tracer.returns[fn.__name__].append((tracer.pass_no, out))
            return out

        return traced

    def install(self) -> None:
        """Wrap every public function of each layer module wherever the
        package binds it."""
        wrappers: dict[int, object] = {}
        for base, modname in LAYER_MODULES.items():
            mod = sys.modules.get(modname)
            if mod is None:
                continue
            for name, obj in vars(mod).items():
                if (
                    callable(obj)
                    and not name.startswith("_")
                    and getattr(obj, "__module__", None) == modname
                    and not isinstance(obj, type)
                ):
                    wrappers[id(obj)] = self._wrap(obj, layer_of(base, name))
        for mod in [m for n, m in sys.modules.items() if n.startswith(PACKAGE) and m]:
            for name, obj in list(vars(mod).items()):
                w = wrappers.get(id(obj))
                if w is not None:
                    self._patched.append((mod, name, obj))
                    setattr(mod, name, w)

    def uninstall(self) -> None:
        for mod, name, obj in reversed(self._patched):
            setattr(mod, name, obj)
        self._patched.clear()

    # -- output ------------------------------------------------------------
    def self_times(self) -> dict[tuple[int, str], float]:
        """(pass, span name) -> summed self time in seconds."""
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[tuple[int, str], float] = defaultdict(float)
        for s in self.spans:
            out[(s["pass"], s["name"])] += s["end"] - s["start"] - child[s["id"]]
        return out

    def write_ndjson(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                fh.write(json.dumps(s, sort_keys=True) + "\n")
