"""Spans around the calls into each layer, recorded from the benchmark side.

``Tracer.install`` replaces public functions of the program's modules with
wrappers (at module level, so the program's own call sites pick them up) and
``Tracer.uninstall`` puts the originals back. Each span runs under its own
Spark job group, so the jobs a span starts outside its child spans are
counted with ``statusTracker().getJobIdsForGroup`` when it ends.

Spark evaluates lazily: a layer function that only builds a plan shows
little time of its own, and the jobs that run the plan are charged to the
span that triggers them -- ``build_cpg``'s own body (layer ``pipeline``)
when no other layer's span is open.
"""

from __future__ import annotations

import itertools
import os
import threading
import time

# Writer targets inside build_cpg's scratch dir: the parse checkpoint and the
# two halves of the edge relation.
_WRITE_LAYERS = {"nodes": "parse", "edges_rest": "pipeline.materialize",
                 "edges_call": "pipeline.materialize"}

LAYERS = ["session", "parse", "base", "typerecovery", "callgraph", "bindings",
          "linking", "pipeline", "pipeline.materialize", "sources", "sources.read",
          "scanners_c"]


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root: dict | None = None
        self._patched: list[tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------------

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, layer: str, fn, *args, **kwargs):
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        sp = {"id": next(self._ids), "layer": layer, "name": getattr(fn, "__qualname__", layer),
              "parent": parent["id"] if parent else None,
              "thread": threading.current_thread().name}
        group = f"perfbench-{sp['id']}"
        self.sc.setJobGroup(group, layer)
        stack.append(sp)
        if parent is None:
            self._root = sp
        t1 = time.perf_counter()
        sp["start"] = t1
        try:
            return fn(*args, **kwargs)
        finally:
            t2 = time.perf_counter()
            sp["end"] = t2
            sp["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(group))
            stack.pop()
            outer = stack[-1] if stack else None
            if outer is not None:
                self.sc.setJobGroup(f"perfbench-{outer['id']}", outer["layer"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            if self._root is sp:
                self._root = None
            with self._lock:
                self.spans.append(sp)
                self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def record(self, layer: str, start: float, end: float) -> None:
        """A span timed by the caller, for work that ran before the tracer
        could exist (the session start)."""
        with self._lock:
            self.spans.append({"id": next(self._ids), "layer": layer, "name": layer,
                               "parent": None, "thread": "MainThread",
                               "start": start, "end": end, "jobs": 0})

    def wrap(self, layer: str, fn):
        def traced(*args, **kwargs):
            return self.span(layer, fn, *args, **kwargs)
        traced.__wrapped__ = fn
        return traced

    # -- installation -------------------------------------------------------

    def _patch(self, owner, attr: str, layer: str) -> None:
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(layer, orig))

    def install(self) -> None:
        from pyspark.sql import DataFrameWriter

        from joern_spark import scanners_c, sources
        from joern_spark.operators import (base, bindings, callgraph, linking,
                                           typerecovery)
        from joern_spark.plans import pipeline

        for attr in ("parse_source", "with_ids"):
            self._patch(pipeline, attr, "parse")
        self._patch(pipeline, "build_cpg", "pipeline")
        for attr in ("used_type_fullnames", "run_base"):
            self._patch(base, attr, "base")
        self._patch(typerecovery, "js_mfn_rewrites", "typerecovery")
        for attr in ("method_dimension", "run_callgraph"):
            self._patch(callgraph, attr, "callgraph")
        for attr in ("binding_relation", "binding_nodes_and_edges"):
            self._patch(bindings, attr, "bindings")
        for attr in ("canonical_symbol_map", "canonicalize_call_edges"):
            self._patch(linking, attr, "linking")
        self._patch(sources, "write_graph_tables", "sources")
        self._patch(sources, "read_graph_tables", "sources.read")
        self._patch(scanners_c, "run_bundles", "scanners_c")

        orig_parquet = DataFrameWriter.parquet
        tracer = self

        def parquet(writer, path, *args, **kwargs):
            layer = _WRITE_LAYERS.get(os.path.basename(str(path).rstrip("/")))
            if layer is None:
                return orig_parquet(writer, path, *args, **kwargs)
            return tracer.span(layer, orig_parquet, writer, path, *args, **kwargs)

        self._patched.append((DataFrameWriter, "parquet", orig_parquet))
        DataFrameWriter.parquet = parquet

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- results ------------------------------------------------------------

    def layer_metrics(self) -> dict[str, float]:
        """``<layer>.wall_s`` (outermost spans of the layer), ``.self_s``
        (span time not covered by child spans) and ``.jobs`` per layer."""
        by_id = {s["id"]: s for s in self.spans}
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for layer in LAYERS:
            out[f"{layer}.wall_s"] = 0.0
            out[f"{layer}.self_s"] = 0.0
            out[f"{layer}.jobs"] = 0
        for s in self.spans:
            layer = s["layer"]
            dur = s["end"] - s["start"]
            out[f"{layer}.self_s"] += dur - _covered(s, children.get(s["id"], []))
            out[f"{layer}.jobs"] += s["jobs"]
            p = by_id.get(s["parent"])
            while p is not None and p["layer"] != layer:
                p = by_id.get(p["parent"])
            if p is None:
                out[f"{layer}.wall_s"] += dur
        return out


def _covered(span: dict, kids: list[dict]) -> float:
    """Length of the union of the children's intervals inside ``span``."""
    ivs = sorted((max(k["start"], span["start"]), min(k["end"], span["end"]))
                 for k in kids)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
