"""Spans around the public functions of ``hipporag_spark``, recorded from
outside the package.

``install(tracer)`` replaces each traced function with a wrapper, both in
its defining module and in every ``hipporag_spark`` module that imported it
by name. While ``tracer.enabled`` is false a wrapper is a plain call.

A wrapper that gets a lazy DataFrame back counts it before the span ends,
so the span holds the function's work (the caller later computes it again;
that cost is part of the tracing overhead the benchmark reports).

Spark counters are attributed to spans by job-id range: a span owns the
jobs submitted between its start and its end. The benchmark has one client
thread, so ranges of sibling spans never interleave. Spans opened from
other threads (the engine's query-group pool) are not recorded; their jobs
fall to the enclosing span.
"""

from __future__ import annotations

import functools
import importlib
import sys
import threading
import time
from dataclasses import dataclass, field

# span name -> (module, attribute); "Class.method" patches a method
TARGETS = {
    "engine.index": ("hipporag_spark.engine", "LinkGraphEngine.index"),
    "engine.delete": ("hipporag_spark.engine", "LinkGraphEngine.delete"),
    "engine.retrieve": ("hipporag_spark.engine", "LinkGraphEngine.retrieve"),
    "engine.graph_coo": ("hipporag_spark.engine", "LinkGraphEngine.graph_coo"),
    "extract": ("hipporag_spark.extract", "extract"),
    "retrieval.embeddings.store": ("hipporag_spark.retrieval.embeddings", "embedding_store"),
    "retrieval.embeddings.query": ("hipporag_spark.retrieval.embeddings", "embed_text"),
    "graph.build.fact_edges": ("hipporag_spark.graph.build", "fact_edges"),
    "graph.build.passage_edges": ("hipporag_spark.graph.build", "passage_edges"),
    "graph.build.vertices": ("hipporag_spark.graph.build", "vertices"),
    "graph.build.resolve_edges": ("hipporag_spark.graph.build", "resolve_edges"),
    "graph.build.adjacency": ("hipporag_spark.graph.build", "adjacency"),
    "graph.build.strength": ("hipporag_spark.graph.build", "strength"),
    "graph.ids": ("hipporag_spark.graph.ids", "assign_dense_ids"),
    "retrieval.scoring.score_store": ("hipporag_spark.retrieval.scoring", "score_store"),
    "retrieval.scoring.top_facts": ("hipporag_spark.retrieval.scoring", "top_facts"),
    "retrieval.scoring.phrase_weights": ("hipporag_spark.retrieval.scoring", "phrase_weights"),
    "retrieval.scoring.passage_weights": ("hipporag_spark.retrieval.scoring", "passage_weights"),
    "retrieval.scoring.build_reset": ("hipporag_spark.retrieval.scoring", "build_reset"),
    "retrieval.scoring.rank_docs": ("hipporag_spark.retrieval.scoring", "rank_docs"),
    "algo.ppr": ("hipporag_spark.algo.ppr", "personalized_pagerank"),
    "algo.ppr.batch": ("hipporag_spark.algo.ppr", "personalized_pagerank_batch"),
    "graph.blocked.compile": ("hipporag_spark.graph.blocked", "compile_blocks"),
    "checkpointing.write": ("hipporag_spark.checkpointing", "CheckpointManager.write"),
    "algo.components": ("hipporag_spark.algo.components", "connected_components"),
    "algo.labelprop": ("hipporag_spark.algo.labelprop", "label_propagation"),
    "algo.triangles": ("hipporag_spark.algo.triangles", "triangle_count"),
}

COUNTERS = ("jobs", "tasks", "failed_tasks", "shuffle_bytes", "executor_busy_s", "cpu_s", "gc_s")


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    job0: int
    end: float = 0.0
    job1: int = 0
    attrs: dict = field(default_factory=dict)
    children: list = field(default_factory=list)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._owner = threading.get_ident()

    def _next_job(self) -> int:
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    def open(self, name: str, **attrs) -> int | None:
        if not self.enabled or threading.get_ident() != self._owner:
            return None
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, parent, time.perf_counter(), self._next_job(), attrs=attrs))
        idx = len(self.spans) - 1
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        return idx

    def close(self, idx: int | None, **attrs) -> None:
        if idx is None:
            return
        sp = self.spans[idx]
        sp.end = time.perf_counter()
        sp.job1 = self._next_job()
        sp.attrs.update(attrs)
        self._stack.pop()

    # ---------------- Spark counters ----------------

    def stage_table(self) -> tuple[dict, dict]:
        """(job id -> stage ids, stage id -> counters) for every job the
        status store still holds (read once, after the timed work)."""
        store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        jobs: dict[int, list[int]] = {}
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            ids = j.stageIds().mkString(",")
            jobs[int(j.jobId())] = [int(s) for s in ids.split(",") if s]
        stages: dict[int, dict] = {}
        it = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None).iterator()
        while it.hasNext():
            s = it.next()
            c = stages.setdefault(int(s.stageId()), dict.fromkeys(COUNTERS[1:], 0.0))
            c["tasks"] += s.numCompleteTasks()
            c["failed_tasks"] += s.numFailedTasks()
            c["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
            c["executor_busy_s"] += s.executorRunTime() / 1e3
            c["cpu_s"] += s.executorCpuTime() / 1e9
            c["gc_s"] += s.jvmGcTime() / 1e3
        return jobs, stages

    def counters(self, job0: int, job1: int, jobs: dict, stages: dict) -> dict:
        out = dict.fromkeys(COUNTERS, 0.0)
        seen: set[int] = set()
        for jid in range(job0, job1):
            out["jobs"] += 1
            for sid in jobs.get(jid, ()):
                if sid in seen or sid not in stages:
                    continue
                seen.add(sid)
                for k, v in stages[sid].items():
                    out[k] += v
        return out

    def summarize(self) -> dict:
        """Per span name: calls, total and self seconds, and the Spark
        counters of the jobs the span (and, for self, none of its children)
        submitted."""
        jobs, stages = self.stage_table()
        agg: dict[str, dict] = {}
        for sp in self.spans:
            dur = sp.end - sp.start
            child_s = sum(self.spans[c].end - self.spans[c].start for c in sp.children)
            tot = self.counters(sp.job0, sp.job1, jobs, stages)
            own = dict(tot)
            for c in sp.children:
                ch = self.spans[c]
                for k, v in self.counters(ch.job0, ch.job1, jobs, stages).items():
                    own[k] -= v
            a = agg.setdefault(sp.name, {"calls": 0, "s": 0.0, "self_s": 0.0,
                                         **{k: 0.0 for k in COUNTERS},
                                         **{"self_" + k: 0.0 for k in COUNTERS}})
            a["calls"] += 1
            a["s"] += dur
            a["self_s"] += dur - child_s
            for k in COUNTERS:
                a[k] += tot[k]
                a["self_" + k] += own[k]
            for k, v in sp.attrs.items():
                if isinstance(v, list):
                    a.setdefault(k, []).extend(v)
                elif isinstance(v, (int, float)):
                    a[k] = a.get(k, 0) + v
        return agg


def _outcome(result) -> dict:
    """Count a returned DataFrame (the span's work) and lift the work
    counts a result carries: row count, superstep lineage, a scalar total."""
    from pyspark.sql import DataFrame

    parts = result if isinstance(result, tuple) else (result,)
    attrs: dict = {}
    if parts and isinstance(parts[0], DataFrame):
        attrs["rows"] = parts[0].count()
    if len(parts) == 2 and isinstance(parts[1], int):
        attrs["count"] = parts[1]
    if len(parts) == 2 and isinstance(parts[1], list):
        lineage = parts[1]
        attrs["supersteps"] = len(lineage)
        attrs["superstep_ms"] = [float(e["wall_ms"]) for e in lineage if "wall_ms" in e]
        if lineage and "total_iterations" in lineage[0]:
            attrs["iterations"] = int(lineage[0]["total_iterations"])
    return attrs


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        span_name = name
        attrs = {}
        if name == "algo.ppr.batch":
            span_name = "algo.ppr." + ("broadcast" if kwargs.get("engine") == "broadcast" else "blocked")
        elif name == "algo.ppr":
            span_name = "algo.ppr.blocked"
        elif name == "engine.graph_coo":
            attrs["builds"] = int(args[0]._graph_coo_bc is None)
        idx = tracer.open(span_name, **attrs)
        out: dict = {}
        try:
            result = fn(*args, **kwargs)
            if idx is not None:
                out = _outcome(result)
            return result
        finally:
            tracer.close(idx, **out)

    traced.__wrapped_by_perfbench__ = True
    return traced


def install(tracer: Tracer) -> None:
    """Patch every target; idempotent per process. All target modules are
    imported first, so every by-name import among them is seen."""
    for mod_name, _ in TARGETS.values():
        importlib.import_module(mod_name)
    for name, (mod_name, attr) in TARGETS.items():
        mod = sys.modules[mod_name]
        if "." in attr:
            cls_name, meth = attr.split(".")
            cls = getattr(mod, cls_name)
            orig = cls.__dict__[meth]
            if getattr(orig, "__wrapped_by_perfbench__", False):
                continue
            setattr(cls, meth, _wrap(tracer, name, orig))
            continue
        orig = getattr(mod, attr)
        if getattr(orig, "__wrapped_by_perfbench__", False):
            continue
        wrapped = _wrap(tracer, name, orig)
        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith("hipporag_spark") and getattr(m, attr, None) is orig:
                setattr(m, attr, wrapped)
