"""Layer tracing for the store-serving benchmark's traced run.

Spans are recorded here, in the benchmark, around calls into each
layer's public functions: ``install`` swaps a module or class attribute
for a wrapper that records one span per call and ``uninstall`` puts the
original back. The program itself is not edited. A span is (name,
start, end, parent, op id); spans stay in memory until ``dump``.

Per-op Spark counters come from one job group per op read back through
``StatusTracker``; scan rows come from the SQL metrics of the executed
plan of every frame the benchmark collected.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from typing import Callable, Dict, List, Optional


class Tracer:
    def __init__(self):
        self.spans: List[tuple] = []      # (name, start, end, parent, op)
        self._stack: List[int] = []
        self._patched: List[tuple] = []
        self.op: Optional[int] = None
        self.delta_segments: List[int] = []
        self.compactions = 0

    # ------------------------------------------------------- spans --
    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, self.op])
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self._stack.pop()

    def call(self, name: str, fn: Callable, *a, **kw):
        idx = self.begin(name)
        try:
            return fn(*a, **kw)
        finally:
            self.end(idx)

    # ----------------------------------------------------- patching --
    def wrap(self, owner, attr: str, name: str, observe=None) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr``; ``observe(args, kwargs, result)`` may count."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*a, **kw):
            out = tracer.call(name, orig, *a, **kw)
            if observe is not None:
                observe(a, kw, out)
            return out

        traced.__wrapped__ = orig
        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def install(self) -> None:
        from ahnlich_spark import catalog as C
        from ahnlich_spark.ai import proxy
        from ahnlich_spark.dsl import executor
        from ahnlich_spark.operators import ann, predicates, topk
        from ahnlich_spark.plans import engine as E
        from ahnlich_spark.sources import store_io

        def segments(a, kw, _out):
            meta = kw.get("meta", a[2] if len(a) > 2 else None)
            seg = kw.get("segments")
            self.delta_segments.append(meta.deltas if seg is None else int(seg))

        def compacted(_a, _kw, folded):
            self.compactions += bool(folded)

        self.wrap(executor, "parse_db_query", "dsl.parse")
        self.wrap(executor, "parse_ai_query", "dsl.parse")
        self.wrap(proxy, "stub_embed", "ai.embed")
        self.wrap(C.Catalog, "get_store", "catalog.read")
        self.wrap(C.Catalog, "reload", "catalog.read")
        self.wrap(C.Catalog, "put_store", "catalog.flush")
        for m in ("get_key", "get_pred", "get_sim_n", "get_sim_n_batch"):
            self.wrap(E.Engine, m, "plans.engine.plan")
        for m in ("set", "del_key", "upsert"):
            self.wrap(E.Engine, m, "plans.engine.write")
        self.wrap(E.Engine, "compact", "sources.store_io.compact", compacted)
        self.wrap(E, "read_store", "sources.store_io.read_store", segments)
        self.wrap(store_io, "read_store", "sources.store_io.read_store", segments)
        self.wrap(E, "write_store", "sources.store_io.write")
        self.wrap(store_io, "write_delta", "sources.store_io.write")
        self.wrap(E, "compile_predicate", "operators.predicates")
        self.wrap(predicates, "pushdown_hint", "operators.predicates")
        self.wrap(E, "top_k_similar", "operators.topk")
        self.wrap(topk, "top_k_batch", "operators.topk")
        for f in ("signature_of", "hamming_histogram", "choose_radius",
                  "feasible_prefixes"):
            self.wrap(ann, f, "operators.ann")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ------------------------------------------------------ summary --
    def totals(self) -> Dict[str, dict]:
        """Per span name: calls, inclusive seconds, and self seconds
        (duration minus the part covered by child spans)."""
        child = defaultdict(float)
        for _n, s, e, parent, _op in self.spans:
            if parent >= 0:
                child[parent] += e - s
        out: Dict[str, dict] = defaultdict(lambda: {"calls": 0, "s": 0.0, "self_s": 0.0})
        for i, (n, s, e, _p, _op) in enumerate(self.spans):
            t = out[n]
            t["calls"] += 1
            t["s"] += e - s
            t["self_s"] += e - s - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"fields": ["name", "start", "end", "parent", "op"],
                       "spans": self.spans}, f)


# ------------------------------------------------- spark counters --
def job_counts(sc, group: str) -> dict:
    """Jobs, stages, tasks run and tasks failed under one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is None:
                continue
            stages += 1
            tasks += si.numCompletedTasks + si.numFailedTasks
            failed += si.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


def _children(p) -> list:
    cls = p.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [p.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [p.plan()]
    kids, it = [], p.children().iterator()
    while it.hasNext():
        kids.append(it.next())
    return kids


def scan_rows(df) -> int:
    """Rows output by the file scans of ``df``'s executed plan (read
    after the frame was collected)."""
    total, todo = 0, [df._jdf.queryExecution().executedPlan()]
    while todo:
        p = todo.pop()
        if p.nodeName().startswith("Scan"):
            m = p.metrics()
            if m.contains("numOutputRows"):
                total += int(m.get("numOutputRows").get().value())
        todo.extend(_children(p))
    return total
