"""Spans around calls into the engine's layers, recorded from outside
the package: each wrapper replaces a public function or method where the
caller looks it up, times the call and links it to its parent span and
to the op that caused it. Spans stay in memory until the run ends."""

from __future__ import annotations

import functools
import json
import os
import time
from dataclasses import dataclass

# span name -> (module, owner attribute or None, function name)
TARGETS = {
    "sql.call": ("cdh_integrate_carbondata2_3_spark.sql", "Engine", "sql"),
    "catalog.table.read": ("cdh_integrate_carbondata2_3_spark.catalog.table",
                           "Table", "read"),
    "catalog.table.insert": ("cdh_integrate_carbondata2_3_spark.catalog.table",
                             "Table", "insert"),
    "catalog.table.compact": ("cdh_integrate_carbondata2_3_spark.catalog.table",
                              "Table", "compact"),
    "catalog.manifest.load": ("cdh_integrate_carbondata2_3_spark.catalog.manifest",
                              "Manifest", "load"),
    "catalog.manifest.update": ("cdh_integrate_carbondata2_3_spark.catalog.manifest",
                                "Manifest", "update"),
    "mv.answer": ("cdh_integrate_carbondata2_3_spark.mv.manager",
                  "MVManager", "answer"),
    # sql.py calls these as attributes of the imported module
    # (``dml.update_rows``), and dml imports the merge-on-read path at
    # call time, so a module-attribute patch is seen by both callers
    "operators.dml.update": ("cdh_integrate_carbondata2_3_spark.operators.dml",
                             None, "update_rows"),
    "operators.dml.delete": ("cdh_integrate_carbondata2_3_spark.operators.dml",
                             None, "delete_rows"),
    "operators.mor.delete": ("cdh_integrate_carbondata2_3_spark.operators.mor",
                             None, "delete_rows_mor"),
    "operators.merge.execute": ("cdh_integrate_carbondata2_3_spark.operators.merge",
                                "MergeBuilder", "execute"),
    # the prep workload calls these through their modules at call time
    "operators.graph.pagerank": ("cdh_integrate_carbondata2_3_spark.operators.graph",
                                 None, "pagerank"),
    "operators.graph.cc": ("cdh_integrate_carbondata2_3_spark.operators.graph",
                           None, "connected_components"),
    "operators.dedup.ngram_jaccard": ("cdh_integrate_carbondata2_3_spark.operators.dedup",
                                      None, "ngram_jaccard_near_dups"),
}

# which workload must make each wrapper fire (trace sanity)
FIRES_ON = {
    "sql.call": {"lake_read", "lake_write"},
    "catalog.table.read": {"lake_read", "lake_write", "prep_ops"},
    "catalog.table.insert": {"lake_write"},
    "catalog.table.compact": {"lake_write"},
    "catalog.manifest.load": {"lake_read", "lake_write", "prep_ops"},
    "catalog.manifest.update": {"lake_write"},
    "mv.answer": {"lake_read"},
    "operators.dml.update": {"lake_write"},
    "operators.dml.delete": {"lake_write"},
    "operators.mor.delete": {"lake_write"},
    "operators.merge.execute": {"lake_write"},
    "operators.graph.pagerank": {"prep_ops"},
    "operators.graph.cc": {"prep_ops"},
    "operators.dedup.ngram_jaccard": {"prep_ops"},
}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    error: str | None = None
    result: object = None


class Tracer:
    """Install with ``install()``; spans record only while ``active``."""

    def __init__(self):
        self.spans: list[Span] = []
        self.active = False
        self.op: int | None = None
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []

    def install(self) -> None:
        import importlib
        for name, (mod, owner, fn) in TARGETS.items():
            target = importlib.import_module(mod)
            if owner is not None:
                target = getattr(target, owner)
            orig = getattr(target, fn)
            self._saved.append((target, fn, orig))
            setattr(target, fn, self._wrap(name, orig))

    def uninstall(self) -> None:
        for target, fn, orig in reversed(self._saved):
            setattr(target, fn, orig)
        self._saved.clear()

    def _wrap(self, name: str, orig):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            span = Span(len(tracer.spans), name,
                        tracer._stack[-1] if tracer._stack else None,
                        tracer.op, time.perf_counter())
            tracer.spans.append(span)
            tracer._stack.append(span.id)
            try:
                out = orig(*args, **kwargs)
                if name == "mv.answer":
                    span.result = out[1]          # MV name or None
                return out
            except BaseException as e:
                span.error = type(e).__name__
                raise
            finally:
                span.end = time.perf_counter()
                tracer._stack.pop()
        return wrapper

    # ----------------------------------------------------------- summaries

    def of(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part its direct children cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        return {s.id: (s.end - s.start) - child.get(s.id, 0.0)
                for s in self.spans}

    def descendants_of(self, span: Span, name: str) -> list[Span]:
        ids = {span.id}
        out = []
        for s in self.spans[span.id + 1:]:
            if s.parent in ids:
                ids.add(s.id)
                if s.name == name:
                    out.append(s)
        return out


def event_log_task_metrics(event_dir: str) -> dict[str, dict]:
    """Per job group: summed task metrics from the Spark event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    paths = sorted(os.path.join(d, fn) for d, _, fns in os.walk(event_dir)
                   for fn in fns if fn.startswith(("events_", "local-")))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for s in ev.get("Stage IDs", []):
                        if g is not None:
                            stage_group[s] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if g is None or not tm:
                        continue
                    acc = out.setdefault(g, {"shuffle_bytes": 0,
                                             "spill_bytes": 0,
                                             "gc_s": 0.0, "task_s": 0.0})
                    sw = tm.get("Shuffle Write Metrics") or {}
                    acc["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                           + tm.get("Disk Bytes Spilled", 0))
                    acc["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    acc["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
    return out
