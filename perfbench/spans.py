"""Spans recorded at layer boundaries, from the benchmark's own files.

A span has a name, a start, an end, a parent and the id of the op it
belongs to. Spans are kept in memory and written out when the run ends.
Catalog calls are timed by wrapping the methods of the `SnapshotTable`
instances the benchmark hands to `QualityPipeline(table=...)`; helpers
inside `pipeline.run` are timed by rebinding their names in that
module's namespace for the duration of a traced op; Spark executions
are added afterwards from the SQL status store.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager

import curator_spark.pipeline.run as pipeline_run

# pipeline.run globals timed as their own layer during traced ops
_RUN_HELPERS = {
    "run_fingerprint": "pipeline.fingerprint",
    "staged_plan": "pipeline.plan",
    "with_bucket": "pipeline.plan",
}
_FSUTIL = ("exists", "rename", "has_file_with_suffix", "delete")
_CATALOG = {
    "commit": "catalog.commit", "commit_parts": "catalog.commit",
    "active_commits": "catalog.active_commits", "append": "catalog.append",
    "read": "catalog.read", "read_incremental": "catalog.read",
}


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self.op: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, name: str, fn):
        def timed(*a, **k):
            with self.span(name):
                return fn(*a, **k)
        return timed

    @contextmanager
    def op_span(self, op: int, kind: str):
        """Root span of one op; the pipeline.run helpers are timed
        while it is open."""
        self.op = op
        saved = {n: getattr(pipeline_run, n) for n in _RUN_HELPERS}
        fs = pipeline_run.fsutil
        saved_fs = {n: getattr(fs, n) for n in _FSUTIL}
        for n, layer in _RUN_HELPERS.items():
            setattr(pipeline_run, n, self.wrap(layer, saved[n]))
        for n in _FSUTIL:
            setattr(fs, n, self.wrap("pipeline.fsutil", saved_fs[n]))
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            for n, f in saved.items():
                setattr(pipeline_run, n, f)
            for n, f in saved_fs.items():
                setattr(fs, n, f)

    def add_executions(self, op: int, executions) -> None:
        """Attach Spark executions to the innermost span of `op` that
        contains them."""
        ops = [s for s in self.spans if s["op"] == op]
        for ex in executions:
            inside = [s for s in ops if s["start"] <= ex.start + 0.002
                      and ex.end <= s["end"] + 0.002]
            parent = max(inside, key=lambda s: s["start"]) if inside else ops[0]
            self.spans.append({
                "id": len(self.spans), "name": f"spark.exec.{exec_kind(ex.description)}",
                "op": op, "parent": parent["id"],
                "start": max(ex.start, parent["start"]),
                "end": min(ex.end, parent["end"]), "execution": ex.id,
            })

    def self_times(self, op: int) -> dict[str, float]:
        """Layer -> self time (span duration minus the part of it its
        children cover) summed over the spans of `op`."""
        spans = [s for s in self.spans if s["op"] == op]
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            cover = _union([(c["start"], c["end"]) for c in kids[s["id"]]])
            out[s["name"]] += max(0.0, (s["end"] - s["start"]) - cover)
        return dict(out)


def exec_kind(description: str) -> str:
    d = description.split(" at ")[0]
    if d in ("parquet", "save"):
        return "write"
    if d in ("collect", "count", "toPandas"):
        return "collect"
    return "other"


def _union(iv: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(iv):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def instrument(table, tracer: Tracer, stats: dict):
    """Time the catalog calls of one table instance, in place. The
    instance attributes shadow the class methods, so calls the table
    makes on itself are timed too. `stats[key]` collects
    [calls, seconds]."""
    for meth, layer in _CATALOG.items():
        fn = getattr(table, meth)

        def timed(*a, _fn=fn, _layer=layer, **k):
            t = time.perf_counter()
            try:
                with tracer.span(_layer):
                    return _fn(*a, **k)
            finally:
                rec = stats.setdefault(_layer, [0, 0.0])
                rec[0] += 1
                rec[1] += time.perf_counter() - t

        setattr(table, meth, timed)
    return table
