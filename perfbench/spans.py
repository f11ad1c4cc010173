"""In-memory spans recorded around the benchmark's own calls into the library.

Every span has a name, start, end, parent and op id; spans stay in a list
and are written once, when the run ends. Each span also tags the Spark jobs
it submits with a job group ``<op>/<span>``, so stage data from the status
REST API can be attributed to the span afterwards.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from statistics import median


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op: str, **attrs):
        parent = self.spans[self._stack[-1]]["name"] if self._stack else None
        rec = {"name": name, "op": op, "parent": parent, **attrs}
        group = f"{op}/{name}"
        if self.sc is not None:
            self.sc.setJobGroup(group, group)
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            if self.sc is not None and self._stack:
                outer = self.spans[self._stack[-1]]
                g = f"{outer['op']}/{outer['name']}"
                self.sc.setJobGroup(g, g)

    def of(self, op: str, name: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["op"] == op and (name is None or s["name"] == name)]

    @staticmethod
    def seconds(span: dict) -> float:
        return span["end"] - span["start"]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _med(xs: list) -> float:
    return float(median(xs)) if xs else 0.0


def span_metrics(recs: list[dict], tracer: Tracer, rest, cores: int) -> dict:
    """Per-layer metrics from the traced ops: span durations, Spark stage
    data of the spans' job groups, the shard counts the ops recorded
    (``plan_shards``), and sizes of the materialized partials and merged
    rows. ``agg.plan_s`` is taken over build ops only: the library's
    planning of a build (``partials_from_parquet``, ``partials(df)``, the
    pending-shard scan of an append). Handles are released here."""
    from pyspark.sql import functions as F
    from sketchlib.session import release

    acc: dict[str, list] = {}

    def add(name, value):
        acc.setdefault(name, []).append(value)

    for r in recs:
        op_id = f"op{r['i']}"
        top = tracer.of(op_id, "op")
        if not top:
            continue
        children = [s for s in tracer.of(op_id) if s["parent"] == "op"]
        add("trace.span_coverage", sum(map(Tracer.seconds, children)) / Tracer.seconds(top[0]))
        for span, metric in (("plan", "agg.plan_s"), ("merge", "agg.merge_stage_s"),
                             ("finalize", "agg.finalize_s")):
            if tracer.of(op_id, span) and (span != "plan" or r["build"]):
                add(metric, sum(map(Tracer.seconds, tracer.of(op_id, span))))
        builds = tracer.of(op_id, "build")
        if builds:
            build_s = sum(map(Tracer.seconds, builds))
            stages = rest.group_stages(f"{op_id}/build")
            add("agg.build_stage_s", build_s)
            add("agg.plan_tasks", sum(s["numTasks"] for s in stages))
            add("agg.build_core_busy_ratio",
                sum(s["executorRunTime"] for s in stages) / 1000.0 / (build_s * cores))
            widest = max(stages, key=lambda s: s["numTasks"], default=None)
            if widest is not None:
                add("agg.build_task_skew", rest.task_skew(widest))
        if tracer.of(op_id, "merge"):
            stages = rest.group_stages(f"{op_id}/merge")
            add("agg.merge_shuffle_bytes", sum(s["shuffleReadBytes"] for s in stages))
            add("agg.merge_in_rows", sum(s["shuffleReadRecords"] for s in stages))
        if "plan_shards" in r:
            add("agg.plan_shards", r["plan_shards"])
        handles = r.pop("handles", {})
        if "partials" in handles:
            parts = handles["partials"]
            row = parts.agg(F.count("*").alias("n"), F.sum(F.length("sketch")).alias("b")).first()
            add("agg.partial_rows", row["n"])
            add("agg.partial_bytes", row["b"] or 0)
            release(parts)
        if "merged" in handles:
            add("agg.merge_out_rows", handles["merged"].count())
            release(handles["merged"])
    return {k: _med(v) for k, v in acc.items()}
