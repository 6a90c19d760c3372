"""Spans and Spark scheduler counts for the benchmark.

A span records its name, start, end, parent span and op id. Every span
runs under its own Spark job group, so the jobs, stages and tasks it
launched are read back from ``SparkContext.statusTracker()`` when it
closes. Spans live in memory and are dumped to JSON when a run ends.

Traced runs wrap the engine's public functions (the workloads patch
the names ``api.py`` looks up, so the package source is untouched) and
materialise each returned DataFrame inside the span, so a layer's span
covers that layer's Spark work rather than only its plan building.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages that ran, tasks that ran) for one job group."""
    st = sc.statusTracker()
    jobs = stages = tasks = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            s = st.getStageInfo(sid)
            # skipped stages (shuffle output reused) ran no tasks
            if s is not None and s.numCompletedTasks + s.numFailedTasks > 0:
                stages += 1
                tasks += s.numCompletedTasks + s.numFailedTasks
    return jobs, stages, tasks


class Tracer:
    """Span recorder. With ``enabled=False`` only op spans are kept
    (one job group per op, so scheduler counts stay available) and no
    layer spans are recorded."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self._groups = 0
        self.op_id: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, op_id: int | None = None):
        """Record a span. ``op_id`` opens an op (a top-level request);
        untraced runs record op spans only."""
        if op_id is None and not self.enabled:
            yield {}
            return
        if op_id is not None:
            self.op_id = op_id
        parent = self._stack[-1] if self._stack else None
        self._groups += 1
        group = f"perfbench-{self._groups}"
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent,
            "op": self.op_id,
            "group": group,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if op_id is not None:
                self.op_id = None
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                p = self.spans[parent]
                self.sc.setJobGroup(p["group"], p["name"])
            rec["jobs"], rec["stages"], rec["tasks"] = job_counts(
                self.sc, group
            )

    def op_sched(self, op_id: int) -> tuple[int, int, int]:
        """Scheduler totals over every span of one op."""
        tot = [0, 0, 0]
        for s in self.spans:
            if s["op"] == op_id:
                for i, k in enumerate(("jobs", "stages", "tasks")):
                    tot[i] += s.get(k, 0)
        return tot[0], tot[1], tot[2]

    def wrap(self, name: str, fn, materialize=None):
        """``fn`` run inside span ``name``; ``materialize(result)`` (when
        given) forces the returned DataFrame inside the same span."""

        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if materialize is not None:
                    out = materialize(out, rec)
                return out

        return inner

    def layer_seconds(self, ops=None) -> dict:
        """Total wall seconds per span name (children included), over
        the spans of ``ops`` when given (``None`` in it: set-up)."""
        out: dict[str, float] = {}
        for s in self.spans:
            if ops is None or s["op"] in ops:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def self_seconds(self, name: str, ops=None) -> float:
        """Seconds inside spans ``name`` (of ``ops``, when given) that
        no child span covers."""
        total = 0.0
        for s in self.spans:
            if s["name"] != name or (ops is not None and s["op"] not in ops):
                continue
            child = sum(
                c["end"] - c["start"]
                for c in self.spans
                if c["parent"] == s["id"]
            )
            total += (s["end"] - s["start"]) - child
        return total

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **(extra or {})}, fh, indent=1)


def check_nesting(spans: list[dict], slack: float = 1e-6) -> list[str]:
    """Every child span must lie within its parent, on the same op."""
    by_id = {s["id"]: s for s in spans}
    bad = []
    for s in spans:
        p = s["parent"]
        if p is None:
            continue
        par = by_id.get(p)
        if par is None:
            bad.append(f"span {s['id']} ({s['name']}): unknown parent {p}")
        elif s["start"] + slack < par["start"] or s["end"] > par["end"] + slack:
            bad.append(
                f"span {s['id']} ({s['name']}) [{s['start']:.6f},"
                f"{s['end']:.6f}] escapes parent {p} ({par['name']}) "
                f"[{par['start']:.6f},{par['end']:.6f}]"
            )
        elif s["op"] != par["op"]:
            bad.append(f"span {s['id']} ({s['name']}): op differs from parent")
    return bad


def checkpoint(df, rec=None):
    """Materialise a DataFrame at a layer boundary (eager local
    checkpoint: computed once here, read by every later consumer)."""
    return df.localCheckpoint(eager=True)


def checkpoint_counted(df, rec):
    """``checkpoint`` plus the row count, recorded on the span."""
    out = df.localCheckpoint(eager=True)
    rec["rows"] = out.count()
    return out
