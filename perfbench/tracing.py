"""Layer tracing from the benchmark's own process.

``Tracer.wrap`` replaces a public function of a ``rapidfuzz_spark`` module
with a wrapper that opens a span (name, parent, start, end), tags the span's
Spark jobs with a job group, calls the real function, and materialises the
returned frame (persist + count) inside the span, so the work a lazy frame
defers is charged to the layer that built it. The package code is not
changed; ``restore`` puts the original functions back.

Spans are kept in memory. After the traced jobs, ``attribute`` reads the
jobs and stages from the Spark UI's REST API and charges every stage to the
innermost span whose job group or time window holds its job. Counting a
span's input rows is tracer work: it runs under its own job group and its
wall time is taken out of the self time of the span it runs in.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

TRACER_GROUP = "perfbench-tracer"
COUNTERS = ("task_busy_s", "shuffle_write_mb", "spill_mb", "task_skew", "failed_tasks")


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._main = threading.get_ident()
        self._patched: list[tuple] = []
        self._held: list[DataFrame] = []
        # frames the tracer materialised: id -> (frame, rows); the frame is
        # kept so its id is not reused while the entry lives
        self._rows: dict[int, tuple] = {}

    # ---- spans ------------------------------------------------------------

    def _set_group(self) -> None:
        if self._stack:
            sid = self._stack[-1]
            self.sc.setJobGroup(f"span-{sid}", self.spans[sid]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def open(self, name: str) -> dict:
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "t0": time.time(),
            "t1": None,
            "rows_in": 0,
            "rows_out": 0,
            "excluded_s": 0.0,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group()
        return rec

    def close(self, rec: dict) -> None:
        rec["t1"] = time.time()
        self._stack.pop()
        self._set_group()

    @contextmanager
    def span(self, name: str):
        rec = self.open(name)
        try:
            yield rec
        finally:
            self.close(rec)

    def _excluded(self, fn):
        """Run tracer bookkeeping under its own job group; its wall time is
        taken out of the innermost open span's self time (outer spans lose
        it with that span's duration)."""
        t0 = time.time()
        self.sc.setJobGroup(TRACER_GROUP, "tracer bookkeeping")
        try:
            return fn()
        finally:
            self._set_group()
            if self._stack:
                self.spans[self._stack[-1]]["excluded_s"] += time.time() - t0

    def rows(self, df: DataFrame) -> int:
        hit = self._rows.get(id(df))
        if hit is not None and hit[0] is df:
            return hit[1]
        return self._excluded(df.count)

    def materialise(self, df: DataFrame) -> int:
        df.persist(StorageLevel.MEMORY_AND_DISK)
        self._held.append(df)
        n = df.count()
        self._rows[id(df)] = (df, n)
        return n

    def release(self) -> None:
        """Unpersist what the tracer materialised (call after each job)."""
        for df in self._held:
            df.unpersist()
        self._held.clear()
        self._rows.clear()

    # ---- wrapping -----------------------------------------------------------

    def wrap(self, module, attr: str, name: str) -> None:
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kw):
            # calls from worker threads (the checkpointed scorer's bucket
            # pool) pass through; their jobs land in the caller's span by
            # time window
            if threading.get_ident() != tracer._main:
                return orig(*args, **kw)
            frames = [a for a in (*args, *kw.values()) if isinstance(a, DataFrame)]
            rows_in = tracer.rows(frames[0]) if frames else 0
            rec = tracer.open(name)
            try:
                out = orig(*args, **kw)
                if isinstance(out, DataFrame):
                    rec["rows_out"] = tracer.materialise(out)
            finally:
                tracer.close(rec)
            rec["rows_in"] = rows_in
            return out

        setattr(module, attr, traced)
        self._patched.append((module, attr, orig))

    def restore(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # ---- attribution ----------------------------------------------------------

    def _innermost(self, t: float, candidates: list[dict]) -> Optional[dict]:
        best = None
        for s in candidates:
            if s["t0"] <= t <= s["t1"] and (best is None or s["t0"] >= best["t0"]):
                best = s
        return best

    def attribute(self, scraper) -> None:
        """Charge every Spark stage to a span: by job group when the job was
        submitted from the traced thread, else by submission time. Adds
        ``jobs`` and the stage counters to every span in place."""
        scraper.settle()
        jobs = scraper.jobs()
        stages = scraper.stages()
        for s in self.spans:
            s["jobs"] = 0
            s["stages"] = []
        closed = [s for s in self.spans if s["t1"] is not None]
        job_span: dict[int, dict] = {}
        for j in jobs:
            g = j["group"] or ""
            if g == TRACER_GROUP:
                continue
            span = None
            if g.startswith("span-"):
                span = self.spans[int(g[5:])]
            else:
                span = self._innermost(j["submitted"], closed)
            if span is None:
                continue
            span["jobs"] += 1
            job_span[j["job_id"]] = span
        stage_span: dict[int, dict] = {}
        for j in sorted(jobs, key=lambda j: j["job_id"]):
            span = job_span.get(j["job_id"])
            for sid in j["stage_ids"]:
                # a stage runs in the first job that needs it; later jobs
                # list it as skipped
                if span is not None and sid not in stage_span:
                    stage_span[sid] = span
        for st in stages:
            span = stage_span.get(st["stage_id"])
            if span is not None:
                span["stages"].append(st)
        for s in self.spans:
            st = s.pop("stages")
            s["task_busy_s"] = sum(x["run_ms"] for x in st) / 1000.0
            s["shuffle_write_mb"] = sum(x["shuffle_write_bytes"] for x in st) / 2**20
            s["spill_mb"] = sum(x["spill_bytes"] for x in st) / 2**20
            s["failed_tasks"] = sum(x["failed_tasks"] for x in st)
            skews = [
                scraper.task_skew(x["stage_id"], x["attempt"])
                for x in st
                if x["tasks"] >= 2
            ]
            s["task_skew"] = max(skews) if skews else 1.0

    def self_times(self) -> None:
        """``self_s`` = duration - time covered by child spans - tracer
        bookkeeping. Children run sequentially on the traced thread, so
        their durations do not overlap."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["t1"] - s["t0"]
        for s in self.spans:
            s["self_s"] = max(0.0, s["t1"] - s["t0"] - child[s["id"]] - s["excluded_s"])
