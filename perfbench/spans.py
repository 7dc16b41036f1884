"""Spans around the calls into each layer, and Spark's own counters.

The benchmark records spans from its own files only: ``Tracer.patch``
wraps a public function of the program for the length of a traced run
and ``Tracer.unpatch`` restores it.  Spans stay in memory and are
written once, when the run ends.  ``JobProbe`` reads per-job and
per-stage executor metrics from the JVM status store, which works over
py4j with the Spark UI disabled.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time


class Tracer:
    """In-memory spans: name, start, end, parent span and op id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def patch(self, owner, attr: str, name: str) -> None:
        """Record a span ``name`` around every call of ``owner.attr``.

        For a module function, every program module that imported the
        function by value is rebound too, so calls made through those
        names are recorded as well."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        targets = [(owner, attr)]
        if not isinstance(owner, type):
            for mod in list(sys.modules.values()):
                mod_name = getattr(mod, "__name__", "")
                if mod is owner or not (
                        mod_name.startswith("clickhouse_core_spark")
                        or mod_name == "__spark_entry__"):
                    continue
                targets += [(mod, k) for k, v in vars(mod).items()
                            if v is orig]
        for obj, key in targets:
            self._patched.append((obj, key, getattr(obj, key)))
            setattr(obj, key, traced)

    def unpatch(self) -> None:
        for obj, key, orig in reversed(self._patched):
            setattr(obj, key, orig)
        self._patched.clear()

    def duration(self, name: str, ops: set[int] | None = None) -> float:
        """Total time in spans ``name`` not nested in another ``name``
        span (recursive calls count once), optionally only in ``ops``."""
        by_id = {s["id"]: s for s in self.spans}
        total = 0.0
        for s in self.spans:
            if s["name"] != name or (ops is not None and s["op"] not in ops):
                continue
            p = s["parent"]
            while p is not None and by_id[p]["name"] != name:
                p = by_id[p]["parent"]
            if p is None:
                total += s["end"] - s["start"]
        return total

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its child spans cover.
        Spans run one at a time, so children never overlap."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def install_layer_spans(tracer: Tracer) -> None:
    """Wrap the public calls into the engine's layers."""
    from clickhouse_core_spark.catalog import Catalog
    from clickhouse_core_spark.plans import frontend
    from clickhouse_core_spark.sources.mergetree import MergeTreeTable

    tracer.patch(Catalog, "register_all", "catalog.register_all")
    tracer.patch(frontend, "translate_ch_sql", "plans.translate_ch_sql")
    tracer.patch(frontend, "ch_sql", "plans.ch_sql")
    for method in ("insert", "read", "compact", "delete_where"):
        tracer.patch(MergeTreeTable, method, f"mergetree.{method}")


_STAGE_FIELDS = {
    "run_ms": "executorRunTime", "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime", "input_rows": "inputRecords",
    "input_bytes": "inputBytes", "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_mem_bytes": "memoryBytesSpilled",
    "spill_disk_bytes": "diskBytesSpilled", "failed_tasks": "numFailedTasks",
    "tasks": "numTasks",
}


class JobProbe:
    """Jobs finished since the previous call, from the status store."""

    def __init__(self, spark) -> None:
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._seen = -1
        self.new_jobs()

    def new_jobs(self) -> list[dict]:
        jobs = self._store.jobsList(None)        # newest first
        out = []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= self._seen:
                break
            out.append(self._job(job))
        if out:
            self._seen = out[0]["id"]
        return out[::-1]

    def _job(self, job) -> dict:
        rec = {"id": job.jobId(), "stages": 0,
               "start_ms": _opt_ms(job.submissionTime()),
               "end_ms": _opt_ms(job.completionTime())}
        rec.update(dict.fromkeys(_STAGE_FIELDS, 0))
        ids = job.stageIds()
        for k in range(ids.size()):
            try:
                stage = self._store.lastStageAttempt(ids.apply(k))
            except Exception:                # stage data already evicted
                continue
            if stage.status().toString() == "SKIPPED":
                continue
            rec["stages"] += 1
            for key, getter in _STAGE_FIELDS.items():
                rec[key] += getattr(stage, getter)()
        return rec


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def catalyst_phases(df) -> dict[str, float]:
    """Seconds of analysis, optimization and planning of ``df``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000 if opt.isDefined() else 0.0
    return out


def covered_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi > end:
            total += hi - max(lo, end)
            end = hi
    return total
