"""Spans around the program's public functions, and Spark job metrics
attributed to them, for the benchmark's traced runs.

A :class:`Tracer` replaces each chosen function or method with a
wrapper that records a span (name, start, end, parent, run id) and the
Spark job-id window the call covered.  Functions are replaced in every
loaded ``fastmlframework_spark`` module that holds them, so callers that
imported a name directly (``pipeline.solution`` imports ``ingest_csv``)
see the wrapper too.  Spans stay in memory; :meth:`Tracer.summary`
derives per-name total and self time from them at the end.

Jobs are attributed by id window, not job group: the benchmark's one
client thread runs one call at a time, so every job submitted between
a span's start and end belongs to it, whatever group it ran under.
Job and stage metrics come from Spark's AppStatusStore, which is kept
even with the UI disabled.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager

PACKAGE = "fastmlframework_spark"


class SparkProbe:
    """Reads job ids and job/stage metrics from the driver JVM."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def next_job_id(self) -> int:
        """Id the next submitted job will get (jobs so far)."""
        return int(self._sc.dagScheduler().nextJobId())

    def jobs(self, first: int, end: int) -> list[dict]:
        """Job records for ids in ``[first, end)`` with the metrics of
        the stages each job ran (skipped stages excluded)."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        out = []
        for jid in range(first, end):
            try:
                jd = store.job(jid)
            except Exception:  # evicted from the store or never posted
                continue
            sub, comp = jd.submissionTime(), jd.completionTime()
            if not (sub.isDefined() and comp.isDefined()):
                continue
            stages = []
            ids = jd.stageIds()
            for i in range(ids.size()):
                try:
                    sd = store.lastStageAttempt(ids.apply(i))
                except Exception:
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                stages.append(
                    {
                        "id": sd.stageId(),
                        "tasks": sd.numTasks(),
                        "run_s": sd.executorRunTime() / 1e3,
                        "cpu_s": sd.executorCpuTime() / 1e9,
                        "gc_s": sd.jvmGcTime() / 1e3,
                        "shuffle_read_b": sd.shuffleReadBytes(),
                        "shuffle_write_b": sd.shuffleWriteBytes(),
                        "spill_b": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    }
                )
            out.append(
                {
                    "id": jid,
                    "start": sub.get().getTime() / 1e3,
                    "end": comp.get().getTime() / 1e3,
                    "stages": stages,
                }
            )
        return out


def union_s(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def job_metrics(jobs: list[dict]) -> dict:
    """The ``spark.*`` layer record of a list of job records."""
    seen: dict[int, dict] = {}
    for j in jobs:
        for s in j["stages"]:
            seen[s["id"]] = s
    stages = seen.values()
    mb = 1024.0 * 1024.0
    return {
        "jobs": len(jobs),
        "stages": len(seen),
        "tasks": sum(s["tasks"] for s in stages),
        "job_busy_s": union_s((j["start"], j["end"]) for j in jobs),
        "exec_run_s": sum(s["run_s"] for s in stages),
        "exec_cpu_s": sum(s["cpu_s"] for s in stages),
        "jvm_gc_s": sum(s["gc_s"] for s in stages),
        "shuffle_read_mb": sum(s["shuffle_read_b"] for s in stages) / mb,
        "shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) / mb,
        "spill_mb": sum(s["spill_b"] for s in stages) / mb,
    }


class Tracer:
    """In-memory span recorder plus the wrappers that feed it.

    Not thread-safe: the benchmark runs ``build_solution(workers=1)``
    and its library calls from one thread, so spans nest strictly.
    """

    def __init__(self, probe: SparkProbe):
        self.probe = probe
        self.spans: list[dict] = []
        self.run_id = ""
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
            "job0": self.probe.next_job_id(),
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["job1"] = self.probe.next_job_id()
            self._stack.pop()

    def _wrapped(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def patch_function(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` everywhere the program holds it."""
        original = getattr(module, attr)
        wrapper = self._wrapped(name, original)
        for mod_name, mod in list(sys.modules.items()):
            if not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                continue
            if getattr(mod, attr, None) is original:
                setattr(mod, attr, wrapper)

    def patch_method(self, cls, attr: str, name: str) -> None:
        setattr(cls, attr, self._wrapped(name, cls.__dict__[attr]))

    def run_spans(self, run_id: str) -> list[dict]:
        return [s for s in self.spans if s["run"] == run_id and "end" in s]

    @staticmethod
    def summary(spans: list[dict], jobs: list[dict]) -> dict:
        """Per span name: calls, total and self seconds, Spark jobs and
        job-busy seconds of its id windows.  Self time is a span's
        duration minus the union of its children's intervals."""
        children: dict[int, list] = {}
        for s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        by_id = {j["id"]: j for j in jobs}
        out: dict[str, dict] = {}
        for s in spans:
            dur = s["end"] - s["start"]
            own = [by_id[i] for i in range(s["job0"], s["job1"]) if i in by_id]
            rec = out.setdefault(
                s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0, "job_busy_s": 0.0}
            )
            rec["calls"] += 1
            rec["total_s"] += dur
            rec["self_s"] += dur - union_s(children.get(s["id"], []))
            rec["jobs"] += len(own)
            rec["job_busy_s"] += union_s((j["start"], j["end"]) for j in own)
        return out

    @staticmethod
    def covered_s(spans: list[dict], prefix: str) -> float:
        """Seconds covered by the union of spans whose name starts with
        ``prefix`` (nested spans of one layer are not double counted)."""
        return union_s(
            (s["start"], s["end"]) for s in spans if s["name"].startswith(prefix)
        )
