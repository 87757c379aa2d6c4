"""Spans around calls into the engine, resolved against Spark's status store.

A span is opened with :meth:`Tracer.span` around one call into a layer's
public function. While it is open, every Spark job the call launches runs
under a job group of its own. When the benchmark ends, :meth:`Tracer.report`
reads the jobs and stages of each group from the live status store (works
with the UI off and launches no Spark job) and turns them into per-span
numbers. Nothing is added inside the engine.

Two kinds of child span need no job group of their own:

* a *window* span covers a known time interval of its parent and owns the
  parent's jobs submitted inside it (the curation stages, timed by
  ``curate_corpus(stage_seconds=...)``);
* a *call-site* span owns the parent's jobs whose Spark call site is in a
  given source file (the sq8 training job, the only job that
  ``build_quantized_tiers`` runs itself rather than through its sink).

With tracing off, :meth:`Tracer.span` is an empty context manager.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

FIELDS = (
    "wall_s",
    "self_s",
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "gc_s",
    "driver_s",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext if enabled else None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        # spans opened while this is True are written out but not averaged
        self.warming_up = False

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = self._new(name, group=f"perfbench-span-{len(self.spans)}")
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                self.sc._jsc.clearJobGroup()

    def window(self, name: str, parent: dict, t0: float, t1: float) -> None:
        if self.enabled:
            rec = self._new(name, parent=parent, window=(t0, t1))
            rec["t0"], rec["t1"] = t0, t1

    def call_site(self, name: str, parent: dict, source_file: str) -> None:
        if self.enabled:
            self._new(name, parent=parent, call_site=source_file)

    def _new(self, name: str, parent: dict | None = None, **kind) -> dict:
        if parent is None and self._stack:
            parent = self._stack[-1]
        rec = {"id": len(self.spans), "name": name, "warmup": self.warming_up,
               "parent": parent["id"] if parent else None, **kind}
        self.spans.append(rec)
        return rec

    # -- resolution, after the measured window ---------------------------

    def report(self) -> tuple[dict[str, dict], list[dict]]:
        """Per-span-name means of FIELDS (plus ``calls``) and the raw spans."""
        if not self.enabled:
            return {}, []
        jobs, stages = self._read_status_store()
        by_group: dict[str, list[dict]] = {}
        for j in jobs:
            by_group.setdefault(j["group"], []).append(j)
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)

        memo: dict[int, list[dict]] = {}

        def span_jobs(s: dict) -> list[dict]:
            if s["id"] in memo:
                return memo[s["id"]]
            if "group" in s:
                own = list(by_group.get(s["group"], []))
                for c in children.get(s["id"], []):
                    if "group" in c:
                        own += span_jobs(c)
            else:
                parent = s["parent"]
                pool = span_jobs(self.spans[parent]) if parent is not None else []
                if "window" in s:
                    t0, t1 = s["window"]
                    own = [j for j in pool if t0 <= j["submitted"] < t1]
                else:
                    own = [j for j in pool if s["call_site"] in j["name"]]
                    if own:
                        s["t0"] = min(j["submitted"] for j in own)
                        s["t1"] = max(j["completed"] for j in own)
                    else:
                        s["t0"] = s["t1"] = 0.0
            memo[s["id"]] = own
            return own

        for s in self.spans:
            span_jobs(s)
        for s in self.spans:
            js = memo[s["id"]]
            wall = s["t1"] - s["t0"]
            kids = children.get(s["id"], [])
            st = [stages[i] for j in js for i in j["stage_ids"] if i in stages]
            s["m"] = {
                "wall_s": wall,
                "self_s": wall - sum(c["t1"] - c["t0"] for c in kids),
                "jobs": len(js),
                "stages": sum(1 for x in st if x["ran"]),
                "tasks": sum(x["tasks"] for x in st),
                "executor_run_s": sum(x["run_ms"] for x in st) / 1e3,
                "executor_cpu_s": sum(x["cpu_ns"] for x in st) / 1e9,
                "shuffle_read_bytes": sum(x["read_b"] for x in st),
                "shuffle_write_bytes": sum(x["write_b"] for x in st),
                "gc_s": sum(x["gc_ms"] for x in st) / 1e3,
                "driver_s": wall - _covered(js, s["t0"], s["t1"]),
            }

        agg: dict[str, dict] = {}
        for s in self.spans:
            if s["warmup"]:
                continue
            a = agg.setdefault(s["name"], {"calls": 0, **{f: 0.0 for f in FIELDS}})
            a["calls"] += 1
            for f in FIELDS:
                a[f] += s["m"][f]
        for a in agg.values():
            for f in FIELDS:
                a[f] /= a["calls"]
        raw = [
            {k: v for k, v in s.items()
             if k in ("id", "name", "parent", "warmup", "t0", "t1", "m")}
            for s in self.spans
        ]
        return agg, raw

    def _read_status_store(self) -> tuple[list[dict], dict[int, dict]]:
        jsc = self.sc._jsc.sc()
        try:
            # the status store is fed asynchronously by the listener bus
            jsc.listenerBus().waitUntilEmpty(30_000)
        except Exception:  # noqa: BLE001 - a late event only loses a few jobs
            pass
        store = jsc.statusStore()
        jobs = []
        jl = store.jobsList(None)
        for i in range(jl.size()):
            j = jl.apply(i)
            group = j.jobGroup()
            sub, comp = j.submissionTime(), j.completionTime()
            if not group.isDefined() or not sub.isDefined():
                continue
            ids = j.stageIds()
            jobs.append({
                "group": group.get(),
                "name": j.name(),
                "stage_ids": [ids.apply(k) for k in range(ids.size())],
                "submitted": sub.get().getTime() / 1e3,
                "completed": (comp.get().getTime() if comp.isDefined()
                              else sub.get().getTime()) / 1e3,
            })
        gw = self.sc._gateway
        sl = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        stages: dict[int, dict] = {}
        for i in range(sl.size()):
            st = sl.apply(i)
            x = stages.setdefault(st.stageId(), {
                "ran": False, "tasks": 0, "run_ms": 0, "cpu_ns": 0,
                "read_b": 0, "write_b": 0, "gc_ms": 0,
            })
            done = st.numCompleteTasks() + st.numFailedTasks()
            x["ran"] = x["ran"] or done > 0
            x["tasks"] += done
            x["run_ms"] += st.executorRunTime()
            x["cpu_ns"] += st.executorCpuTime()
            x["read_b"] += st.shuffleReadBytes()
            x["write_b"] += st.shuffleWriteBytes()
            x["gc_ms"] += st.jvmGcTime()
        return jobs, stages


def _covered(jobs: list[dict], t0: float, t1: float) -> float:
    """Length of [t0, t1] covered by at least one job's run interval."""
    iv = sorted((max(j["submitted"], t0), min(j["completed"], t1)) for j in jobs)
    total, end = 0.0, t0
    for a, b in iv:
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total
