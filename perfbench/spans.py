"""Spans around the public calls of each layer, with Spark counters.

A traced run wraps, from outside, the public functions the workloads
call: crawler ``transform``, ``framework.run_pipeline_batched``, the
``GraphStore`` sinks, each post pass's ``run``, and the ``ops``/``graph``
functions the query leaves import. The wrappers exist only in a traced
run; the timed runs call the program untouched.

Job attribution: the workloads drive Spark from one thread, so the jobs a
span launched are exactly the job ids handed out between its start and
its end. Each job belongs to the innermost span that launched it (its
"own" jobs); a span's totals add those of its children. Stage counters
for a span's own jobs are read from Spark's status store when the span
ends. Spans stay in memory and are written once, as JSON, at the end.
"""

from __future__ import annotations

import functools
import itertools
import json
import time
from contextlib import contextmanager

COUNTERS = ("jobs", "stages", "tasks", "tasks_failed", "exec_run_s",
            "exec_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb")


class Tracer:
    def __init__(self, spark, run_id: str):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._status = self._jsc.statusStore()
        self._empty = sc._jvm.java.util.ArrayList()
        self._no_q = sc._gateway.new_array(sc._jvm.double, 0)
        self._q = sc._gateway.new_array(sc._jvm.double, 2)
        self._q[0], self._q[1] = 0.5, 1.0
        self.run_id = run_id
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self._owned: set[int] = set()
        self.overhead_s = 0.0

    # ---------- spans ----------
    def _next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    @contextmanager
    def span(self, name: str, **attrs):
        t_in = time.perf_counter()
        sp = {"id": next(self._ids), "name": name,
              "parent": self._stack[-1]["id"] if self._stack else None,
              "run_id": self.run_id, "calls": 1, "rows": 0, **attrs,
              "_job_lo": self._next_job_id()}
        self._stack.append(sp)
        start = time.perf_counter()
        self.overhead_s += start - t_in
        try:
            yield sp
        finally:
            end = time.perf_counter()
            sp["start"], sp["end"] = start - self.t0, end - self.t0
            # children ended first and already own the jobs they launched
            own = [j for j in range(sp.pop("_job_lo"), self._next_job_id())
                   if j not in self._owned]
            self._owned.update(own)
            sp["own"] = self._counters(own)
            self._stack.pop()
            self.spans.append(sp)
            self.overhead_s += time.perf_counter() - end

    def _counters(self, job_ids) -> dict:
        c = dict.fromkeys(COUNTERS, 0)
        c["skew"] = []  # (stage run time, max/median task run time)
        for j in job_ids:
            job = self._status.job(j)
            c["jobs"] += 1
            it = job.stageIds().iterator()
            while it.hasNext():
                self._add_stage(c, it.next())
        return c

    def _add_stage(self, c: dict, sid: int) -> None:
        it = self._status.stageData(sid, False, self._empty, False,
                                    self._no_q).iterator()
        while it.hasNext():
            sd = it.next()
            if sd.status().toString() not in ("COMPLETE", "FAILED"):
                continue  # skipped: its map output was reused
            c["stages"] += 1
            c["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            c["tasks_failed"] += sd.numFailedTasks()
            c["exec_run_s"] += sd.executorRunTime() / 1e3
            c["exec_cpu_s"] += sd.executorCpuTime() / 1e9
            c["gc_s"] += sd.jvmGcTime() / 1e3
            c["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
            c["spill_mb"] += sd.diskBytesSpilled() / 2**20
            if sd.numCompleteTasks() >= 2:
                summ = self._status.taskSummary(sid, sd.attemptId(), self._q)
                if summ.isDefined():
                    rt = summ.get().executorRunTime()
                    med, mx = rt.apply(0), rt.apply(1)
                    if med > 0:
                        c["skew"].append((sd.executorRunTime(), mx / med))

    # ---------- wrapping ----------
    def wrap(self, owner, attr: str, name, rows: bool = False) -> None:
        """Replace ``owner.attr`` by a traced call. ``name`` is the span
        name, or a function of the call's first argument that gives it."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            span_name = name(args[0]) if callable(name) else name
            with tracer.span(span_name) as sp:
                out = orig(*args, **kwargs)
                if rows and isinstance(out, int) and out > 0:
                    sp["rows"] = out
                return out

        setattr(owner, attr, traced)

    # ---------- results ----------
    def totals(self) -> dict[str, dict]:
        """Per span name: summed calls, rows, seconds (inclusive), self
        seconds and inclusive counters."""
        kids: dict[int, list[dict]] = {}
        for sp in self.spans:
            kids.setdefault(sp["parent"], []).append(sp)

        def inclusive(sp) -> dict:
            c = {k: v for k, v in sp["own"].items() if k != "skew"}
            c["skew"] = list(sp["own"]["skew"])
            for ch in kids.get(sp["id"], []):
                sub = inclusive(ch)
                for k in COUNTERS:
                    c[k] += sub[k]
                c["skew"] += sub["skew"]
            return c

        out: dict[str, dict] = {}
        for sp in self.spans:
            dur = sp["end"] - sp["start"]
            child = sum(ch["end"] - ch["start"] for ch in kids.get(sp["id"], []))
            t = out.setdefault(sp["name"], {"calls": 0, "rows": 0, "s": 0.0,
                                            "self_s": 0.0, "self_jobs": 0,
                                            **dict.fromkeys(COUNTERS, 0),
                                            "skew": []})
            t["calls"] += sp["calls"]
            t["rows"] += sp["rows"]
            t["s"] += dur
            t["self_s"] += dur - child
            t["self_jobs"] += sp["own"]["jobs"]
            inc = inclusive(sp)
            for k in COUNTERS:
                t[k] += inc[k]
            t["skew"] += inc["skew"]
        return out

    def self_time_by_layer(self) -> dict[str, float]:
        """Self time summed per layer; a span's layer is its name minus the
        last dotted part (``store.upsert_nodes`` -> ``store``), and the
        benchmark's own ``run`` span is the ``bench`` layer."""
        out: dict[str, float] = {}
        for name, t in self.totals().items():
            layer = name.rsplit(".", 1)[0] if "." in name else "bench"
            out[layer] = out.get(layer, 0.0) + t["self_s"]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "overhead_s": self.overhead_s,
                       "spans": self.spans}, f)


def skew_of(pairs: list[tuple[float, float]]) -> float:
    """Stage-run-time-weighted mean of per-stage max/median task time
    (1.0 when no stage had two or more tasks)."""
    w = sum(rt for rt, _ in pairs)
    return sum(rt * r for rt, r in pairs) / w if w > 0 else 1.0
