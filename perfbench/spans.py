"""In-memory span tracer for the benchmark's traced runs.

A span records name, start, end, parent span and session id. While a
span is open, its thread's Spark jobs run under a job group owned by
that span, so the jobs a span launched directly are read back from the
status store when the run ends: jobs, tasks, failed tasks, executor
run time, shuffle write and spill. Spans live in memory until
``write`` dumps them as JSON.

The layer of a span is the part of its name before the first dot
(``extract.extract_triples`` belongs to ``extract``). Self time is the
span's duration minus the part of it its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self, spark, session_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.session_id = session_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1]["id"] if stack else None

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Open a span; ``parent`` overrides the thread's open span (for
        work handed to another thread). Yields the span record, whose
        ``attrs`` the caller may extend."""
        if not self.enabled:
            yield {"attrs": attrs}
            return
        t_in = time.perf_counter()
        stack = self._stack()
        sid = next(self._ids)
        rec = {
            "id": sid, "name": name, "session": self.session_id,
            "parent": parent if parent is not None else self.current(),
            "group": f"perfbench-{self.session_id}-{sid}", "attrs": attrs,
        }
        self.sc.setJobGroup(rec["group"], name, False)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if stack:
                self.sc.setJobGroup(stack[-1]["group"], stack[-1]["name"], False)
            else:
                self.sc._jsc.clearJobGroup()
            with self._lock:
                self.spans.append(rec)
                self.overhead_s += (rec["start"] - t_in) + (time.perf_counter() - rec["end"])

    def wrap(self, fn, name: str, charge_collect: bool = False):
        """``fn`` inside a span. With ``charge_collect`` the DataFrame it
        returns is handed back behind a proxy whose ``collect()`` runs in
        a span of the same name: a layer that returns a lazy plan is
        charged for the action that executes it."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            return _Charged(out, self, name) if charge_collect else out

        return traced

    # -------------------------------------------------------- counters

    def resolve_counters(self) -> None:
        """Attach Spark counters to every span (call once, at the end)."""
        if not self.enabled:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        for rec in self.spans:
            c = {"jobs": 0, "tasks": 0, "failed_tasks": 0, "run_ms": 0,
                 "shuffle_write_mb": 0.0, "spill_mb": 0.0}
            stages = set()
            for job in tracker.getJobIdsForGroup(rec["group"]):
                c["jobs"] += 1
                info = tracker.getJobInfo(job)
                if info is not None:
                    stages.update(info.stageIds)
            for stage in stages:
                try:
                    sd = store.lastStageAttempt(stage)
                except Exception:  # noqa: BLE001 - evicted or never ran
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                c["tasks"] += sd.numCompleteTasks()
                c["failed_tasks"] += sd.numFailedTasks()
                c["run_ms"] += sd.executorRunTime()
                c["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                c["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
            rec["counters"] = c

    # ---------------------------------------------------------- summary

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the union of its children's intervals."""
        kids: dict[int, list[dict]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                kids.setdefault(rec["parent"], []).append(rec)
        out = {}
        for rec in self.spans:
            ivs = sorted(
                (max(k["start"], rec["start"]), min(k["end"], rec["end"]))
                for k in kids.get(rec["id"], [])
            )
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in ivs:
                if e <= s:
                    continue
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[rec["id"]] = rec["end"] - rec["start"] - covered
        return out

    def by_name(self, name: str) -> list[dict]:
        return [r for r in self.spans if r["name"] == name]

    def layer_totals(self, cores: int) -> dict[str, dict]:
        """Per layer: summed self time and summed span-own counters."""
        selfs = self.self_times()
        out: dict[str, dict] = {}
        for rec in self.spans:
            layer = rec["name"].split(".", 1)[0]
            agg = out.setdefault(layer, {"self_s": 0.0, "jobs": 0, "tasks": 0,
                                         "failed_tasks": 0, "run_ms": 0,
                                         "shuffle_write_mb": 0.0, "spill_mb": 0.0})
            agg["self_s"] += selfs[rec["id"]]
            for k, v in rec.get("counters", {}).items():
                agg[k] += v
        for agg in out.values():
            agg["cpu_util"] = (
                agg["run_ms"] / 1000 / (agg["self_s"] * cores) if agg["self_s"] > 0 else 0.0
            )
        return out

    def write(self, path: str) -> None:
        t0 = min((r["start"] for r in self.spans), default=0.0)
        selfs = self.self_times()
        rows = [
            {**{k: v for k, v in r.items() if k not in ("start", "end")},
             "start_s": r["start"] - t0, "end_s": r["end"] - t0,
             "self_s": selfs[r["id"]]}
            for r in sorted(self.spans, key=lambda r: r["start"])
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1, default=str)


class _Charged:
    """DataFrame stand-in whose collect() is charged to a layer span."""

    def __init__(self, df, tracer: Tracer, name: str):
        self._df, self._tracer, self._name = df, tracer, name

    def collect(self):
        with self._tracer.span(self._name):
            return self._df.collect()

    def __getattr__(self, attr):
        return getattr(self._df, attr)
