"""Span tracing from outside the engine.

A :class:`Tracer` records one span per call into a wrapped public engine
function.  Each span runs under its own Spark job group, set on the
calling thread (PySpark pins each Python thread to a JVM thread, so the
concurrent ingest stages each get their own group).  The session retains
only the last 50 jobs and 50 stages, so a poller thread copies the jobs
and finished stages of every open span's groups out of the status store
while the span runs, and the span reads its totals when it ends.

A wrapper with ``force=True`` materializes the lazy DataFrame its call
returns (persist + count, tracked so the caller's ``cache_scope`` releases
it), so the layer's work lands inside its own span.  That moves work
across plan boundaries; the traced run reports its own overhead against
untraced operations for exactly this reason.

Spans stay in memory; :meth:`Tracer.dump` writes them when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


class Tracer:
    POLL_S = 0.1

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self.spans: list[dict] = []
        # open spans of the thread that created the tracer; the innermost
        # is the parent of spans opened on engine-owned threads (stream
        # handler, ingest stage pool)
        self._ambient: list[dict] = []
        self._main = threading.get_ident()
        # off: spans and wrappers pass straight through (the traced run
        # alternates traced and untraced operations to measure overhead)
        self.enabled = True
        # job id -> (group, stage ids) and stage id -> metrics (None when
        # skipped), cached by the poller
        self._open: dict[int, dict] = {}
        self._jobs: dict[int, tuple] = {}
        self._stages: dict[int, dict | None] = {}
        self._poll_lock = threading.Lock()
        self._stop = threading.Event()
        self._poller = threading.Thread(target=self._poll_loop, daemon=True)
        self._poller.start()

    def close(self) -> None:
        self._stop.set()
        self._poller.join()

    # -- status store -------------------------------------------------
    def _poll_loop(self) -> None:
        while not self._stop.wait(self.POLL_S):
            if self._open:
                self._poll()

    def _poll(self) -> None:
        with self._poll_lock:
            st = self.sc.statusTracker()
            store = self._jsc.statusStore()
            for rec in list(self._open.values()):
                for g in [rec["group"], *rec.get("groups", ())]:
                    for jid in st.getJobIdsForGroup(g):
                        if jid not in self._jobs:
                            info = st.getJobInfo(jid)
                            if info is not None:
                                self._jobs[jid] = (g, list(info.stageIds))
            for _g, sids in list(self._jobs.values()):
                for sid in sids:
                    if sid in self._stages:
                        continue
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Exception:  # not submitted yet, or evicted
                        continue
                    status = sd.status().toString()
                    if status == "SKIPPED":
                        self._stages[sid] = None
                    elif status in ("COMPLETE", "FAILED"):
                        self._stages[sid] = {
                            "tasks": sd.numTasks(),
                            "exec_run_s": sd.executorRunTime() / 1e3,
                            "cpu_s": sd.executorCpuTime() / 1e9,
                            "shuffle_bytes": sd.shuffleReadBytes()
                            + sd.shuffleWriteBytes(),
                        }

    def group_metrics(self, groups: list[str]) -> dict:
        """Jobs of the given job groups and the sum of their stages'
        metrics; ``lost`` counts stages evicted before they were read."""
        self._jsc.listenerBus().waitUntilEmpty()
        self._poll()
        m = {"jobs": 0, "stages": 0, "tasks": 0, "exec_run_s": 0.0,
             "cpu_s": 0.0, "shuffle_bytes": 0, "lost": 0}
        seen: set[int] = set()
        for g, sids in self._jobs.values():
            if g not in groups:
                continue
            m["jobs"] += 1
            for sid in sids:
                if sid in seen:
                    continue
                seen.add(sid)
                if sid not in self._stages:
                    m["lost"] += 1
                elif self._stages[sid] is not None:
                    m["stages"] += 1
                    for k, v in self._stages[sid].items():
                        m[k] += v
        return m

    # -- spans --------------------------------------------------------
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        """Time a block as layer ``name``.  Job groups the block appends to
        the yielded record's ``groups`` list (e.g. a streaming query's run
        id) count towards the span as well."""
        if not self.enabled:
            yield {}
            return
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
        parent = stack[-1] if stack else (
            self._ambient[-1] if self._ambient else None)
        rec = {"id": sid, "name": name, "group": f"perfbench-{sid}",
               "parent": parent["id"] if parent else None,
               "thread": threading.current_thread().name}
        saved = [self.sc.getLocalProperty(p) for p in _GROUP_PROPS]
        self.sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        on_main = threading.get_ident() == self._main
        if on_main:
            self._ambient.append(rec)
        self._open[sid] = rec
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if on_main:
                self._ambient.pop()
            for p, v in zip(_GROUP_PROPS, saved):
                self.sc.setLocalProperty(p, v)
            rec.update(self.group_metrics(
                [rec["group"], *rec.pop("groups", ())]))
            del self._open[sid]
            with self._lock:
                self.spans.append(rec)

    def wrap(self, module, attr: str, name: str, force: bool = False):
        """Replace ``module.attr`` by a version traced as ``name``."""
        from vector_search_question_answer_api_spark import caching

        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            if not self.enabled:
                return fn(*a, **kw)
            with self.span(name) as rec:
                out = fn(*a, **kw)
                if force:
                    out = caching.persist_tracked(out)
                    rec["rows"] = out.count()
            return out

        setattr(module, attr, traced)

    # -- summaries ------------------------------------------------------
    def self_time(self, rec: dict) -> float:
        """Span duration minus the union of its children's intervals
        (children may run concurrently on other threads)."""
        iv = sorted((c["start"], c["end"]) for c in self.spans
                    if c["parent"] == rec["id"])
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            s, e = max(s, rec["start"]), min(e, rec["end"])
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def layers(self, spans: list[dict]) -> dict:
        """Per layer name: calls, wall and self time, executor time, jobs,
        stages, tasks and shuffle bytes (each span counts its own job
        group, so nested layers are not double-counted in jobs)."""
        out: dict[str, dict] = {}
        for r in spans:
            a = out.setdefault(r["name"], {
                "calls": 0, "s": 0.0, "self_s": 0.0, "cpu_s": 0.0,
                "exec_run_s": 0.0, "jobs": 0, "stages": 0, "tasks": 0,
                "shuffle_bytes": 0, "lost": 0})
            a["calls"] += 1
            a["s"] += r["end"] - r["start"]
            a["self_s"] += self.self_time(r)
            for k in ("cpu_s", "exec_run_s", "jobs", "stages", "tasks",
                      "shuffle_bytes", "lost"):
                a[k] += r[k]
            if "rows" in r:
                a["rows"] = a.get("rows", 0) + r["rows"]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)
