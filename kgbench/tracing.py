"""Traced mode: spans around the program's public entry points.

``Tracer.install`` wraps, from outside the package, ``get_spark``,
``run_pipeline_batched``, ``derive_nodes_from_triples``, each crawler
class's ``transform``, the ``GraphStore`` read and write methods, each
post-processor's ``run`` and each ``GraphQueries`` method. Nothing inside
``iyp_spark/`` is edited.

A span records name, start, end and parent. Spark jobs are attributed to
the innermost open span through a per-span job group, so a span's own job,
stage and task counts come from the status tracker. Spans stay in memory
and are written out as JSON lines when the run ends.

``ProcTree`` reads ``/proc`` for this process and its descendants: peak
resident memory (sampled), the JVM's CPU time and the CPU time of the
PySpark Python workers under it.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2 ** 20

STORE_METHODS = ("read_documents", "read_nodes", "read_triples", "upsert_nodes",
                 "enrich_nodes", "replace_triples", "replace_triples_multi")
QUERY_METHODS = ("__init__", "edges", "one_hop", "neighborhood", "by_source",
                 "path", "degree", "bfs")


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.sc = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main_stack: list[dict] = []

    def _stack(self) -> list[dict]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # a span opened on a pool thread hangs under the main thread's open span
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        rec = {"id": next(self._ids), "name": name,
               "parent": parent["id"] if parent else None,
               "start": time.perf_counter()}
        stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if self.sc is not None:
                rec.update(self._job_counts(rec))
                self._set_group(stack[-1] if stack else None)
            with self._lock:
                self.spans.append(rec)

    def _set_group(self, rec: dict | None) -> None:
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"kgbench-{rec['id']}", rec["name"])

    def _job_counts(self, rec: dict) -> dict:
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for jid in tracker.getJobIdsForGroup(f"kgbench-{rec['id']}"):
            info = tracker.getJobInfo(jid)
            jobs += 1
            for sid in (info.stageIds if info else []):
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    def wrap(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def install(self, crawler_classes, post_classes) -> None:
        from iyp_spark import framework, session
        from iyp_spark.graph.queries import GraphQueries
        from iyp_spark.store import GraphStore

        self.wrap(session, "get_spark", "session.get_spark")
        self.wrap(framework, "run_pipeline_batched", "framework.run_pipeline_batched")
        self.wrap(framework, "derive_nodes_from_triples", "framework.derive_nodes")
        for cls in crawler_classes:
            wave = getattr(cls, "WAVE", 2 if getattr(cls, "NEEDS_EXISTING", False) else 1)
            self.wrap(cls, "transform", f"crawlers.transform.w{wave}.{cls.NAME}")
        for m in STORE_METHODS:
            self.wrap(GraphStore, m, f"store.{m}")
        for cls in post_classes:
            self.wrap(cls, "run", f"post.{cls.NAME}")
        for m in QUERY_METHODS:
            self.wrap(GraphQueries, m, f"graph.{m.strip('_')}")

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s, default=str) + "\n")

    def window(self, t0: float, t1: float) -> list[dict]:
        return [s for s in self.spans if s["start"] >= t0 and s["end"] <= t1]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: summed duration minus the part its children cover."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = 0.0
        cur = None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if cur is not None and lo < cur:
                lo = cur
            if hi > lo:
                covered += hi - lo
                cur = hi
        name = s["name"].split(".w")[0] if s["name"].startswith("crawlers.") else s["name"]
        out[name] = out.get(name, 0.0) + (s["end"] - s["start"]) - covered
    return out


class ProcTree:
    """This process and its descendants, read from /proc."""

    def __init__(self):
        self.root = os.getpid()
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = None

    @staticmethod
    def stat(pid: int) -> list[str] | None:
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
        except OSError:
            return None
        return raw[raw.rindex(")") + 2:].split()  # fields from 'state' on

    def tree(self) -> dict[int, list[str]]:
        stats = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = self.stat(int(d))
                if st is not None:
                    stats[int(d)] = st
        out, todo = {}, [self.root]
        while todo:
            p = todo.pop()
            if p in stats:
                out[p] = stats[p]
                todo += [c for c, st in stats.items() if int(st[1]) == p]
        return out

    def rss_mb(self) -> float:
        # field 24 of /proc/<pid>/stat (rss, pages) is index 21 after 'state'
        return sum(int(st[21]) for st in self.tree().values()) * PAGE_MB

    def cpu(self) -> dict[str, float]:
        """CPU seconds: the JVM, and the PySpark Python workers under it
        (live workers plus those their daemon has reaped)."""
        tree = self.tree()
        jvm = py = 0.0
        for pid, st in tree.items():
            if pid == self.root:
                continue
            try:
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
            except OSError:
                continue
            utime, stime, cutime, cstime = (int(x) for x in st[11:15])
            if comm == "java":
                jvm += (utime + stime) / CLK_TCK
            elif comm.startswith("python"):
                py += (utime + stime + cutime + cstime) / CLK_TCK
        return {"jvm": jvm, "py": py}

    def _sample(self) -> None:
        while not self._stop.wait(0.25):
            self.peak_mb = max(self.peak_mb, self.rss_mb())

    def start(self) -> None:
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, self.rss_mb())


def gc_seconds(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans()) / 1000
