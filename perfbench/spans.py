"""Span recorder and Spark job counter for the traced benchmark run.

Spans are recorded from the benchmark's side of the engine's module
boundaries: ``install`` replaces the module attributes the engine calls
through (``merge.load_stats``, ``merge.merge_index``, the ``wand`` scorers,
the ``codecs`` decoders) with wrappers, and ``uninstall`` puts the
originals back. Only the driver process is traced; executor-side work is
counted through Spark job, stage and task counts (``SparkCounter``).
"""

from __future__ import annotations

import json
import sys
import threading
import time

# Layer of a span = the part of its name before the first dot. When spans
# of different layers overlap in time (nested calls, or units scored on the
# engine's thread pool), each instant is charged to the deepest layer.
LAYER_DEPTH = {"query": 0, "merge": 1, "wand": 2, "codecs": 3}


class _Traced:
    """Callable stand-in for an engine function. Pickles as the original
    function, so closures the engine ships to executors stay untraced."""

    def __init__(self, tracer: "Tracer", name: str, fn, count=None):
        self._tracer, self._name, self._fn, self._count = tracer, name, fn, count
        self.__wrapped__ = fn

    def __call__(self, *args, **kwargs):
        tr = self._tracer
        stack = tr._stack()
        sid = tr._new_id()
        parent = stack[-1] if stack else tr.root
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            out = self._fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            stack.pop()
        n = self._count(out) if self._count is not None else 0
        tr.spans.append((sid, parent, tr.qid, self._name, t0, t1, n))
        return out

    def __reduce__(self):
        return (getattr, (sys.modules[self._fn.__module__], self._fn.__name__))


class Tracer:
    """In-memory spans ``(id, parent, root id, name, start, end, count)``.

    One closed-loop client issues one call at a time; ``call`` marks that
    call as the root, so spans opened on engine worker threads (which have
    no stack of their own) are parented to it and share its query id."""

    def __init__(self):
        self.spans: list[tuple] = []
        self.root = 0
        self.qid = 0
        self._ids = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._saved: list[tuple] = []

    def _new_id(self) -> int:
        with self._lock:
            self._ids += 1
            return self._ids

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, name: str, fn, tag: int = 0):
        """Run ``fn()`` as a root span whose count field is ``tag`` (the
        benchmark passes the query id); returns (result, span id)."""
        sid = self._new_id()
        self.root, self.qid = sid, sid
        stack = self._stack()
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.root = self.qid = 0
        self.spans.append((sid, 0, sid, name, t0, t1, tag))
        return out, sid

    def _wrap(self, module, attr: str, name: str, count=None):
        fn = getattr(module, attr)
        w = _Traced(self, name, fn, count)
        self._saved.append((module, attr, fn))
        setattr(module, attr, w)
        return fn, w

    def install(self, merge, incremental, wand, codecs) -> None:
        self._wrap(merge, "load_stats", "merge.load_stats")
        self._wrap(merge, "merge_index", "merge.merge_index")
        # merge_units calls compact through its module's globals
        self._wrap(incremental, "compact", "incremental.compact")
        self._wrap(codecs, "decode_postings", "codecs.decode_postings",
                   lambda out: len(out[0]))
        self._wrap(codecs, "decode_block", "codecs.decode_block",
                   lambda out: len(out[0]))
        # the stream interleaves (gap, tf) pairs
        self._wrap(codecs, "varbyte_decode", "codecs.varbyte_decode",
                   lambda out: len(out) // 2)
        swapped = {}
        for attr in sorted(vars(wand)):
            if attr.startswith("score_") and callable(getattr(wand, attr)):
                fn, w = self._wrap(wand, attr, f"wand.{attr}")
                swapped[fn] = w
        for key, fn in list(wand.STRATEGIES.items()):
            self._saved.append((wand.STRATEGIES, key, fn))
            wand.STRATEGIES[key] = swapped[fn]

    def uninstall(self) -> None:
        for target, attr, fn in reversed(self._saved):
            if isinstance(target, dict):
                target[attr] = fn
            else:
                setattr(target, attr, fn)
        self._saved.clear()

    def attribute(self, root: tuple, kids: list[tuple]) -> tuple[dict, int, dict]:
        """Charge every instant of span ``root`` to the deepest layer among
        its descendant spans ``kids`` active then -> ({layer: seconds},
        number of kids outside the root's interval, {"codecs_postings",
        "wand_calls"}). The layer times sum to the root's duration."""
        r0, r1 = root[4], root[5]
        by_id = {s[0]: s for s in kids}
        outside = sum(1 for s in kids if s[4] < r0 or s[5] > r1)
        events = []
        for s in kids:
            layer = s[3].split(".", 1)[0]
            events.append((max(s[4], r0), 1, layer))
            events.append((min(s[5], r1), -1, layer))
        events.sort(key=lambda e: (e[0], e[1]))
        active = {layer: 0 for layer in LAYER_DEPTH}
        out = {layer: 0.0 for layer in LAYER_DEPTH}
        t = r0
        for ts, delta, layer in events:
            if ts > t:
                top = max(
                    (l for l, c in active.items() if c > 0),
                    key=LAYER_DEPTH.__getitem__, default="query",
                )
                out[top] += ts - t
                t = ts
            active[layer] += delta
        out["query"] += max(0.0, r1 - t)

        def outermost(s, prefix):
            p = by_id.get(s[1])
            while p is not None:
                if p[3].startswith(prefix):
                    return False
                p = by_id.get(p[1])
            return True

        extra = {
            "codecs_postings": sum(
                s[6] for s in kids
                if s[3].startswith("codecs.") and outermost(s, "codecs.")
            ),
            "wand_calls": sum(
                1 for s in kids
                if s[3].startswith("wand.") and outermost(s, "wand.")
            ),
        }
        return out, outside, extra

    def dump(self, path: str, queries: list[dict]) -> None:
        """Write every span, and the queries their tags refer to."""
        with open(path, "w") as f:
            json.dump(
                {"fields": ["id", "parent", "root_id", "name", "start_s",
                            "end_s", "count"],
                 "spans": self.spans, "queries": queries},
                f,
            )


class SparkCounter:
    """Spark jobs, stages, tasks and shuffle-write bytes launched by one
    benchmark call. Each call runs under its own job group; jobs the
    engine submits from its own threads carry no group, so both sets are
    read before and after and the difference is the call's work."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._groups: set[str] = set()
        self._store = self.sc._jsc.sc().statusStore()

    def _all_ids(self) -> set[int]:
        ids = set(self.tracker.getJobIdsForGroup(None))
        for g in self._groups:
            ids.update(self.tracker.getJobIdsForGroup(g))
        return ids

    def run(self, group: str, fn, detail: bool = True):
        """-> (fn(), {"jobs", "stages", "tasks", "shuffle_write_bytes"});
        with ``detail=False`` only jobs are counted (the rest read 0)."""
        self._groups.add(group)
        before = self._all_ids()
        self.sc.setJobGroup(group, group)
        out = fn()
        new = sorted(self._all_ids() - before)
        stages = tasks = shuffle = 0
        for jid in new if detail else ():
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info is not None else ():
                st = self.tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks == 0:
                    continue  # skipped stage (its shuffle output was reused)
                stages += 1
                tasks += st.numTasks
                shuffle += int(self._store.lastStageAttempt(sid).shuffleWriteBytes())
        return out, {"jobs": len(new), "stages": stages, "tasks": tasks,
                     "shuffle_write_bytes": shuffle}
