"""Outside-in tracing: spans around calls into the program's public
layer functions, with Spark job/task counts taken from the status
tracker and CPU shares from ``/proc/stat``.

Nothing here edits the program. ``Tracer.wrap`` swaps a module or class
attribute for a recording wrapper and ``Tracer.unwrap_all`` restores
it. Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import time

# (module, class or None, attribute, span name). A function imported
# with ``from m import f`` is looked up in the importing module, so it
# is wrapped there; a function imported inside a function body is
# looked up in its home module on every call.
LAYER_CALLS = [
    ("lucene_solr_spark.api", None, "parse_query", "plans.parse"),
    ("lucene_solr_spark.operators.topk", None, "rewrite", "plans.rewrite"),
    ("lucene_solr_spark.operators.topk", "SegmentSearcher", "topk_batch", "topk.plan"),
    ("lucene_solr_spark.operators.topk", "SegmentSearcher", "_stats", "topk.stats"),
    ("lucene_solr_spark.api", "SearchEngine", "refresh", "api.refresh"),
    ("lucene_solr_spark.operators.index_build", None, "build_index", "index_build.build_index"),
    ("lucene_solr_spark.streaming.nrt", None, "build_index", "index_build.build_index"),
    ("lucene_solr_spark.api", None, "build_segments", "segments.build_segments"),
    ("lucene_solr_spark.streaming.nrt", None, "append_batch", "nrt.append_batch"),
    ("lucene_solr_spark.operators.deletes", None, "delete_by_ids", "deletes.delete_by_ids"),
    ("lucene_solr_spark.operators.merge_policy", None, "find_merges", "merge.find_merges"),
    ("lucene_solr_spark.operators.merge_policy", None, "run_merges", "merge.run_merges"),
]
DRIVER_ONLY = {"plans.parse", "plans.rewrite"}


def cpu_sample() -> tuple[int, ...]:
    """(user+nice, system+irq+softirq, iowait, steal, idle) jiffies."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = v[:8]
    return (user + nice, system + irq + softirq, iowait, steal, idle)


def cpu_shares(a: tuple, b: tuple) -> dict[str, float]:
    d = [y - x for x, y in zip(a, b)]
    tot = max(1, sum(d))
    return {"busy_pct": 100.0 * (d[0] + d[1]) / tot, "steal_pct": 100.0 * d[3] / tot}


class _SparkCounter:
    """Jobs, tasks and failed tasks run between two marks, from the
    status tracker (works with the UI disabled)."""

    def __init__(self, sc):
        self._st = sc.statusTracker()

    def mark(self) -> int:
        ids = self._st.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def since(self, mark: int) -> tuple[int, int, int]:
        jobs = [j for j in self._st.getJobIdsForGroup(None) if j > mark]
        tasks = failed = 0
        for j in jobs:
            info = self._st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = self._st.getStageInfo(s)
                if si:
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
        return len(jobs), tasks, failed


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` is a no-op."""

    def __init__(self, sc=None, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.group = ""  # id shared by the spans of one query or append
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._open: list[dict] = []
        self._undo: list[tuple] = []
        self._counter = _SparkCounter(sc) if enabled and sc is not None else None
        self._kernel_acc = sc.accumulator(0) if enabled and sc is not None else None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record one span; Spark counters are skipped for the driver-only
        query planning calls, which run no jobs."""
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "parent": self._open[-1]["id"] if self._open else None,
            "group": self.group,
            "name": name,
            "child_s": 0.0,
            **attrs,
        }
        self.spans.append(rec)
        self._open.append(rec)
        counter = None if name in DRIVER_ONLY else self._counter
        mark = counter.mark() if counter else -1
        kacc = self._kernel_acc.value if self._kernel_acc else 0
        rec["t0"] = time.perf_counter()
        self.overhead_s += rec["t0"] - b0
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            if counter:
                rec["jobs"], rec["tasks"], rec["failed_tasks"] = counter.since(mark)
            if self._kernel_acc:
                rec["kernel_tasks"] = self._kernel_acc.value - kacc
            self._open.pop()
            if self._open:
                self._open[-1]["child_s"] += rec["t1"] - rec["t0"]
            self.overhead_s += time.perf_counter() - rec["t1"]

    # ------------------------------------------------------------ wrapping
    def wrap(self, module: str, owner: str | None, attr: str, name: str) -> None:
        mod = importlib.import_module(module)
        target = getattr(mod, owner) if owner else mod
        orig = target.__dict__[attr] if owner else getattr(mod, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **kw):
            with tracer.span(name) as rec:
                out = orig(*a, **kw)
                if rec is not None and isinstance(out, (int, list)):
                    rec["result"] = out if isinstance(out, int) else len(out)
                return out

        setattr(target, attr, traced)
        self._undo.append((target, attr, orig))

    def wrap_layers(self) -> None:
        # import every module first: importing one later would copy an
        # already wrapped function into it and wrap it twice
        for module, *_ in LAYER_CALLS:
            importlib.import_module(module)
        for spec in LAYER_CALLS:
            self.wrap(*spec)
        self._count_kernel_tasks()

    def _count_kernel_tasks(self) -> None:
        """Count the segment kernel's tasks with an accumulator bumped
        once per task by a wrapper around the function the searcher
        hands to ``mapInPandas``."""
        from pyspark.sql.classic.dataframe import DataFrame

        orig = DataFrame.__dict__["mapInPandas"]
        acc = self._kernel_acc

        def map_in_pandas(df, func, *a, **kw):
            if getattr(func, "__name__", "") == "direct_kernel":
                inner = func

                def func(iterator):
                    acc.add(1)
                    return inner(iterator)

            return orig(df, func, *a, **kw)

        DataFrame.mapInPandas = map_in_pandas
        self._undo.append((DataFrame, "mapInPandas", orig))

    def unwrap_all(self) -> None:
        for target, attr, orig in reversed(self._undo):
            setattr(target, attr, orig)
        self._undo.clear()

    # ------------------------------------------------------------ reading
    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "t1" in s]

    @staticmethod
    def dur(s: dict) -> float:
        return s["t1"] - s["t0"]

    @staticmethod
    def self_time(s: dict) -> float:
        return s["t1"] - s["t0"] - s["child_s"]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")
