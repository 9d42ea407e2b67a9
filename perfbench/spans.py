"""Traced run: spans around the layers' public functions, plus Spark's own
stage and job records attributed to those spans.

The tracer patches functions by module attribute from outside the program
and restores them on ``close()``.  Each span tags the Spark jobs its thread
submits through the ``spark.job.description`` local property, so a stage
is attributed to the span that submitted it even when stages B and C run
concurrently on pool threads.  An untagged stage goes to the innermost span
open at its submission time.  The segment join's candidate pairs come from
the SQL metrics of its grid-cell join.  Spans stay in memory until the run
ends.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

TAG = "perfbench:"

# span name → the (module, attribute path) pairs it wraps; names are metric prefixes
TARGETS = {
    "sources.extract": [("changegen_spark.__main__", "load_extract"), ("changegen_spark.sources.osm", "max_pbf_ids")],
    "sources.tables": [("changegen_spark.__main__", "load_new_parts")],
    "pipeline.plan": [("changegen_spark.pipeline", "generate_changes")],
    "pipeline.junctions": [("changegen_spark.pipeline", "synthesize_junctions")],
    "geo.segment_join": [("changegen_spark.pipeline", "segment_distance_join")],
    "pipeline.new_ways": [("changegen_spark.pipeline", "build_new_ways")],
    "operators.split_ways": [("changegen_spark.pipeline", "split_ways")],
    "pipeline.modify_ways": [("changegen_spark.pipeline", "modify_intersecting_ways")],
    "pipeline.ids_resolve": [("changegen_spark.pipeline", "ChangeSet.resolve")],
    "sinks.osc": [("changegen_spark.sinks.oscxml", "write_osmchange")],
}
_STAGE_KEYS = (
    "stageId", "attemptId", "status", "name", "description", "numTasks", "submissionTime", "completionTime",
    "executorRunTime", "executorCpuTime", "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
)
SPARK_FIELDS = ("jobs", "stages", "tasks", "run_s", "cpu_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")


@dataclass
class Span:
    id: int
    name: str
    thread: str
    start: float
    end: float | None
    parent: int | None


def _union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
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


def _clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsession = spark._jsparkSession
        jvm = self.sc._jvm
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$"))
        self.no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self.gc_beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        self.spans: list[Span] = []
        self.stages: list[dict] = []
        self.jobs: list[dict] = []
        self.cell_pairs: list[tuple[float, int]] = []  # (submission time, rows)
        self._last_stage = self._last_job = self._last_exec = -1
        self._local = threading.local()
        self._main_stack: list[Span] = self._stack()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # a pool thread's first span hangs under the span that started the pool
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sp = Span(len(self.spans), name, threading.current_thread().name, time.time(), None, parent.id if parent else None)
            self.spans.append(sp)
        outer = stack[-1].id if stack else None
        stack.append(sp)
        self.sc.setLocalProperty("spark.job.description", f"{TAG}{sp.id}")
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            self.sc.setLocalProperty("spark.job.description", None if outer is None else f"{TAG}{outer}")

    def install(self) -> None:
        import importlib

        for name, targets in TARGETS.items():
            for module, attr in targets:
                owner = importlib.import_module(module)
                *path, leaf = attr.split(".")
                for p in path:
                    owner = getattr(owner, p)
                orig = getattr(owner, leaf)
                setattr(owner, leaf, self._wrap(name, orig))
                self._patched.append((owner, leaf, orig))

    def _wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def close(self) -> None:
        for owner, leaf, orig in reversed(self._patched):
            setattr(owner, leaf, orig)
        self._patched.clear()

    # ------------------------------------------------------------ Spark state

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def collect_spark(self) -> None:
        """Pull stages and jobs submitted since the last call (call it after
        each changeset, before the status store's retention drops them)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = self.sc._jsc.sc().statusStore()
        stages = [
            {k: st.get(k) for k in _STAGE_KEYS}
            for st in self._json(store.stageList(None, False, False, self.no_quantiles, None))
            if st["stageId"] > self._last_stage and st.get("submissionTime")
        ]
        jobs = [jb for jb in self._json(store.jobsList(None)) if jb["jobId"] > self._last_job and jb.get("submissionTime")]
        self.stages += stages
        self.jobs += jobs
        self._last_stage = max([st["stageId"] for st in stages], default=self._last_stage)
        self._last_job = max([jb["jobId"] for jb in jobs], default=self._last_job)
        sql = self.jsession.sharedState().statusStore()
        while True:
            ex = sql.execution(self._last_exec + 1)
            if ex.isEmpty():
                break
            self._last_exec += 1
            rows = self._cell_join_rows(sql, self._last_exec)
            if rows is not None:
                self.cell_pairs.append((ex.get().submissionTime() / 1000.0, rows))

    def _cell_join_rows(self, sql, eid: int) -> int | None:
        """Output rows of the segment join's grid-cell equi-join (the
        candidate segment pairs) in one SQL execution, from its metrics."""
        accs = [
            m["accumulatorId"]
            for n in self._json(sql.planGraph(eid).allNodes())
            if "Join" in n["name"] and "__cell" in n["desc"]
            for m in n["metrics"]
            if m["name"] == "number of output rows"
        ]
        if not accs:
            return None
        values = self._json(sql.executionMetrics(eid))
        return sum(int(values.get(str(a), "0").replace(",", "")) for a in accs)

    def session_state(self) -> dict:
        """Cached RDDs and bytes, and total JVM GC seconds so far."""
        rdds = self._json(self.sc._jsc.sc().getRDDStorageInfo())
        gc_ms = sum(self.gc_beans.get(i).getCollectionTime() for i in range(self.gc_beans.size()))
        return {
            "cached_rdds": len(rdds),
            "cached_bytes": sum(r["memSize"] + r["diskSize"] for r in rdds),
            "jvm_gc_s": gc_ms / 1000.0,
        }

    # ------------------------------------------------------------ attribution

    def _owner(self, rec: dict, spans: list[Span]) -> Span | None:
        desc = rec.get("description") or ""
        if desc.startswith(TAG):
            return self.spans[int(desc[len(TAG):])]
        t = rec["submissionTime"] / 1000.0
        open_ = [s for s in spans if s.start <= t <= (s.end or t)]
        return max(open_, key=lambda s: s.start, default=None)

    def changeset_profile(self, root: Span, cores: int) -> dict:
        """Per span name: wall, self wall and Spark totals within ``root``."""
        spans = [s for s in self.spans if s.start >= root.start and s.end is not None and s.end <= root.end + 1e-3]
        children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        lo, hi = root.start - 1e-3, root.end + 1e-3
        jobs = [j for j in self.jobs if lo <= j["submissionTime"] / 1000.0 <= hi]
        stages = [s for s in self.stages if lo <= s["submissionTime"] / 1000.0 <= hi]
        job_iv = [(j["submissionTime"] / 1000.0, (j.get("completionTime") or j["submissionTime"]) / 1000.0) for j in jobs]
        out: dict[str, dict] = {}

        def agg_of(name: str) -> dict:
            return out.setdefault(name, {"calls": 0, "wall_s": 0.0, "self_s": 0.0, "driver_self_s": 0.0, **{f: 0 for f in SPARK_FIELDS}})

        for s in spans:
            agg = agg_of(s.name)
            wall = s.end - s.start
            kids = [(c.start, c.end) for c in children.get(s.id, [])]
            agg["calls"] += 1
            agg["wall_s"] += wall
            agg["self_s"] += wall - _union(_clip(kids, s.start, s.end))
            agg["driver_self_s"] += wall - _union(_clip(job_iv, s.start, s.end))
        for j in jobs:
            owner = self._owner(j, spans)
            if owner is not None:
                agg_of(owner.name)["jobs"] += 1
        for st in stages:
            owner = self._owner(st, spans)
            if owner is None:
                continue
            agg = agg_of(owner.name)
            agg["stages"] += 1
            agg["tasks"] += st["numTasks"]
            agg["run_s"] += st["executorRunTime"] / 1000.0
            agg["cpu_s"] += st["executorCpuTime"] / 1e9
            agg["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            agg["shuffle_read_bytes"] += st["shuffleReadBytes"]
            agg["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        agg_of("geo.segment_join")["candidate_pairs"] = sum(n for t, n in self.cell_pairs if lo <= t <= hi)
        for agg in out.values():
            agg["busy_ratio"] = agg["run_s"] / (agg["wall_s"] * cores) if agg["wall_s"] > 0 else 0.0
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], "stages": self.stages, "jobs": self.jobs}, f)
