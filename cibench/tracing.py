"""Outside-in tracing: spans around the benchmark's calls into each layer,
Spark stage metrics read back from the status store by job group, and a
counting MergeFS for the merge table's commit protocol.

Spans live in memory and are written out once, when the run ends. A span's
self time is its duration minus the part of it its child spans cover.
"""

from __future__ import annotations

import json
import re
import time
from collections import Counter
from contextlib import contextmanager

from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as merge_fs

# plan nodes whose stages run Python workers (Arrow/pandas UDFs, grouped
# maps); scans of registered Python data sources count too
PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
            "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas")


class Tracer:
    """In-memory spans: name, start, end, parent."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], [])):
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "self_s": selfs.get(s["id"])}) + "\n")


class CountingFS(merge_fs.LocalFS):
    """LocalFS that counts every MergeFS call and the bytes it puts."""

    def __init__(self):
        self.calls: Counter = Counter()

    def reset(self) -> Counter:
        out, self.calls = self.calls, Counter()
        return out

    def _count(self, op: str, nbytes: int = 0) -> None:
        self.calls[op] += 1
        self.calls["put_bytes"] += nbytes

    def exists(self, path):
        self._count("exists")
        return super().exists(path)

    def isdir(self, path):
        self._count("isdir")
        return super().isdir(path)

    def listdir(self, path):
        self._count("listdir")
        return super().listdir(path)

    def read_bytes(self, path):
        self._count("read_bytes")
        return super().read_bytes(path)

    def put_atomic(self, path, data):
        self._count("put_atomic", len(data))
        return super().put_atomic(path, data)

    def put_if_absent(self, path, data):
        self._count("put_if_absent", len(data))
        return super().put_if_absent(path, data)

    def rename(self, src, dst):
        self._count("rename")
        return super().rename(src, dst)

    def mtime(self, path):
        self._count("mtime")
        return super().mtime(path)

    def size(self, path):
        self._count("size")
        return super().size(path)

    def makedirs(self, path):
        self._count("makedirs")
        return super().makedirs(path)

    def rmtree(self, path):
        self._count("rmtree")
        return super().rmtree(path)


def fs_ops(calls: Counter) -> int:
    return sum(v for k, v in calls.items() if k != "put_bytes")


def plan_shape(df) -> tuple[float, int, int]:
    """Materialize the physical plan (Catalyst compile) and count its
    shuffle and broadcast exchanges. Returns (compile_s, exchanges,
    broadcasts)."""
    t0 = time.perf_counter()
    plan = df._jdf.queryExecution().executedPlan().toString()
    compile_s = time.perf_counter() - t0
    broadcasts = len(re.findall(r"\bBroadcastExchange\b", plan))
    exchanges = len(re.findall(r"\bExchange\b", plan))
    return compile_s, exchanges, broadcasts


class StageReader:
    """Stage metrics of a job group, read from the application status store
    once the listener bus has drained."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.spark = spark

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def storage_mem_mb(self) -> float:
        status = self.jsc.getExecutorMemoryStatus()
        it = status.values().iterator()
        used = 0
        while it.hasNext():
            pair = it.next()
            used += pair._1() - pair._2()
        return used / 2**20

    def group_metrics(self, group: str) -> dict:
        """Sum of stage metrics over the group's jobs (skipped stages have
        no attempt and count for nothing)."""
        store = self.jsc.statusStore()
        stage_ids = set()
        for jid in self.job_ids(group):
            info = self.sc.statusTracker().getJobInfo(jid)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        m = Counter()
        longest = (0, None)
        for sid in sorted(stage_ids):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # py4j: stage evicted or never attempted
                continue
            if sd.numCompleteTasks() == 0:
                continue
            run_s = sd.executorRunTime() / 1e3
            m["stages"] += 1
            m["tasks"] += sd.numTasks()
            m["run_s"] += run_s
            m["cpu_s"] += sd.executorCpuTime() / 1e9
            m["gc_s"] += sd.jvmGcTime() / 1e3
            m["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
            m["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
            m["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
            m["input_mb"] += sd.inputBytes() / 2**20
            m["input_rows"] += sd.inputRecords()
            if self._runs_python(store, sid, self._python_source):
                m["pyworker_run_s"] += run_s
            if run_s >= longest[0]:
                longest = (run_s, (sid, sd.attemptId()))
        m["skew"] = self._skew(store, *longest[1]) if longest[1] else 1.0
        return dict(m)

    def _python_source(self, name: str) -> bool:
        """Whether ``name`` is a registered Python data source (its scans
        run in Python workers and show as ``BatchScan <name>``)."""
        try:
            return bool(self.spark._jsparkSession.sessionState().dataSourceManager().dataSourceExists(name))
        except Exception:  # py4j: no data source manager on this build
            return False

    @staticmethod
    def _runs_python(store, sid: int, python_source) -> bool:
        names: list[str] = []

        def walk(cluster):
            names.append(cluster.name())
            kids = cluster.childClusters()
            for i in range(kids.size()):
                walk(kids.apply(i))

        try:
            walk(store.operationGraphForStage(sid).rootCluster())
        except Exception:  # py4j: graph not retained for this stage
            return False
        return any(n.startswith(PY_NODES) or (n.startswith("BatchScan ") and python_source(n[10:]))
                   for n in names)

    @staticmethod
    def _skew(store, sid: int, attempt: int) -> float:
        tasks = store.taskList(sid, attempt, 100_000)
        durs = sorted(
            tasks.apply(i).duration().get()
            for i in range(tasks.size())
            if tasks.apply(i).duration().isDefined()
        )
        if not durs:
            return 1.0
        med = durs[len(durs) // 2]
        return durs[-1] / med if med > 0 else 1.0
