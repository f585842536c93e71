"""Per-request layer tracing from the benchmark's side of the API.

Nothing here reaches into the package. Each request runs under its own
Spark job group; the tracer times the calls the benchmark makes into
each layer (plan build, action, CLI step) and, right after the action,
reads the group's jobs and stages from Spark's status store. The
session keeps only the most recent stages, so a stage that is already
gone is recorded as evicted and fails the trace.
"""

from __future__ import annotations

import re
from collections import defaultdict

# Stage-level counters read from the status store, keyed by the
# per-layer metric they feed.
STAGE_COUNTERS = {
    "exec.executor_run_s": ("executorRunTime", 1e-3),
    "exec.executor_cpu_s": ("executorCpuTime", 1e-9),
    "exec.jvm_gc_s": ("jvmGcTime", 1e-3),
    "exec.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "exec.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "exec.input_bytes": ("inputBytes", 1),
}
# RDD scopes of the plan nodes that run Python workers
_PYTHON_SCOPE = re.compile(
    r"ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas|"
    r"WindowInPandas|PythonUDTF|PythonRDD|EvalPython")


class StageReader:
    """Reads one job group's jobs and stages from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._empty = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the store holds the finished stages' final metrics."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def read(self, job_ids: list[int]) -> dict:
        """Counters summed over every stage attempt of ``job_ids``."""
        out: dict = defaultdict(float)
        stage_ids = set()
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            if info is None:
                out["evicted"] += 1
                continue
            stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            try:
                found = self._store.stageData(
                    sid, False, self._empty, False, self._no_quantiles)
            except Exception:
                # every stage of a job is stored when the job starts, so
                # a missing one has been evicted
                out["evicted"] += 1
                continue
            # a stage whose shuffle output was reused is stored SKIPPED
            ran = [found.apply(i) for i in range(found.size())]
            ran = [st for st in ran if st.status().toString() != "SKIPPED"]
            if not ran:
                continue
            out["exec.stages"] += 1
            if self._is_python(sid):
                out["exec.python_stages"] += 1
            for st in ran:
                out["exec.tasks"] += st.numTasks()
                out["exec.spill_bytes"] += (st.memoryBytesSpilled()
                                            + st.diskBytesSpilled())
                for name, (getter, scale) in STAGE_COUNTERS.items():
                    out[name] += getattr(st, getter)() * scale
        return out

    def _is_python(self, sid: int) -> bool:
        try:
            graph = self._store.operationGraphForStage(sid)
        except Exception:
            return False
        return bool(_PYTHON_SCOPE.search(_cluster_names(graph)))


def _cluster_names(graph) -> str:
    names = []
    todo = [graph.rootCluster()]
    while todo:
        c = todo.pop()
        names.append(c.name())
        kids = c.childClusters()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return " ".join(names)


class Tracer:
    """Adds to each request's row the status-store counters of its job
    group: the jobs fired while the plan was built, and the jobs,
    stages and stage counters of the action."""

    def __init__(self, spark):
        self.reader = StageReader(spark)
        self.sc = spark.sparkContext
        self.rows: list[dict] = []
        self._n = 0

    def begin(self, name: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}-{name}"
        self.sc.setJobGroup(group, name)
        return group

    def build_jobs(self, group: str) -> list[int]:
        return self.reader.job_ids(group)

    def end(self, group: str, row: dict, build_jobs: list[int]) -> dict:
        self.reader.drain()
        exec_jobs = [j for j in self.reader.job_ids(group)
                     if j not in build_jobs]
        row.update(self.reader.read(exec_jobs))
        row["plans.build_jobs"] = len(build_jobs)
        row["exec.jobs"] = len(exec_jobs)
        self.rows.append(row)
        self.sc.setJobGroup("perfbench-idle", "idle")
        return row

