"""Per-layer collectors, read from Spark's own bookkeeping after each action.

Nothing here launches a Spark job or edits the package: an op runs under a
job group, and afterwards the collector reads

* the job group's jobs from ``statusTracker``,
* each job's stage metrics from the status store (``lastStageAttempt``),
* the Catalyst phase times from ``queryExecution().tracker()``,
* the Python-boundary SQL metrics from the final (AQE) physical plan,
* the text sink's commit times from the SQL status store.

The status stores are filled by Spark's listener bus, asynchronously to the
action, so every read first waits until the bus is empty; a stage that is
still neither COMPLETE nor SKIPPED after that is counted in ``errors``.

Untraced runs use :class:`NullTracer`, which records nothing.
"""

from __future__ import annotations

import itertools
import re
from collections import defaultdict

#: status-store stage fields summed into ``exec.*`` metrics (ns → s for cpu)
STAGE_FIELDS = {
    "exec.run_s": ("executorRunTime", 1e-3),
    "exec.cpu_s": ("executorCpuTime", 1e-9),
    "exec.gc_s": ("jvmGcTime", 1e-3),
    "exec.input_bytes": ("inputBytes", 1),
    "exec.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "exec.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "exec.shuffle_records": ("shuffleWriteRecords", 1),
    "exec.spill_bytes": ("diskBytesSpilled", 1),
}
#: Python SQL metrics on Python-boundary plan nodes (ms → s for times)
PYUDF_FIELDS = {
    "pyudf.total_s": ("pythonTotalTime", 1e-3),
    "pyudf.boot_s": ("pythonBootTime", 1e-3),
    "pyudf.bytes_sent": ("pythonDataSent", 1),
    "pyudf.bytes_received": ("pythonDataReceived", 1),
    "pyudf.rows_out": ("pythonNumRowsReceived", 1),
}


def _scala_map(m) -> dict:
    out = {}
    it = m.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2()
    return out


#: one duration as the SQL status store formats it ("31 ms", "1.2 s", "3.0 m")
_DURATION = re.compile(r"([0-9.]+) (ms|s|m|h)\b")
_DURATION_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _duration_s(text: str) -> float:
    """The total of a formatted SQL timing metric: the only duration of a
    driver-side metric, the first after the header of a per-task one."""
    m = _DURATION.search(text.split("\n")[-1])
    return float(m.group(1)) * _DURATION_S[m.group(2)]


def _children(node) -> list:
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.finalPhysicalPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    out, it = [], node.children().iterator()
    while it.hasNext():
        out.append(it.next())
    return out


class NullTracer:
    """The untraced run: every hook is a no-op."""

    enabled = False

    def begin(self, kind: str) -> None:
        pass

    def end(self, kind: str, layer: dict) -> None:
        pass

    def plan(self, df, layer: dict) -> None:
        pass


class SparkTracer(NullTracer):
    """Reads job, stage, phase and Python metrics after each traced call.

    ``begin(kind)`` puts the following Spark jobs in a fresh job group;
    ``end(kind, layer)`` adds that group's job/stage counts and stage
    metrics to ``layer`` (a per-pass dict of sums). Jobs launched while
    building a query land in ``queries.build_jobs``; jobs of the action
    land in ``exec.*``."""

    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.bus = self.sc._jsc.sc().listenerBus()
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._ids = itertools.count()
        self._group = None
        #: stages read before the store had them finished (should stay 0)
        self.errors = 0

    def begin(self, kind: str) -> None:
        self._group = f"perfbench-{kind}-{next(self._ids)}"
        self.sc.setJobGroup(self._group, kind)

    def end(self, kind: str, layer: dict) -> None:
        self.bus.waitUntilEmpty()
        jobs = list(self.sc.statusTracker().getJobIdsForGroup(self._group))
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        if kind == "build":
            layer["queries.build_jobs"] += len(jobs)
            return
        layer["exec.jobs"] += len(jobs)
        stages = set()
        for j in jobs:
            info = self.sc.statusTracker().getJobInfo(j)
            if info is None:
                self.errors += 1
                continue
            stages.update(info.stageIds)
        for sid in sorted(stages):
            sd = self.store.lastStageAttempt(sid)
            status = sd.status().toString()
            if status == "SKIPPED":
                continue  # its shuffle output was reused
            if status != "COMPLETE":
                self.errors += 1
                continue
            layer["exec.stages"] += 1
            layer["exec.tasks"] += sd.numTasks()
            for metric, (field, scale) in STAGE_FIELDS.items():
                layer[metric] += getattr(sd, field)() * scale
            if kind == "pipe":
                wall = (sd.completionTime().get().getTime()
                        - sd.submissionTime().get().getTime()) / 1e3
                key = ("pipe.map_stage_s" if sd.shuffleWriteBytes() > 0
                       else "pipe.reduce_stage_s")
                layer[key] += wall
        if kind == "pipe":
            layer["io.write_text_dir_s"] += self._commit_s(set(jobs))

    def _commit_s(self, jobs: set) -> float:
        """Commit share of the text sink: the write's task commits (summed
        over tasks) plus its driver-side job commit. Writing the rows runs
        fused with the reducer pipe and is part of ``pipe.reduce_stage_s``."""
        total, it = 0.0, self.sql_store.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            if not jobs & set(_scala_map(ex.jobs())):
                continue
            values = _scala_map(self.sql_store.executionMetrics(ex.executionId()))
            names = ex.metrics().iterator()
            while names.hasNext():
                m = names.next()
                if m.name() in ("task commit time", "job commit time"):
                    total += _duration_s(values.get(m.accumulatorId(), "0 ms"))
        return total

    def plan(self, df, layer: dict) -> None:
        """Catalyst phases and Python-node metrics of an executed frame."""
        qe = df._jdf.queryExecution()
        for summary in _scala_map(qe.tracker().phases()).values():
            layer["catalyst.plan_s"] += summary.durationMs() / 1e3
        todo = [qe.executedPlan()]
        while todo:
            node = todo.pop()
            todo.extend(_children(node))
            metrics = _scala_map(node.metrics())
            if "pythonDataSent" not in metrics:
                continue
            for metric, (field, scale) in PYUDF_FIELDS.items():
                if field in metrics:
                    layer[metric] += metrics[field].value() * scale


def new_layer() -> defaultdict:
    return defaultdict(float)
