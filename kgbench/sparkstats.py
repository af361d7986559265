"""Read Spark's own status stores from outside the package.

Two stores, both live with `spark.ui.enabled=false`:

- the core AppStatusStore (`sc._jsc.sc().statusStore()`): jobs with
  their job group and stage ids, and per-stage-attempt task metrics
  (executor run/CPU time, input/output, shuffle, spill, failed tasks);
- the SQL store (`sharedState().statusStore()`): one entry per SQL
  execution with its physical plan description, which AQE rewrites
  to the final plan once the query finishes, and its SQL metrics
  (e.g. bytes sent to and returned from Python workers).

A `Mark` is taken at the start and end of a traced span; `delta`
sums the metrics of every job and SQL execution started between the
two marks.  The benchmark is a closed loop (one job chain at a time),
so the ranges nest exactly like the spans do.  Jobs submitted from
helper threads (e.g. `write_graph`'s two writers) carry no job group
but still fall inside the range.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

STAGE_FIELDS = {
    # our name: (StageData accessor, scale)
    "executor_run_s": ("executorRunTime", 1e-3),    # ms
    "executor_cpu_s": ("executorCpuTime", 1e-9),    # ns
    "input_bytes": ("inputBytes", 1),
    "input_records": ("inputRecords", 1),
    "output_bytes": ("outputBytes", 1),
    "output_records": ("outputRecords", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "tasks_failed": ("numFailedTasks", 1),
}

PLAN_OPS = {
    "shuffled_hash_joins": re.compile(r"\bShuffledHashJoin\b"),
    "sort_merge_joins": re.compile(r"\bSortMergeJoin\b"),
    "broadcast_hash_joins": re.compile(r"\bBroadcastHashJoin\b"),
    # shuffle exchanges only (BroadcastExchange / ReusedExchange differ)
    "exchanges": re.compile(r"(?<![A-Za-z])Exchange \("),
}

PYTHON_SQL_METRICS = {
    "arrow_bytes_to_python": "data sent to Python workers",
    "arrow_bytes_from_python": "data returned from Python workers",
}

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40}


@dataclass(frozen=True)
class Mark:
    job: int        # highest job id seen so far (-1: none)
    execution: int  # highest SQL execution id seen so far (-1: none)


def final_plan_tree(description: str) -> str:
    """The operator tree of the AQE-final plan (without the numbered
    per-operator details that follow it)."""
    tree = description.split("== Physical Plan ==", 1)[-1]
    tree = tree.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1]
        tree = tree.split("== Initial Plan ==", 1)[0]
    return tree


def count_plan_ops(description: str) -> dict[str, int]:
    tree = final_plan_tree(description)
    return {k: len(rx.findall(tree)) for k, rx in PLAN_OPS.items()}


def parse_size_metric(text: str) -> float:
    """SQL size metrics render as 'total (min, med, max ...)\\n12.3 MiB
    (...)'; the first value after the header is the total."""
    m = re.search(r"([0-9][0-9.,]*)\s*(B|KiB|MiB|GiB|TiB)\b",
                  text.split("\n", 1)[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


class SparkStats:
    def __init__(self, spark):
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seq_args = (
            getattr(self._store, "stageList$default$4")(),
            getattr(self._store, "stageList$default$5")())

    def _drain(self) -> None:
        # status stores are fed asynchronously by the listener bus
        self._sc.listenerBus().waitUntilEmpty()

    def _jobs(self) -> list:
        js = self._store.jobsList(None)
        return [js.apply(i) for i in range(js.size())]

    def _executions(self) -> list:
        ex = self._sql.executionsList()
        return [ex.apply(i) for i in range(ex.size())]

    def mark(self) -> Mark:
        self._drain()
        return Mark(max((j.jobId() for j in self._jobs()), default=-1),
                    max((e.executionId() for e in self._executions()),
                        default=-1))

    def delta(self, a: Mark, b: Mark) -> dict:
        """Summed stage metrics, plan operator counts and Python-boundary
        SQL metrics of everything between two marks."""
        stage_ids: set[int] = set()
        for j in self._jobs():
            if a.job < j.jobId() <= b.job:
                ids = j.stageIds()
                stage_ids.update(ids.apply(i) for i in range(ids.size()))
        out = {k: 0.0 for k in STAGE_FIELDS}
        out["jobs"] = b.job - a.job
        out["stages"] = 0
        if stage_ids:
            st = self._store.stageList(None, False, False, *self._seq_args)
            for i in range(st.size()):
                s = st.apply(i)
                if s.stageId() not in stage_ids:
                    continue
                if s.status().toString() not in ("COMPLETE", "FAILED"):
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                for k, (acc, scale) in STAGE_FIELDS.items():
                    out[k] += getattr(s, acc)() * scale
        ops = {k: 0 for k in PLAN_OPS}
        py = {k: 0.0 for k in PYTHON_SQL_METRICS}
        for e in self._executions():
            eid = e.executionId()
            if not a.execution < eid <= b.execution:
                continue
            for k, v in count_plan_ops(e.physicalPlanDescription()).items():
                ops[k] += v
            self._python_metrics(eid, py)
        out.update(ops)
        out.update(py)
        return out

    def _python_metrics(self, eid: int, acc: dict) -> None:
        wanted = {v: k for k, v in PYTHON_SQL_METRICS.items()}
        ids = {}
        nodes = self._sql.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            ms = nodes.apply(i).metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                if m.name() in wanted:
                    ids[m.accumulatorId()] = wanted[m.name()]
        if not ids:
            return
        # a Scala Map[Long, String]; iterate it (a py4j lookup would box
        # the key as Integer and miss)
        it = self._sql.executionMetrics(eid).iterator()
        while it.hasNext():
            kv = it.next()
            key = ids.get(kv._1())
            if key is not None:
                acc[key] += parse_size_metric(kv._2())
