"""Spark's own task and SQL metrics for one job group, read from the
application status store.

Every SparkContext keeps an ``AppStatusStore`` fed by Spark's
``AppStatusListener`` (and a SQL status store fed by the SQL
listener), whether or not the web UI is enabled; the UI and the REST
API are views of it. Reading it adds no listener and no event log to
the program under test. Values:

- stage level (``StageData``): task counts, executor run and CPU
  time, task GC time, spill, peak execution memory, shuffle bytes,
  submission and completion times;
- task level (``TaskData``): per-task executor run time, for skew;
- SQL level: the final (post-AQE) plan graph of each SQL execution of
  the group, and each operator's metric as the store formats it. Sum
  metrics (row counts) are exact; size metrics are printed to one
  decimal of their unit (``"7.4 MiB"``), so bytes read from them are
  approximate (within about 1.5%). Size and timing metrics also name the stage of their
  largest task, which is how operators are mapped to stages.

Python-worker timing metrics ("time to run/start/initialize Python
workers") are not read: the initialisation time was seen to exceed
the total time and to grow on a warm re-run, so it is not trusted.
"""

from __future__ import annotations

import re
import statistics

# Physical operators that run user Python in PySpark workers.
PYTHON_OPS = (
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
    "ArrowWindowPython",
    "AggregateInPandas",
)

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)")
_STAGE_RE = re.compile(r"stage (\d+)\.\d+")
_PLAN_METRIC_RE = re.compile(r"SQLPlanMetric\((.*?),(\d+),\w+\)")
_SEP = "\u0001"  # appears in no metric name or value


def parse_total_bytes(text: str) -> float:
    """Bytes from a formatted size metric. A multi-task metric reads
    ``"total (min, med, max (stageId: taskId))\\n7.4 MiB (...)"``; the
    first size after the header is the total."""
    m = _SIZE_RE.search(text)
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


def parse_count(text: str) -> int:
    return int(text.replace(",", "").split()[0]) if text else 0


def _seq(conv, scala_seq):
    return list(conv.asJava(scala_seq))


class SparkStats:
    """Reader bound to one live SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._ssc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        mgmt = self._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mgmt.getGarbageCollectorMXBeans())
        self._heap_pools = [
            p for p in mgmt.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"
        ]
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._sql_seen = 0  # SQL executions already read, in id order
        self._sql_jobs: dict[int, set] = {}  # execution id -> its job ids

    def jvm_gc_s(self) -> float:
        """Total GC time of the JVM so far. In local mode driver and
        executors share this JVM, so its delta over a job is the job's
        GC (summing per-task GC time instead would count one pause
        once per concurrently running task)."""
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0

    def reset_memory_peaks(self) -> None:
        for p in self._heap_pools:
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        """Peak used JVM heap since the last reset, summed over the heap
        pools (young, survivor, old): how much heap the jobs allocated
        between collections plus what they kept live."""
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools) / (1 << 20)

    def drain(self) -> None:
        """Wait until every listener event posted so far is applied
        to the status stores."""
        self._ssc.listenerBus().waitUntilEmpty()

    def group_stats(self, group: str, wall_s: float) -> dict:
        """Stage, task and SQL metrics of every job tagged ``group``.
        ``wall_s`` is the job's wall time; the part of it in which no
        stage of the group was running is ``driver_gap_s``."""
        self.drain()
        conv, store = self._conv, self._ssc.statusStore()
        job_ids = set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        stage_ids = set()
        for jid in job_ids:
            stage_ids.update(int(s) for s in _seq(conv, store.job(jid).stageIds()))

        out = {
            "stages": 0,
            "tasks": 0,
            "executor_run_s": 0.0,
            "executor_cpu_s": 0.0,
            "task_gc_s": 0.0,
            "spill_bytes": 0,
            "peak_execution_memory_bytes": 0,
            "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0,
        }
        stages, intervals = {}, []
        for sid in sorted(stage_ids):
            s = store.lastStageAttempt(sid)
            if s.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            stages[sid] = s
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["task_gc_s"] += s.jvmGcTime() / 1e3
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["peak_execution_memory_bytes"] = max(
                out["peak_execution_memory_bytes"], s.peakExecutionMemory()
            )
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            sub, done = s.submissionTime(), s.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
        out["driver_gap_s"] = max(0.0, wall_s - _union_ms(intervals) / 1e3)
        out["stage_run_s"] = {sid: s.executorRunTime() / 1e3 for sid, s in stages.items()}
        out["task_skew"] = self._task_skew(store, stages)
        out["sql"] = self._sql_nodes(job_ids)
        out["input_bytes"] = scan_input_bytes(out["sql"])
        return out

    def _task_skew(self, store, stages: dict) -> float:
        """Longest over median task run time in the group's stage
        with the most executor run time."""
        if not stages:
            return 0.0
        heavy = max(stages.values(), key=lambda s: s.executorRunTime())
        tasks = _seq(
            self._conv, store.taskList(heavy.stageId(), heavy.attemptId(), 1 << 20)
        )
        runs = [t.taskMetrics().get().executorRunTime() for t in tasks if t.taskMetrics().isDefined()]
        med = statistics.median(runs) if runs else 0
        return max(runs) / med if med > 0 else float(len(runs) > 0)

    def _sql_nodes(self, job_ids: set) -> list[dict]:
        """Every operator of every SQL execution whose jobs all belong
        to the group: name, metric texts and the stages it ran in."""
        conv, sql_store = self._conv, self._sql_store
        # Executions get increasing ids; read each one's job ids once.
        for e in _seq(conv, sql_store.executionsList(self._sql_seen, 1 << 30)):
            self._sql_jobs[e.executionId()] = {int(j) for j in conv.asJava(e.jobs().keySet())}
            self._sql_seen += 1
        nodes = []
        for eid, e_jobs in self._sql_jobs.items():
            if not e_jobs or not e_jobs <= job_ids:
                continue
            # One py4j call per execution for all metric values and two
            # per operator (a call per value costs seconds per job).
            values = dict(
                kv.split(" -> ", 1) for kv in sql_store.executionMetrics(eid).mkString(_SEP).split(_SEP) if kv
            )
            for n in _seq(conv, sql_store.planGraph(eid).allNodes()):
                metrics, stage_set = {}, set()
                for name, acc_id in _PLAN_METRIC_RE.findall(n.metrics().mkString(_SEP)):
                    if acc_id in values:
                        metrics[name] = values[acc_id]
                        stage_set.update(int(x) for x in _STAGE_RE.findall(values[acc_id]))
                nodes.append({"execution": eid, "name": n.name(), "metrics": metrics, "stages": stage_set})
        return nodes


def python_ops(nodes: list[dict]) -> list[dict]:
    return [n for n in nodes if n["name"] in PYTHON_OPS]


def arrow_bytes_to_python(nodes: list[dict]) -> float:
    return sum(parse_total_bytes(n["metrics"].get("data sent to Python workers", "")) for n in python_ops(nodes))


def scan_input_bytes(nodes: list[dict]) -> float:
    """Bytes of the files the scans read. The stage-level input bytes
    are not used: a 4.1 MiB parquet scan reported 816 bytes there."""
    return sum(
        parse_total_bytes(n["metrics"].get("size of files read", ""))
        for n in nodes
        if n["name"].startswith("Scan")
    )


def join_output_rows(nodes: list[dict]) -> int:
    return sum(
        parse_count(n["metrics"].get("number of output rows", ""))
        for n in nodes
        if n["name"].endswith("Join")
    )


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total
