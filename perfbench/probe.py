"""Read the engine's own bookkeeping from outside the package.

Everything here goes through public Spark surfaces: job groups and
``SparkContext.statusTracker()`` to find the jobs a call launched, the
core status store (``AppStatusStore``) for their stage task metrics, the
SQL status store for the executed plan graph and its SQL metrics, and a
DataFrame's ``queryExecution().tracker()`` for the Catalyst phase times.
"""

from __future__ import annotations

import os
import re

# Node names of the physical operators that run Python workers.
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _metric_value(text: str | None) -> float:
    """Parse an SQL metric's display string: ``"5,000"`` for a sum, or
    ``"total (min, med, max ...)\\n118.3 KiB (...)"`` for a size."""
    if not text:
        return 0.0
    line = text.split("\n")[-1].split(" (")[0].strip()
    parts = line.replace(",", "").split()
    if len(parts) == 2 and parts[1] in _SIZE_UNITS:
        return float(parts[0]) * _SIZE_UNITS[parts[1]]
    try:
        return float(parts[0])
    except (IndexError, ValueError):
        return 0.0


class Probe:
    """Handles on the status stores of one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._task_status = getattr(self.store, "stageData$default$3")()
        self._quantiles = getattr(self.store, "stageData$default$5")()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores hold the jobs that just finished."""
        self.jsc.listenerBus().waitUntilEmpty()

    def sql_mark(self) -> int:
        return self.sql.executionsCount()

    def jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_totals(self, job_ids: list[int]) -> dict[str, float]:
        """Sum the task metrics of every stage the jobs ran."""
        out = dict.fromkeys(
            (
                "jobs job_s stages tasks failed_tasks executor_run_s "
                "executor_cpu_s gc_s input_bytes output_bytes "
                "shuffle_write_bytes shuffle_read_bytes spill_bytes"
            ).split(),
            0.0,
        )
        seen: set[int] = set()
        for j in job_ids:
            job = self.store.job(j)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if not sub.isEmpty() and not done.isEmpty():
                out["job_s"] += (done.get().getTime() - sub.get().getTime()) / 1e3
            for sid in _seq(job.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                for st in _seq(
                    self.store.stageData(
                        sid, False, self._task_status, False, self._quantiles
                    )
                ):
                    if st.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                    out["failed_tasks"] += st.numFailedTasks()
                    out["executor_run_s"] += st.executorRunTime() / 1e3
                    out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    out["gc_s"] += st.jvmGcTime() / 1e3
                    out["input_bytes"] += st.inputBytes()
                    out["output_bytes"] += st.outputBytes()
                    out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["shuffle_read_bytes"] += st.shuffleReadBytes()
                    out["spill_bytes"] += st.diskBytesSpilled()
        return out

    def plan_totals(self, since: int) -> dict[str, float]:
        """Count shuffle exchanges and Python-worker nodes, and sum the
        Python-worker SQL metrics, over the SQL executions started after
        ``since`` (their final, adaptive plans)."""
        out = dict.fromkeys(
            "exchanges python_nodes bytes_sent bytes_received rows_returned".split(),
            0.0,
        )
        for ex in range(since, self.sql.executionsCount()):
            values = self.sql.executionMetrics(ex)
            for node in _seq(self.sql.planGraph(ex).allNodes()):
                name = node.name()
                if name == "Exchange":
                    out["exchanges"] += 1
                if not _PYTHON_NODE.search(name):
                    continue
                out["python_nodes"] += 1
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    v = _metric_value(None if v.isEmpty() else v.get())
                    label = m.name()
                    if label.startswith("data sent to Python"):
                        out["bytes_sent"] += v
                    elif label.startswith("data returned from Python"):
                        out["bytes_received"] += v
                    elif label.startswith("number of output rows"):
                        out["rows_returned"] += v
        return out

    def cache_state(self) -> tuple[int, int]:
        """Persisted RDDs still registered, and the bytes they hold."""
        infos = list(self.jsc.getRDDStorageInfo())
        n = self.jsc.getPersistentRDDs().size()
        return n, sum(i.memSize() + i.diskSize() for i in infos)


def plan_phases(df) -> dict[str, float]:
    """Force the DataFrame's own physical plan and return the Catalyst
    phase times (seconds) its ``QueryExecution`` tracker recorded."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return {
        k: (phases.apply(k).durationMs() / 1e3 if phases.contains(k) else 0.0)
        for k in ("analysis", "optimization", "planning")
    }


def memo_entries() -> int:
    """Entries held by the registry's per-session ``*_CACHE`` memos."""
    from retail_sales_project_bigdata_spark import registry

    return sum(
        len(val)
        for mod in registry._MODULES
        for attr, val in vars(mod).items()
        if attr.endswith("_CACHE") and isinstance(val, dict)
    )


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def peak_rss_mb(pid: int) -> float:
    """``VmHWM`` of a process: its peak resident set, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (Python worker daemons etc.)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def dir_files_bytes(path: str) -> tuple[int, int]:
    """Data files under ``path`` and their total size (markers skipped)."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size
