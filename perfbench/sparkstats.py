"""Read per-layer counters out of a live Spark session.

Everything comes from the driver's in-process status stores, which
Spark keeps even with ``spark.ui.enabled=false``:

- the core ``AppStatusStore``: jobs (by job group) and stage task
  metrics (tasks, executor run time, shuffle fetch wait, shuffle write,
  spill, failed tasks);
- the SQL ``SQLAppStatusStore``: per-plan-node SQL metrics, from which
  the Python-worker boot/init/run times and Arrow bytes of every Python
  evaluation node are summed;
- the ``CacheManager``: how many cached relations are registered.

Plus the resident memory of this process tree, read from ``/proc``.
"""

from __future__ import annotations

import json
import os
import re

STAGE_FIELDS = {
    "spark.tasks": ("numTasks", 1),
    "spark.task_busy_s": ("executorRunTime", 1e-3),
    "spark.shuffle_fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.spill_bytes": ("diskBytesSpilled", 1),
    "spark.failed_tasks": ("numFailedTasks", 1),
}

# SQL metric display names of the Python evaluation nodes
# (org.apache.spark.sql.execution.python.PythonSQLMetrics)
PY_METRICS = {
    "time to start Python workers": "py_init_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "arrow_bytes",
    "data returned from Python workers": "arrow_bytes",
}

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_VALUE = re.compile(r"^\s*([-0-9.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric such as ``7.2 s`` or ``931.0 KiB``."""
    m = _VALUE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class SparkStats:
    """Counters of one Spark application, read after each op.

    Each read is one py4j call per stage or per SQL execution: stage
    data comes back as JSON and a plan's metrics as its DOT rendering,
    so tracing stays cheap next to the ops it measures."""

    def __init__(self, spark):
        self.spark = spark
        jvm = spark._jvm
        self._jsc = spark.sparkContext._jsc.sc()
        self._tracker = spark.sparkContext.statusTracker()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._seen_stages: set[int] = set()
        self._n_exec = self._sql.executionsCount()

    def _drain(self) -> None:
        """Wait until the listener bus has applied every event."""
        self._jsc.listenerBus().waitUntilEmpty()

    def engine_counters(self, job_group: str) -> dict[str, float]:
        """Stage task metrics of every job run under ``job_group``; each
        stage counts once even when later jobs list it as skipped."""
        self._drain()
        stage_ids: set[int] = set()
        for job_id in self._tracker.getJobIdsForGroup(job_group):
            info = self._tracker.getJobInfo(job_id)
            if info is not None:
                stage_ids.update(info.stageIds)
        stage_ids -= self._seen_stages
        self._seen_stages |= stage_ids
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        for sid in stage_ids:
            attempts = self._store.stageData(sid, False, None, False, self._no_quantiles)
            for st in json.loads(self._json.writeValueAsString(attempts)):
                if st["status"] == "SKIPPED":
                    continue
                for name, (field, scale) in STAGE_FIELDS.items():
                    out[name] += st[field] * scale
        return out

    def python_counters(self) -> dict[str, float]:
        """Python-worker time and Arrow bytes of the SQL executions that
        started since the previous call."""
        self._drain()
        out = dict.fromkeys(("py_init_s", "py_run_s", "arrow_bytes"), 0.0)
        n = self._sql.executionsCount()
        new = self._conv.asJava(self._sql.executionsList(self._n_exec, n - self._n_exec))
        for ex in new:
            eid = ex.executionId()
            dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
            for key, value in python_metrics(dot):
                out[key] += value
        self._n_exec = n
        return out

    def cache_entries(self) -> int:
        """Number of relations registered in the session's CacheManager."""
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        field = cm.getClass().getDeclaredField("cachedData")
        field.setAccessible(True)
        return int(field.get(cm).size())


def python_metrics(dot: str):
    """(key, value) of every Python-worker metric in a plan's DOT text.

    A node label lists ``name: value`` or, for per-task metrics,
    ``name total (min, med, max ...)`` followed by ``value (...)``."""
    for label in re.findall(r'label="(.*?)"', dot):
        items = label.split("<br>")
        for i, item in enumerate(items):
            name, sep, value = item.partition(":")
            if sep and name in PY_METRICS:
                yield PY_METRICS[name], parse_metric(value)
                continue
            name = item.split(" total (")[0]
            if name in PY_METRICS and i + 1 < len(items):
                yield PY_METRICS[name], parse_metric(items[i + 1])


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        try:
            for task in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{task}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return pids


def tree_peak_rss_mib(root: int) -> float:
    """Sum of the peak resident set (VmHWM) of every live process in the
    tree: driver Python, the JVM and its Python workers."""
    total_kib = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kib += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kib / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, own and reaped children) of every live
    process in the tree.  Unlike wall time this leaves out the time the
    machine gave to other guests (steal)."""
    ticks = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[11:15]: utime stime cutime cstime (stat fields 14-17)
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def host_steal_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks of the whole machine since boot, from
    the ``cpu`` line of ``/proc/stat``; busy leaves out idle, iowait and
    steal."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal
