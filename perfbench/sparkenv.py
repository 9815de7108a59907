"""Spark session, Spark's own statistics and process memory, as the
benchmark reads them.

Cores, shuffle partitions and driver memory are pinned here and never read
from ``SPARK_GRAFT_*``. All statistics come from Spark's status store and
the physical plan, read by the benchmark after a call returns; nothing is
added inside the package.
"""

from __future__ import annotations

import os
import platform
import subprocess
import time

CORES = 4
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "3g"


def start_session(workdir: str):
    """Start ``local[CORES]`` with every scratch location inside ``workdir``.
    Returns (spark, seconds taken)."""
    for name in list(os.environ):
        if name.startswith("SPARK_GRAFT_"):
            del os.environ[name]
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # HotSpot writes its perf-data file under /tmp whatever java.io.tmpdir
    # says; the launcher JVM and the driver JVM both run without it
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from window_aggregation_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    return spark, time.perf_counter() - t0


def versions(spark) -> dict:
    java = subprocess.run(
        ["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True,
        check=False,
    ).stderr.splitlines()
    return {
        "nproc": os.cpu_count(),
        "spark": spark.version,
        "java": java[0] if java else "unknown",
        "python": platform.python_version(),
        "cores": CORES,
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "driver_memory": DRIVER_MEMORY,
    }


# ---------------------------------------------------------------------------
# physical plan
# ---------------------------------------------------------------------------

def _children(node) -> list:
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def plan_counts(jplan) -> dict:
    """Exchange / Sort / Window node counts of a physical plan, looking
    through the adaptive wrapper at its initial plan."""
    counts = {"exchanges": 0, "sorts": 0, "window_execs": 0}
    stack = [jplan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.initialPlan())
            continue
        if name in ("Exchange", "ShuffleExchange"):
            counts["exchanges"] += 1
        elif name == "Sort":
            counts["sorts"] += 1
        elif name == "Window":
            counts["window_execs"] += 1
        stack.extend(_children(node))
    return counts


def executed_plan(df):
    """Force Catalyst through physical planning; returns the Java plan."""
    return df._jdf.queryExecution().executedPlan()


def input_file_bytes(df) -> int:
    """Bytes of the files the plan scans. (The stages' own inputBytes
    counts about 1 KB for a 1 MB local parquet file, so it is not used.)"""
    from urllib.parse import urlparse

    return sum(os.path.getsize(urlparse(f).path) for f in df.inputFiles())


# ---------------------------------------------------------------------------
# status store
# ---------------------------------------------------------------------------

class StageStats:
    """Reads the stages of a job group from ``SparkContext.statusStore``."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._gw = self._sc._gateway

    def group_stats(self, group: str) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        job_ids = list(self._sc.statusTracker().getJobIdsForGroup(group))
        stats = {
            "jobs": len(job_ids), "stages": 0, "tasks": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0,
            "executor_cpu_s": 0.0, "task_skew": 1.0,
        }
        quantiles = self._gw.new_array(self._gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        empty = self._gw.new_array(self._gw.jvm.double, 0)
        for jid in job_ids:
            sids = self._store.job(jid).stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                attempts = self._store.stageData(sid, False, None, False, empty)
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    if str(st.status()) != "COMPLETE":
                        continue  # skipped stages reuse an earlier shuffle
                    stats["stages"] += 1
                    stats["tasks"] += st.numCompleteTasks()
                    stats["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    stats["spill_bytes"] += st.diskBytesSpilled()
                    stats["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    if st.shuffleReadBytes() > 0 and st.numCompleteTasks() > 1:
                        summary = self._store.taskSummary(
                            sid, st.attemptId(), quantiles
                        )
                        if summary.isDefined():
                            run = summary.get().executorRunTime()
                            med, top = run.apply(0), run.apply(1)
                            if med > 0:
                                stats["task_skew"] = max(
                                    stats["task_skew"], top / med
                                )
        return stats


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------

def _proc_children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        tree.setdefault(int(fields[1]), []).append(int(entry))
    return tree


def peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident set) over this process and all of its
    descendants: the driver JVM and the Python workers it forked."""
    tree = _proc_children()
    total_kb = 0
    stack = [os.getpid()]
    while stack:
        pid = stack.pop()
        stack.extend(tree.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
