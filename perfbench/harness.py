"""Process-level plumbing shared by every workload: the Spark session, CPU
accounting from /proc, JVM status-store counters, landed-file accounting and
small statistics helpers. Nothing here touches the sink's code paths."""

from __future__ import annotations

import os
import shlex
import statistics
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def start_session(work: str, cpus: int, settings: dict):
    """Start the package's own session factory with every file the JVM and
    the Python workers write kept under ``work``. Returns (spark, seconds)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = settings["driver_memory"]
    # Spark prefers this variable over spark.local.dir; pin it either way
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no JVM (launcher or driver) writes its perf-data file to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage of the run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"
    t0 = time.perf_counter()
    from kafka_connect_hdfs_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set(
        "spark.sql.streaming.numRecentProgressUpdates",
        str(settings["num_recent_progress_updates"]),
    )
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, then wait for every process it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    children = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(os.path.exists(f"/proc/{p}") for p in children):
        if time.monotonic() > deadline:
            raise RuntimeError("Spark processes did not exit")
        time.sleep(0.1)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# CPU of the benchmark's process tree


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _proc_cpu(pid: int) -> tuple[str, float]:
    """(role, user+sys seconds including reaped children) of one process."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    with open(f"/proc/{pid}/cmdline", "rb") as fh:
        cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    if pid == os.getpid():
        role = "driver"
    elif "java" in cmd.split(" ", 1)[0]:
        role = "jvm"
    elif "pyspark" in cmd:
        role = "pyworker"
    else:
        role = "other"
    return role, ticks / CLK_TCK


def cpu_snapshot() -> dict[str, float]:
    """CPU seconds per role over the live process tree. A process that exits
    and is reaped moves its time into its parent's children counters, so
    deltas between two snapshots stay whole."""
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0, "other": 0.0}
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            role, secs = _proc_cpu(pid)
        except OSError:
            continue
        out[role] += secs
    return out


def cpu_delta(a: dict, b: dict) -> dict[str, float]:
    return {k: b[k] - a[k] for k in a}


def host_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(beans.get(i).getCollectionTime() for i in range(beans.size())))


# ---------------------------------------------------------------------------
# JVM status store (read with the UI off)


class StatusCounters:
    """Jobs, stages, tasks and shuffle bytes launched since the last call,
    read from the JVM status store after the listener bus drains."""

    def __init__(self, spark) -> None:
        self.sc = spark._jsc.sc()
        self.store = self.sc.statusStore()
        self.no_status = spark._jvm.java.util.ArrayList()
        self.no_quantiles = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)
        self.last_job = self._max_job()

    def _max_job(self) -> int:
        self.sc.listenerBus().waitUntilEmpty()
        jobs = self.store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def jobs_since(self) -> int:
        """Number of jobs started since the previous read."""
        top = self._max_job()
        n, self.last_job = top - self.last_job, top
        return n

    def take(self) -> dict:
        """Counters of the jobs that started since the previous call."""
        top = self._max_job()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
               "task_ms": []}
        for job_id in range(self.last_job + 1, top + 1):
            job = self.store.job(job_id)
            out["jobs"] += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                stages = self.store.stageAttempt(
                    stage_ids.apply(i), 0, False, self.no_status, False, self.no_quantiles
                )
                stage = stages._1()
                if stage.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += stage.numTasks()
                out["shuffle_write_bytes"] += stage.shuffleWriteBytes()
                tasks = self.store.taskList(stage.stageId(), stage.attemptId(), 100000)
                out["task_ms"].append(
                    [tasks.apply(k).duration().get() for k in range(tasks.size())]
                )
        self.last_job = top
        return out


# ---------------------------------------------------------------------------
# landed files


def landed_sizes(root: str, ext: str) -> list[int]:
    """Byte sizes of the committed data files under ``root``."""
    return [
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(root)
        for f in files
        if f.endswith(ext) and not f.startswith((".", "_"))
    ]


# ---------------------------------------------------------------------------
# statistics


def pct(values: list[float], p: int) -> float:
    """The p-th percentile (inclusive method, as statistics.quantiles)."""
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]
