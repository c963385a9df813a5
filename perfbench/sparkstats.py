"""Engine and host counters, read after the fact.

Spark job, stage and task counters come from Spark's status store
(``SparkContext.statusStore``), keyed by the job group the benchmark
set on the thread that ran the operation. Plan phases and scan metrics
come from a DataFrame's ``QueryExecution``. Host and process figures
come from ``/proc``. Nothing here runs inside a timed region.
"""

from __future__ import annotations

import os
import resource
import time

from pyspark.sql import DataFrame, SparkSession


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


class StatusStore:
    """Jobs and stages of the running application."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.jvm = spark._jvm
        self.store = spark.sparkContext._jsc.sc().statusStore()

    def jobs_by_group(self) -> dict[str, list[dict]]:
        """Retained jobs by job group; ungrouped jobs under ``""``."""
        out: dict[str, list[dict]] = {}
        jobs = self.store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            group = _opt(j.jobGroup()) or ""
            out.setdefault(group, []).append({
                "job_id": j.jobId(),
                "stage_ids": [int(x) for x in _seq(j.stageIds())],
                "tasks": j.numTasks(),
            })
        return out

    def stages(self) -> dict[int, dict]:
        """Latest attempt of every retained stage."""
        stages = self.store.stageList(None, False, False, self._doubles(), None)
        out: dict[int, dict] = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid in out and out[sid]["attempt"] >= s.attemptId():
                continue
            out[sid] = {
                "attempt": s.attemptId(),
                "tasks": s.numCompleteTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ms": s.executorCpuTime() / 1e6,
                "gc_ms": s.jvmGcTime(),
                "shuffle_bytes": s.shuffleReadBytes() + s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            }
        return out

    def _doubles(self):
        return self.spark.sparkContext._gateway.new_array(self.jvm.double, 0)

    def totals(self, groups: list[str]) -> dict[str, dict]:
        """Per job group: jobs, stages and tasks run, and the stage
        counters summed over them."""
        jobs = self.jobs_by_group()
        stages = self.stages()
        return {g: _sum_jobs(jobs.get(g, []), stages) for g in groups}

    def last_job_id(self) -> int:
        jobs = self.store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def totals_between(self, after: int, upto: int, exclude: set[str]) -> dict:
        """Jobs with ids in (after, upto] outside the ``exclude`` groups."""
        stages = self.stages()
        js = [j for g, jobs in self.jobs_by_group().items() if g not in exclude
              for j in jobs if after < j["job_id"] <= upto]
        return _sum_jobs(js, stages)


def _sum_jobs(jobs: list[dict], stages: dict[int, dict]) -> dict:
    sids = sorted({s for j in jobs for s in j["stage_ids"] if s in stages})
    t = {"jobs": len(jobs), "stages": len(sids),
         "tasks": sum(stages[s]["tasks"] for s in sids)}
    for k in ("run_ms", "cpu_ms", "gc_ms", "shuffle_bytes", "spill_bytes"):
        t[k] = sum(stages[s][k] for s in sids)
    return t


def set_job_group(spark: SparkSession, group: str | None) -> None:
    """Tag the Spark jobs this thread launches next."""
    sc = spark.sparkContext
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    else:
        sc.setJobGroup(group, group)


def plan_phases_ms(df: DataFrame) -> float:
    """Analysis + optimization + planning time of an executed frame."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.values().iterator()
    total = 0
    while it.hasNext():
        total += it.next().durationMs()
    return float(total)


def _walk(node, out: list) -> list:
    """Flatten an executed plan through AQE wrappers and query stages."""
    out.append(node)
    cn = node.getClass().getName()
    if "AdaptiveSparkPlan" in cn:
        _walk(node.executedPlan(), out)
    elif "QueryStage" in cn:
        _walk(node.plan(), out)
    else:
        ch = node.children()
        for i in range(ch.size()):
            _walk(ch.apply(i), out)
    return out


def scan_metrics(df: DataFrame) -> dict[str, int]:
    """Files and rows read by the parquet scans of an executed frame."""
    files = rows = 0
    for n in _walk(df._jdf.queryExecution().executedPlan(), []):
        if "FileSourceScan" in n.getClass().getName():
            m = n.metrics()
            files += int(m.apply("numFiles").value())
            rows += int(m.apply("numOutputRows").value())
    return {"files_read": files, "rows_scanned": rows}


def jvm_gc_ms(spark: SparkSession) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())))


def jvm_pid(spark: SparkSession) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _proc_status(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


class ProcessProbe:
    """CPU time and peak memory of this process and its JVM."""

    def __init__(self, spark: SparkSession):
        self.jvm_pid = jvm_pid(spark)

    def cpu_s(self) -> float:
        t = os.times()
        return t.user + t.system + _proc_cpu_s(self.jvm_pid)

    def peak_rss_mb(self) -> float:
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (py_kb + _proc_status(self.jvm_pid, "VmHWM")) / 1024.0


class Phase:
    """CPU-time/wall ratio of one named phase, for the host stamp."""

    def __init__(self, probe: ProcessProbe | None, name: str, log: dict):
        self.probe, self.name, self.log = probe, name, log

    def __enter__(self):
        self.w0 = time.perf_counter()
        self.c0 = self.probe.cpu_s() if self.probe else 0.0
        return self

    def __exit__(self, *exc):
        wall = time.perf_counter() - self.w0
        cpu = (self.probe.cpu_s() - self.c0) if self.probe else 0.0
        self.log[self.name] = {"wall_s": round(wall, 4),
                               "cpu_wall_ratio": round(cpu / wall, 4) if wall else None}
        return False


def foreign_jvms(own_pid: int | None) -> int:
    """Java processes on the host other than this benchmark's JVM."""
    n = 0
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == own_pid:
            continue
        try:
            with open(f"/proc/{d}/comm") as f:
                if f.read().strip() == "java":
                    n += 1
        except OSError:
            continue
    return n


def loadavg() -> list[float]:
    return list(os.getloadavg())


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_conf(spark: SparkSession) -> dict[str, str | None]:
    keys = (
        "spark.master",
        "spark.sql.shuffle.partitions",
        "spark.driver.memory",
        "spark.sql.streaming.stateStore.providerClass",
        "spark.sql.adaptive.enabled",
    )
    return {k: spark.conf.get(k, None) for k in keys}


def per_op(t: dict, n_ops: int) -> dict:
    """The ``spark.*`` per-operation metrics of summed job counters."""
    n = max(1, n_ops)
    return {
        "spark.jobs_per_op": t["jobs"] / n,
        "spark.stages_per_op": t["stages"] / n,
        "spark.tasks_per_op": t["tasks"] / n,
        "spark.executor_run_ms_per_op": t["run_ms"] / n,
        "spark.executor_cpu_ms_per_op": t["cpu_ms"] / n,
        "spark.gc_ms_per_op": t["gc_ms"] / n,
        "spark.shuffle_bytes_per_op": t["shuffle_bytes"] / n,
        "spark.spill_bytes_per_op": t["spill_bytes"] / n,
        "spark.cpu_wall_ratio": t["cpu_ms"] / t["run_ms"] if t["run_ms"] else 0.0,
    }


def merge(totals: list[dict]) -> dict:
    keys = ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
            "shuffle_bytes", "spill_bytes")
    return {k: sum(t[k] for t in totals) for k in keys}
