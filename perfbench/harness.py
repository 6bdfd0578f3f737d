"""Process-level plumbing shared by the workloads.

One :class:`Harness` per benchmark process owns the scratch directory inside
the checkout, the Spark session (built through the program's own
``parqueryd_spark.session.get_spark`` so the engine posture is the one users
get), the host-noise calibration probe and the Spark status-store reader that
turns job groups into per-op engine counts.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager

#: Spark status-store retention: every job/stage of one run must stay
#: readable until the run ends (the stock 1000 evicts mid-run).
_RETAIN = "200000"


def cores() -> int:
    """``local[$(nproc)]``: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def median(values) -> float:
    return float(statistics.median(values))


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MB, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_bytes(path: str) -> int:
    """Bytes of every regular file under ``path`` (0 when absent)."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


class Harness:
    """Scratch dir + Spark session + calibration for one benchmark process.

    ``root`` is the checkout; everything the run writes lands under
    ``<root>/.perfbench_work/<tag>`` and is removed by :meth:`close`, except
    the run artifact, which goes to ``<root>/.perfbench_out``.
    """

    def __init__(self, root: str, tag: str, seed: int, seconds: float, trace: bool, smoke: bool):
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.smoke = smoke
        self.work = os.path.join(root, ".perfbench_work", tag)
        self.out_dir = os.path.join(root, ".perfbench_out")
        self.cores = cores()
        self.spark = None
        self.session_start_s = None
        self.calib_samples: list[float] = []
        #: share of the machine's CPU time stolen by its hypervisor during
        #: the measured window; set by the measuring loop
        self.steal_share = 0.0
        self._calib_df = None
        self.calib_storage_bytes = 0

    # -- lifecycle ----------------------------------------------------------

    def open(self) -> "Harness":
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        tmp = self.path("tmp")
        os.makedirs(tmp)
        # keep every file Spark, the JVM and Python workers create inside
        # the checkout
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_GRAFT_WAREHOUSE"] = self.path("warehouse")
        # executor-side Python workers must import the program from the
        # checkout no matter what their working directory is
        paths = [self.root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(paths)
        java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"  # no hsperfdata in the host's /tmp

        from parqueryd_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            cores=self.cores,
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.local.dir": self.path("spark-local"),
                "spark.driver.extraJavaOptions": java_opts,
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": _RETAIN,
                "spark.ui.retainedStages": _RETAIN,
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t0
        return self

    def close(self) -> None:
        """Stop Spark and wait until the JVM (and with it every Python worker
        it forked) has exited, then remove the scratch directory."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            self.spark = None
            if gateway is not None:
                gateway.shutdown()
                SparkContext._gateway = SparkContext._jvm = None
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()  # the gateway JVM exits on EOF
                    proc.wait(timeout=120)
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def peak_rss_mb(self) -> float:
        """Peak RSS of the driver Python process plus the Spark JVM."""
        return vm_hwm_mb(os.getpid()) + vm_hwm_mb(self.jvm_pid())

    # -- job groups -----------------------------------------------------------

    @contextmanager
    def job_group(self, group: str, description: str = ""):
        """Tag every Spark job the block launches from this thread."""
        sc = self.spark.sparkContext
        sc.setJobGroup(group, description or group)
        try:
            yield
        finally:
            sc._jsc.clearJobGroup()

    # -- host-noise calibration -------------------------------------------------

    def calib(self) -> float:
        """Time ``bench.py``'s fixed calibration aggregate once: a cached
        1k-row frame grouped into 10 buckets, materialized through a noop
        write. Data-independent, so it moves only with host load and JVM
        state; samples ride the run artifact as a diagnostic."""
        from pyspark.sql import functions as F

        if self._calib_df is None:
            self._calib_df = (
                self.spark.range(1000)
                .select(F.col("id"), (F.col("id") * 7 % 97).alias("v"))
                .cache()
            )
            with self.job_group("perfbench:calib"):
                self._calib_df.count()
            self.calib_storage_bytes = self.storage_bytes()
        t0 = time.perf_counter()
        with self.job_group("perfbench:calib"):
            (
                self._calib_df.groupBy((F.col("id") % 10).alias("b"))
                .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
                .write.mode("overwrite")
                .format("noop")
                .save()
            )
        dt = time.perf_counter() - t0
        self.calib_samples.append(round(dt, 6))
        return dt

    def storage_bytes(self) -> int:
        """Bytes of cached RDD blocks (memory + disk) held by the session."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return int(sum(i.memSize() + i.diskSize() for i in infos))


class StatusReader:
    """Per-op engine counters from Spark's AppStatusStore, by job group.

    The store is fed asynchronously by the listener bus, so it is drained
    first (as ``parqueryd_spark.plans.telemetry`` does) — counts read after
    an action returns are then complete. Read once, after the measured
    window, so the py4j walk never sits inside a timed op.
    """

    FIELDS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
              "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")

    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        jvm = sc._gateway.jvm
        store = jsc.statusStore()
        self.jobs: list[dict] = []
        it = store.jobsList(jvm.java.util.ArrayList()).iterator()
        while it.hasNext():
            j = it.next()
            group = j.jobGroup()
            if group.isDefined() and str(group.get()).startswith("perfbench:op"):
                self.jobs.append(
                    {"group": str(group.get()), "stage_ids": [int(s) for s in _seq(j.stageIds())]}
                )
        wanted = {sid for j in self.jobs for sid in j["stage_ids"]}
        self.stages: dict[int, dict] = {}
        it = store.stageList(
            jvm.java.util.ArrayList(), False, False, sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        ).iterator()
        while it.hasNext():
            s = it.next()
            sid = int(s.stageId())
            if sid not in wanted:
                continue
            prev = self.stages.get(sid)
            row = {
                "tasks": int(s.numTasks()),
                "task_run_s": s.executorRunTime() / 1e3,
                "task_cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "input_bytes": int(s.inputBytes()),
                "shuffle_read_bytes": int(s.shuffleReadBytes()),
                "shuffle_write_bytes": int(s.shuffleWriteBytes()),
                "spill_bytes": int(s.memoryBytesSpilled() + s.diskBytesSpilled()),
                "skipped": str(s.status()) == "SKIPPED",
            }
            if prev is None:
                self.stages[sid] = row
            else:  # stage retry: sum the attempts
                for k in row:
                    if k != "skipped":
                        prev[k] += row[k]

    def totals(self, groups) -> dict:
        """Engine counters summed over the jobs tagged with one of ``groups``
        (a stage shared by several of those jobs counts once)."""
        groups = set(groups)
        jobs = [j for j in self.jobs if j["group"] in groups]
        out = dict.fromkeys(self.FIELDS, 0)
        out["jobs"] = len(jobs)
        seen: set[int] = set()
        for j in jobs:
            for sid in j["stage_ids"]:
                st = self.stages.get(sid)
                if sid in seen or st is None or st["skipped"]:
                    continue
                seen.add(sid)
                out["stages"] += 1
                for k in self.FIELDS[2:]:
                    out[k] += st[k]
        return out


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()
