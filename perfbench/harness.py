"""Shared plumbing: per-run directories, the Spark session, process
resource readings from /proc, host-noise readings, percentiles, and
Spark status-store queries."""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import time

#: every path the benchmark writes lives under this directory of the
#: working directory (the checkout it runs in), removed at exit
WORK_ROOT = ".perfbench_work"


class Workspace:
    """Fresh per-run directories for the lake, checkpoints, warehouse,
    Spark scratch and inputs; removed by ``close``."""

    def __init__(self) -> None:
        root = os.path.abspath(os.path.join(WORK_ROOT, f"run-{os.getpid()}-{time.time_ns()}"))
        self.root = root
        for sub in ("lake", "ckpt", "warehouse", "local", "tmp", "inputs"):
            os.makedirs(os.path.join(root, sub))

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.root))
        except OSError:
            pass  # another run still owns a sibling directory


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(ws: Workspace, app: str):
    """The engine's own session factory, pointed at the run's directories.
    Every local[N] core the process may use, as the engine is deployed."""
    tmp = ws.path("tmp")
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts (its launcher too) keeps its temp files
    # in the run's directory and writes no /tmp/hsperfdata_* entry
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    from aws_saas_factory_multi_tenant_data_pipeline_spark.session import get_spark

    return get_spark(
        app_name=app,
        cpus=cpus(),
        extra_conf={
            "spark.sql.warehouse.dir": ws.path("warehouse"),
            "spark.local.dir": ws.path("local"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM it runs in (it exits when its
    stdin closes) and wait until it has."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


# --- process resources --------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _tree(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def _stat_cpu_s(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    # utime stime cutime cstime: reaped workers are charged to their parent
    return sum(int(x) for x in fields[11:15]) / _TICK


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds of a process and all its descendants (the driver JVM
    and the Python workers it forks)."""
    return sum(_stat_cpu_s(p) for p in _tree(root_pid))


def tree_peak_rss_mb(root_pid: int) -> float:
    """Peak resident set (VmHWM) of the JVM tree plus this process."""
    total = 0
    for p in [*_tree(root_pid), os.getpid()]:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def lake_layout(root: str) -> tuple[int, int, int]:
    """(data files, leaf partitions, bytes) under a lake's tenant=* subtree."""
    files = parts = size = 0
    for d, _, names in os.walk(root):
        if not os.path.relpath(d, root).startswith("tenant="):
            continue
        data = [n for n in names if n.endswith(".parquet")]
        if data:
            parts += 1
            files += len(data)
            size += sum(os.path.getsize(os.path.join(d, n)) for n in data)
    return files, parts, size


# --- host noise ---------------------------------------------------------------


def host_noise() -> dict:
    """loadavg, cumulative CPU steal and the time of a fixed piece of
    Python work, so a drifted set of runs can be told apart from a code
    change (the host's speed drifts by tens of percent over minutes)."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    steal = int(cpu[8]) if len(cpu) > 8 else 0
    t = time.perf_counter()
    sum(i * i for i in range(200_000))
    calib_ms = (time.perf_counter() - t) * 1000.0
    return {"loadavg_1m": load1, "steal_jiffies": steal, "calib_ms": calib_ms}


# --- statistics ---------------------------------------------------------------


def pct(values, q: int) -> float:
    """Percentile q (1..99) of a non-empty sample, interpolating between
    order statistics, so a small sample's p90 is not just its maximum."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of an empty sample")
    if len(s) == 1:
        return float(s[0])
    return float(statistics.quantiles(s, n=100, method="inclusive")[q - 1])


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


# --- Spark status stores --------------------------------------------------------


def drain_listener_bus(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def stage_metrics_by_group(spark) -> dict[str, dict[str, float]]:
    """Per job group: summed task metrics of every stage its jobs ran."""
    drain_listener_bus(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    jvm = spark.sparkContext._jvm
    stage_group: dict[int, str] = {}
    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        job = jobs.apply(i)
        group = job.jobGroup()
        if group.isEmpty():
            continue
        ids = job.stageIds()
        for j in range(ids.size()):
            stage_group[ids.apply(j)] = group.get()
    empty = jvm.java.util.ArrayList()
    quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    stages = store.stageList(None, False, False, quantiles, empty)
    out: dict[str, dict[str, float]] = {}
    seen = set()
    for i in range(stages.size()):
        st = stages.apply(i)
        key = (st.stageId(), st.attemptId())
        group = stage_group.get(st.stageId())
        if group is None or key in seen:
            continue
        seen.add(key)
        acc = out.setdefault(
            group, {"cpu_ms": 0.0, "run_ms": 0.0, "gc_ms": 0.0, "shuffle_bytes": 0.0, "tasks": 0.0}
        )
        acc["cpu_ms"] += st.executorCpuTime() / 1e6
        acc["run_ms"] += float(st.executorRunTime())
        acc["gc_ms"] += float(st.jvmGcTime())
        acc["shuffle_bytes"] += float(st.shuffleWriteBytes())
        acc["tasks"] += float(st.numCompleteTasks())
    return out


def driver_gc_ms(spark) -> float:
    """Cumulative GC time of the driver JVM (local mode: also the executor)."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(beans.get(i).getCollectionTime() for i in range(beans.size())))
