"""Session start-up, the pinned run environment, and the measurements read
from the JVM and Spark's event log.

Everything the run writes (Spark scratch, event log, warehouse, Python
temp files) lands under one work directory inside the checkout.
"""

from __future__ import annotations

import glob
import json
import os
import resource
import tempfile
import time
from collections import defaultdict

# driver heap: fixed and pre-touched, so the JVM's resident size does not
# follow G1's run-to-run heap-sizing choices; heap demand shows in
# jvm.heap_used_mb and jvm.gc_s instead
DRIVER_HEAP = "3g"


def pin_environment(work_dir: str, root: str) -> dict[str, str]:
    """Pin the run environment before any Spark or temp-file use: Spark
    cores for half the CPUs, a driver heap that fits a small box, no
    console progress bars, and all scratch space inside ``work_dir``.

    Half, because the JVM's JIT compiler threads keep about 1.5 CPUs busy
    through a whole run (every statement execution loads new generated
    classes), and the Python workers and the driver need the rest; with a
    task thread per CPU the run measures the scheduler."""
    cpus = str(max(1, len(os.sched_getaffinity(0)) // 2))
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_DRIVER_MEM": DRIVER_HEAP,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        # Python workers (UDFs, Python data sources) import the package
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
        # no hsperfdata files under /tmp from spark-submit's launcher JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    os.environ.update(env)
    tempfile.tempdir = None      # re-read TMPDIR
    return env


def spark_conf(work_dir: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work_dir, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch",
    }
    if trace:
        log_dir = os.path.join(work_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return conf


def start_session(work_dir: str, trace: bool):
    from clickhouse_datafusion_spark.session import get_spark

    spark = get_spark(app_name="perfbench",
                      extra_conf=spark_conf(work_dir, trace))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for both to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:           # already stopped
        return
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


# -- calibration ---------------------------------------------------------

def calibrate() -> float:
    """Median wall time (ms) of a fixed pure-Python kernel: a box-speed
    probe taken before and after each run."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        times.append((time.perf_counter() - t0) * 1000.0)
    return sorted(times)[2]


def cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters of ``/proc/stat`` (in ticks)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return []


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share (%) of CPU time the hypervisor gave to other guests between
    two ``cpu_ticks`` readings: the other half of the box-state label."""
    delta = [b - a for a, b in zip(before, after)]
    return 100.0 * delta[7] / sum(delta) if len(delta) > 7 and sum(delta) else 0.0


# -- JVM -----------------------------------------------------------------

class JvmProbe:
    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._mf = jvm.java.lang.management.ManagementFactory
        self._pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def gc_seconds(self) -> float:
        beans = self._mf.getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0

    def heap_used_mb(self) -> float:
        return self._mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20

    def peak_rss_mb(self) -> tuple[float, float]:
        """(JVM ``VmHWM``, this Python driver's ``ru_maxrss``) in MB."""
        hwm_kb = 0
        with open(f"/proc/{self._pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    hwm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return hwm_kb / 1024.0, py_kb / 1024.0


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase durations (ms) from the DataFrame's own
    ``QueryPlanningTracker``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# -- event log -------------------------------------------------------------

def read_event_log(work_dir: str) -> dict[str, dict[str, float]]:
    """Per job group (``"<op>|<span>"``): jobs, stages, tasks, failed
    tasks, executor CPU seconds, shuffle bytes written and bytes spilled.
    Call after the session has stopped, when the log is complete."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in glob.glob(os.path.join(work_dir, "eventlog", "*")):
        stage_group: dict[int, str] = {}     # stage ids restart per app
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group:
                        continue
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_group:
                        out[stage_group[sid]]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    acc = out[group]
                    acc["tasks"] += 1
                    if ev.get("Task End Reason", {}).get("Reason") != "Success":
                        acc["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {})
                        .get("Shuffle Bytes Written", 0))
                    acc["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
    return out
