"""Run isolation, the shared Spark session, counters read from outside the
engine, and the closed loop."""

from __future__ import annotations

import os
import shutil
import subprocess
import threading
import time
import uuid
from dataclasses import dataclass, field


class RunRoot:
    """A fresh directory for everything one run writes: warehouse, Derby
    home, Spark local dirs, temp files, checkpoints, landing and index
    dirs. Removed on close, so no run inherits tables or checkpoints."""

    def __init__(self, base: str):
        self.path = os.path.join(base, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
        for sub in ("warehouse", "derby", "local", "tmp", "data"):
            os.makedirs(os.path.join(self.path, sub))
        # the JVMs inherit these: temp files and Spark's scratch space land
        # here, and no hsperfdata file is written to /tmp
        os.environ["TMPDIR"] = os.path.join(self.path, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.path, "local")
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


# a fixed-size heap (-Xms = -Xmx) keeps the JVM's peak RSS from depending
# on when the heap happened to grow
JVM_HEAP = "1g"


def start_session(root: RunRoot, cpus: int):
    """The engine's own get_spark, pointed at the run root."""
    from sparkfulltextquery_spark.session import get_spark

    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    java_opts = (
        f"-Xms{JVM_HEAP} "
        f"-Dderby.system.home={root.sub('derby')} "
        f"-Djava.io.tmpdir={root.sub('tmp')}"
    )
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": root.sub("warehouse"),
            "spark.local.dir": root.sub("local"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------- counters read from outside the engine ----------------


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(spark) -> tuple[float, float]:
    """VmHWM of this Python process and of the gateway JVM, in MB."""
    return _vm_hwm_kb("self") / 1024.0, _vm_hwm_kb(jvm_pid(spark)) / 1024.0


def gc_ms(spark) -> int:
    """Total collection time of every JVM garbage collector, in ms."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(int(b.getCollectionTime()) for b in beans)


def job_group_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, tasks, failed tasks) of one job group, from statusTracker."""
    st = spark.sparkContext.statusTracker()
    jobs = tasks = failed = 0
    for jid in st.getJobIdsForGroup(group):
        jobs += 1
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            si = st.getStageInfo(sid)
            if si:
                tasks += si.numTasks
                failed += si.numFailedTasks
    return jobs, tasks, failed


# ---------------- host speed ----------------

CALIBRATION_STEPS = 100_000


def calibrate() -> float:
    """Seconds the host takes, right now, for a fixed piece of
    single-threaded pure-Python arithmetic (about 10 ms on a 4-vCPU Intel
    Xeon VM). The engine plays no part in it, so it moves only with the
    host's speed."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(CALIBRATION_STEPS):
        acc += i * i % 7
    return time.perf_counter() - t0


# ---------------- closed loop ----------------


@dataclass
class OpRecord:
    op: int
    item: object
    start: float
    end: float
    error: str | None = None
    result: object = None
    extra: dict = field(default_factory=dict)
    calib_s: float = 0.0


def closed_loop(
    n_clients: int, seconds: float, items, run_op, calib: bool = False
) -> tuple[list[OpRecord], float]:
    """Each of ``n_clients`` threads takes the next (op_id, item) from the
    ``items`` iterator and calls ``run_op(op_id, item) -> (result, extra)``,
    starting a new operation only after its previous one finished, until
    ``seconds`` have passed. With ``calib`` each operation is followed by
    one untimed-for-the-operation calibrate(), kept in its record. Returns
    the records and the wall time from start to the last finish."""
    lock = threading.Lock()
    records: list[OpRecord] = []
    t0 = time.perf_counter()
    deadline = t0 + seconds

    def client():
        while time.perf_counter() < deadline:
            with lock:
                nxt = next(items, None)
            if nxt is None:
                return
            op, item = nxt
            rec = OpRecord(op, item, time.perf_counter(), 0.0)
            try:
                rec.result, rec.extra = run_op(op, item)
            except Exception as exc:  # a failed operation is counted, not fatal
                rec.error = f"{type(exc).__name__}: {exc}"
            rec.end = time.perf_counter()
            if calib:
                rec.calib_s = calibrate()
            with lock:
                records.append(rec)

    threads = [threading.Thread(target=client, daemon=True) for _ in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    records.sort(key=lambda r: r.op)
    return records, max((r.end for r in records), default=t0) - t0

