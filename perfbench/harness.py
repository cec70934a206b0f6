"""Process, JVM and host readings shared by the benchmark's modules."""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import time

PROBE_LOOPS = 3_000_000
_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def cpu_probe() -> float:
    """A fixed single-thread Python loop: the host's noise floor."""
    t0 = time.perf_counter()
    x = 0
    for i in range(PROBE_LOOPS):
        x += i & 7
    return time.perf_counter() - t0


def _children() -> dict:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts, so a
    descendant whose parent ends (a PySpark daemon after the JVM, a worker
    after its daemon) is re-parented here and ``stop_descendants`` can wait
    for it."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0,
                                            0)


def descendants(pid: int) -> list[int]:
    """Pids of every process under ``pid``."""
    kids, found, stack = _children(), [], [pid]
    while stack:
        for child in kids.get(stack.pop(), ()):
            stack.append(child)
            found.append(child)
    return found


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 10.0) -> None:
    """Stop every process this run started and wait until each has ended:
    the multiprocessing resource tracker is closed as its module does it;
    anything else left gets SIGTERM, and SIGKILL after ``grace_s``."""
    from multiprocessing import resource_tracker
    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop:
        stop()
    deadline, sig, seen = time.monotonic() + grace_s, signal.SIGTERM, set()
    while True:
        _reap()
        pids = descendants(os.getpid())
        if not pids:
            if seen:
                log(f"stopped {len(seen)} leftover processes")
            return
        seen.update(pids)
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def python_workers(jvm_pid: int) -> list[int]:
    """Pids of the Python worker processes (and their daemon) under the
    JVM."""
    found = []
    for pid in descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark" in f.read():
                    found.append(pid)
        except OSError:
            continue
    return found


def start_session(cores: int, work: str, event_dir: str | None):
    from pyspark import SparkContext

    from vlm_ocr_doc_reader_spark.sources.session import get_spark
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "4g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep the JVM's temp files in the work directory and its perf
        # counters in memory (no /tmp/hsperfdata file)
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            "-XX:+PerfDisableSharedMem",
    }
    if event_dir:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false"})
    spark = get_spark(master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, SparkContext._gateway.proc


def stop_session(spark, proc) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def gc_seconds(spark) -> float:
    mx = spark._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime()
               for b in mx.getGarbageCollectorMXBeans()) / 1000


def jit_seconds(spark) -> float:
    mx = spark._jvm.java.lang.management.ManagementFactory
    return mx.getCompilationMXBean().getTotalCompilationTime() / 1000


