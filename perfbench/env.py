"""Environment pinning shared by every workload.

The benchmark runs from the root of a checkout.  Everything it writes
(sink output, checkpoints, Spark scratch, the event log) goes under
``WORK``; nothing is written outside the checkout.
"""

from __future__ import annotations

import glob
import hashlib
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
NPROC = os.cpu_count() or 1
#: Driver heap for a 15 GB host that other jobs share.
DRIVER_MEMORY = "4g"

if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


def code_version() -> str:
    """Digest of the engine package and the benchmark's own files: the code
    a result was measured on (a checkout need not be a git repository)."""
    h = hashlib.sha256()
    for pattern in ("bigdata_covid19_real_time_spark/**/*.py", "perfbench/*.py"):
        for path in sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode() + b"\0")
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def fresh_work_dir() -> str:
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    return WORK


def start_session(event_log: bool, shuffle_partitions: int, extra: dict | None = None):
    """Start the engine's session with pinned settings; return it and the
    seconds the start took."""
    # Python workers must import the engine (UDF paths do).
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")
    # no hsperfdata files in /tmp from the JVMs this process starts
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    from bigdata_covid19_real_time_spark.session import get_spark

    conf = {
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.local.dir": os.path.join(WORK, "tmp"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
        " -Dderby.system.home=" + os.path.join(WORK, "tmp"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.ui.showConsoleProgress": "false",
    }
    conf.update(extra or {})
    if event_log:
        os.makedirs(os.path.join(WORK, "eventlog"), exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(WORK, "eventlog")
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{NPROC}]",
        driver_memory=DRIVER_MEMORY,
        shuffle_partitions=shuffle_partitions,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait until the driver JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits when its stdin closes ...
    try:
        proc.wait(timeout=5)
    except subprocess.TimeoutExpired:
        proc.terminate()  # ... or, failing that, on SIGTERM
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def versions(spark) -> dict:
    jvm = spark._jvm
    return {
        "nproc": NPROC,
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_memory": DRIVER_MEMORY,
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
    return (_hwm_kb(jvm_pid) + _hwm_kb(os.getpid())) / 1024.0
