"""Fit the Spark session to the host and describe the host in results.

Only the engine's existing environment knobs are set: the session runs
``local[nproc]`` with ``nproc`` shuffle partitions
(``SPARK_GRAFT_CPUS``), a JVM heap well below host memory
(``SPARK_GRAFT_DRIVER_MEM``; the engine's default of 16g is larger than
a 15 GB host), and Spark's local directories under the run's work directory
(``SPARK_LOCAL_DIRS``). Python temp files go there too, so a run writes
nowhere outside its checkout.
"""

from __future__ import annotations

import json
import os
import resource
import subprocess
import tempfile


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb() -> int:
    return max(1024, min(4096, mem_total_mb() // 4))


def configure(work_dir: str) -> None:
    """Set the knobs; call before the engine's session module is imported."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_mb()}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp


def session_conf(work_dir: str) -> dict[str, str]:
    """Extra session settings that keep the JVM's files in the work dir:
    its temp dir, and no ``hsperfdata`` file (always under /tmp)."""
    tmp = os.path.join(work_dir, "tmp")
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
    }


def host() -> dict:
    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": mem_total_mb(),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
    }


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the Spark JVM (``VmHWM``) plus this
    Python process."""
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def stop_jvm() -> None:
    """Shut down the Spark JVM this process launched and wait for it.
    The JVM exits when its standard input closes. The next session
    this process builds launches a fresh JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def calibration(spark, work_dir: str) -> dict:
    """``bench.calibration_suite`` for this host, measured once per
    work directory (it takes tens of seconds) and reused after."""
    path = os.path.join(work_dir, "calibration.json")
    key = host()
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
        if cached.get("host") == key:
            return cached["suite"]
    import bench
    from tables import write_calibration_tables

    cal_dir = os.path.join(work_dir, "calibration")
    write_calibration_tables(cal_dir)
    suite = bench.calibration_suite(spark, cal_dir)
    with open(path + ".tmp", "w") as f:
        json.dump({"host": key, "suite": suite}, f)
    os.replace(path + ".tmp", path)
    return suite
