"""Run isolation, host-derived resources and result stamps.

Every path the engine writes — index store, staging, landing,
``spark-warehouse``, Spark local dirs, JVM and Python temp files — is put
under one fresh directory inside the checkout, so no state survives from
one run to the next and nothing outside the checkout is touched. Cores
and driver memory come from the host, through the environment variables
``session.get_spark`` already reads.
"""

from __future__ import annotations

import os
import platform
import shlex
import subprocess
import time

MEM_FRACTION = 0.125  # of MemTotal, for the driver heap


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def meminfo_mb(field: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(f"{field}:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError(f"no {field} in /proc/meminfo")


def isolate(work: str) -> dict:
    """Point every writer at ``work`` and size the session to the host.
    Must run before the JVM starts and before ``tempfile`` is first used."""
    dirs = {k: os.path.join(work, k) for k in
            ("tmp", "local", "warehouse", "index", "data")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    cpus = host_cpus()
    # MemTotal, not MemAvailable: the heap limit must not depend on what
    # the host happened to have free when the run began
    driver_mb = max(1024, int(meminfo_mb("MemTotal") * MEM_FRACTION))
    checkout = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}"
    confs = {
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job, stage and SQL execution of the
        # timed region back from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    submit = " ".join(f"--conf {shlex.quote(f'{k}={v}')}"
                      for k, v in confs.items())
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_GRAFT_INDEX_DIR": dirs["index"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
        "JAVA_TOOL_OPTIONS": java_opts,
        "PYSPARK_SUBMIT_ARGS": f"{submit} pyspark-shell",
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (checkout, os.environ.get("PYTHONPATH")) if p),
        "OMP_NUM_THREADS": str(cpus),
    })
    return {"dirs": dirs, "cpus": cpus, "driver_mem_mb": driver_mb,
            "checkout": checkout}


def start_session():
    """The package's own session factory, timed."""
    from e_commerce_etl_pipeline_spark.session import get_spark

    t0 = time.time()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.time() - t0


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM (and with it the Python workers) and
    wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=0.5)
        except subprocess.TimeoutExpired:
            # Spark has stopped; the JVM's own shutdown hooks can take
            # another 8 s, and nothing of the run is left in it
            proc.kill()
            proc.wait()


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return 0
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the JVM plus this driver process."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024


CALIB_ROWS = 100_000_000


def calibrate(spark) -> float:
    """The fixed CPU-bound job of ``bench.py`` at a twentieth of its rows
    (the full job takes ~10 s on 4 cores): median of three, in seconds."""
    times = []
    for _ in range(3):
        t0 = time.time()
        spark.range(CALIB_ROWS).selectExpr(
            "sum(id * 2654435761 % 1000000007)").collect()
        times.append(time.time() - t0)
    return sorted(times)[1]


def commit(checkout: str) -> str:
    try:
        out = subprocess.run(
            ["git", "-C", checkout, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10,
            # a checkout that is not a repository must not report the
            # commit of a repository around it
            env={**os.environ,
                 "GIT_CEILING_DIRECTORIES": os.path.dirname(checkout)})
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def stamps(spark, info: dict, calib_s: float) -> dict:
    import pyspark

    return {
        "cpus": info["cpus"],
        "driver_mem_mb": info["driver_mem_mb"],
        "mem_total_mb": meminfo_mb("MemTotal"),
        "mem_available_mb": meminfo_mb("MemAvailable"),
        "calib_s": calib_s,
        "calib_rows": CALIB_ROWS,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "commit": commit(info["checkout"]),
    }
