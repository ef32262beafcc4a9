"""Spark session lifetime inside the benchmark's scratch directory:
start (timed), peak memory of the driver and its JVM child, and a stop
that waits for the JVM to exit."""

from __future__ import annotations

import os
import shlex
import signal
import time

CPUS = 4  # the box has 4 cores; local[4], and at most 4 client connections
STOP_TIMEOUT_S = 60.0


def configure_env(scratch: str) -> None:
    """Point every temp/spill/warehouse location of Python, the JVM and
    Spark into ``scratch`` before the JVM starts."""
    import tempfile

    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    # every JVM, spark-submit's launcher included: no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={scratch}/spark-warehouse"),
            # the heap starts at its cap: its growth would otherwise
            # follow GC timing, and with it the JVM's peak RSS
            "--driver-java-options", "-Xms1g",
            "pyspark-shell",
        ]
    )


def start_spark():
    """Tuned session from the package's own builder; returns (spark,
    seconds to a usable session)."""
    from micromegas_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()  # first job: the session is really up
    return spark, time.perf_counter() - t0


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(d))
    return out


def jvm_pids() -> list[int]:
    pids = []
    for c in _children(os.getpid()):
        try:
            with open(f"/proc/{c}/comm") as f:
                if f.read().strip() == "java":
                    pids.append(c)
        except OSError:
            pass
    return pids


def vmhwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, MB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for every child
    process this interpreter started to exit."""
    from pyspark import SparkContext

    jvms = jvm_pids()
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        deadline = time.monotonic() + STOP_TIMEOUT_S
        for pid in jvms:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                try:
                    if os.waitpid(pid, os.WNOHANG)[0] == pid:
                        break
                except ChildProcessError:
                    break
                time.sleep(0.05)
            else:
                if os.path.exists(f"/proc/{pid}"):
                    os.kill(pid, signal.SIGKILL)
                    os.waitpid(pid, 0)
        SparkContext._gateway = None
        SparkContext._jvm = None
