"""Engine lifetime for one benchmark run: the working directory, the
session confs, a timed session start and a clean shutdown that waits
for the driver JVM to exit."""

from __future__ import annotations

import os
import shutil
import subprocess
import time

CORES = len(os.sched_getaffinity(0))


# The driver heap the benchmark gives the engine. The program's default
# is 8g; 3g caps the driver JVM's memory on a host whose memory other
# work shares.
DRIVER_MEM = "3g"


def prepare_env(work: str) -> dict[str, str]:
    """Pin the engine's settings and keep every temporary file inside the
    run's working directory. Every ``SPARK_GRAFT_*`` variable of the
    caller is cleared, so only the settings returned here differ from
    the program's defaults. Must run before pyspark launches its JVM."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    settings = {"SPARK_GRAFT_CPUS": str(CORES), "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM}
    os.environ.update(settings)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM pyspark starts (the launcher and the driver): temp files
    # here, and no /tmp/hsperfdata_* performance-counter file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # scratch space for shuffle and spill files (overrides spark.local.dir)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return settings


def session_conf(work: str, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(conf: dict[str, str]):
    """Create the engine's session the way the service does, once per
    process: the call launches the driver JVM and starts its
    SparkContext. Returns (session, start, end) on the perf_counter
    clock."""
    from kafka2clickhouse_py_streamer_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t0, t1


def shutdown_active() -> None:
    """Stop the active session and the driver JVM, and wait for the JVM
    (and with it every Python worker it forked) to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
