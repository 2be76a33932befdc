"""Host-sized Spark sessions for the benchmark, plus the host stamp.

The package is shipped to the Python workers the way ``spark-submit
--py-files`` ships it: a zip built from the checkout's source, added with
``SparkContext.addPyFile``. Every scratch file Spark or the JVM writes
(local dirs, tmpdir, warehouse, event log) lands under the run's work
directory inside the checkout.
"""

from __future__ import annotations

import os
import platform
import subprocess
import zipfile

PACKAGE = "azure_pdf_parser_spark"


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """A quarter of the host's RAM, at most 2 GB: the job's inputs here are
    tens of MB, and the host is shared."""
    return min(2048, host_ram_mb() // 4)


def build_package_zip(root: str, build_dir: str) -> str:
    """Zip ``<root>/azure_pdf_parser_spark`` (sources only) for the workers."""
    src = os.path.join(root, PACKAGE)
    if not os.path.isfile(os.path.join(src, "__init__.py")):
        raise FileNotFoundError(f"package source {PACKAGE}/ not found under {root}")
    os.makedirs(build_dir, exist_ok=True)
    out = os.path.join(build_dir, f"{PACKAGE}.zip")
    tmp = out + f".{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, dirnames, filenames in os.walk(src):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for name in sorted(filenames):
                if name.endswith(".py"):
                    full = os.path.join(dirpath, name)
                    z.write(full, os.path.relpath(full, root))
    os.replace(tmp, out)
    return out


def start(cores: int, work: str, py_zip: str, event_log: str | None = None):
    """A ``local[cores]`` session configured like the production job
    (AQE on), with scratch space under ``work``."""
    from pyspark.sql import SparkSession

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"perfbench-local{cores}")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        # no hsperfdata file under /tmp: scratch stays inside the checkout
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={local} -XX:-UsePerfData")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.dir", "file://" + os.path.abspath(event_log)))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addPyFile(py_zip)
    return spark


def shutdown(spark) -> None:
    """Stop the session (if any), then the JVM the gateway launched, and
    wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin (the launcher's pipe) closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of all CPUs since boot, from /proc/stat: on
    a virtual machine, steal is time the host gave to other guests."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True,
                             timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    first = (out.stderr or out.stdout).splitlines()
    return first[0].strip() if first else "unknown"


def host_stamp(cores: int) -> dict:
    import pyspark

    return {
        "nproc": host_cores(),
        "ram_mb": host_ram_mb(),
        "cores_used": cores,
        "driver_memory_mb": driver_memory_mb(),
        "spark": pyspark.__version__,
        "java": java_version(),
        "python": platform.python_version(),
    }
