"""The pinned Spark session the benchmark runs in, and its teardown.

Everything the run writes (shuffle files, temp files, event logs, inputs)
stays under ``<checkout>/.perfbench_work``. Call :func:`prepare_env`
before ``pyspark`` is imported: the JVM reads its environment at launch.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "pprl_scaling_framework_spark"
WORK = ROOT / ".perfbench_work"

#: fixed so the physical plans do not change with the host's core count
SHUFFLE_PARTITIONS = 16
DRIVER_HEAP = "2g"
PROBE_ROWS = 150_000_000


@dataclass
class SessionSpec:
    master: str
    cores: int
    shuffle_partitions: int
    driver_heap: str
    physical_ram_gb: float
    spark_local_dirs: str
    pythonpath: str
    event_log: bool


def _physical_ram_gb() -> float:
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def prepare_env(event_log: bool) -> SessionSpec:
    """Fresh work dir + the environment the JVM and Python workers inherit."""
    if not (PACKAGE / "__init__.py").is_file():
        raise FileNotFoundError(f"package source not found at {PACKAGE}")
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("local", "tmp", "input", "eventlog"):
        (WORK / sub).mkdir(parents=True)
    cores = len(os.sched_getaffinity(0))
    ram = _physical_ram_gb()
    if float(DRIVER_HEAP.rstrip("g")) >= ram:
        raise RuntimeError(f"driver heap {DRIVER_HEAP} is not below {ram:.1f} GB RAM")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    tempfile.tempdir = str(WORK / "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    # the encode/match UDFs are unpickled in worker processes, which import
    # the package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return SessionSpec(
        master=f"local[{cores}]", cores=cores,
        shuffle_partitions=SHUFFLE_PARTITIONS, driver_heap=DRIVER_HEAP,
        physical_ram_gb=round(ram, 1),
        spark_local_dirs=os.environ["SPARK_LOCAL_DIRS"],
        pythonpath=os.environ["PYTHONPATH"], event_log=event_log,
    )


def build(spec: SessionSpec):
    from pprl_scaling_framework_spark.sources.session import build_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        # no hsperfdata under /tmp; JVM temp files stay in the work dir
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_HEAP} -XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}",
    }
    if spec.event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (WORK / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_session(
        "perfbench", master=spec.master,
        shuffle_partitions=spec.shuffle_partitions,
        prefer_shuffled_hash=True, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def host_probe(spark) -> float:
    """Seconds for a pure-codegen xxhash64 sum over ``spark.range``: no
    Python, no shuffle, no disk — it moves only with the host's speed."""
    from pyspark.sql import functions as F

    s = time.perf_counter()
    spark.range(0, PROBE_ROWS, 1, spark.sparkContext.defaultParallelism * 2).select(
        F.sum(F.pmod(F.xxhash64("id"), F.lit(1000)))
    ).collect()
    return time.perf_counter() - s


def event_log_file(app_id: str) -> Path:
    """The finished (stopped-session) event log of one application."""
    path = WORK / "eventlog" / app_id
    if not path.is_file():
        raise RuntimeError(f"no finished event log at {path}")
    return path


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until every child has ended."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    reap_children()


def reap_children(timeout_s: float = 15.0) -> None:
    """Wait for every descendant to exit; SIGKILL what is left after
    ``timeout_s``, and raise if even that does not end them."""
    from proctree import tree_pids

    deadline = time.monotonic() + timeout_s
    killed = False
    while left := [p for p in tree_pids() if p != os.getpid()]:
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"child processes did not exit: {left}")
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed, deadline = True, time.monotonic() + timeout_s
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)  # reaps our own children only
            except ChildProcessError:
                pass
        time.sleep(0.1)
