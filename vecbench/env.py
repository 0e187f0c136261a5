"""Process hygiene: where Spark writes, how the session starts and stops,
and the few measurements taken from the process rather than a call."""

from __future__ import annotations

import os
import shlex
import time
from pathlib import Path


def prepare(root: Path, work: Path) -> None:
    """Point every writer of the run under ``work`` and make the engine
    importable in Spark's Python workers. Must run before the first
    pyspark import starts a JVM."""
    for sub in ("local", "tmp", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # workers start from a fresh interpreter in another cwd: without the
    # repo root on PYTHONPATH they fail to import faiss_metal_spark
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # bounds the driver heap on a shared host; the working set is tens of MB
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # every JVM of the run, the spark-submit launcher too, keeps its
    # temp files and perf data out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={work / 'warehouse'}"),
        "pyspark-shell",
    ])


def start_session(cpus: int):
    """(session, seconds to start it) through the engine's factory."""
    from faiss_metal_spark import get_spark

    t = time.perf_counter()
    spark = get_spark("vecbench", cpus=cpus)
    dt = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    return spark, dt


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def empty_job_ms(spark, n: int = 7) -> float:
    """Median wall time of a trivial one-task job: the per-job floor."""
    import statistics

    times = []
    for _ in range(n):
        t = time.perf_counter()
        spark.range(0, 1, 1, 1).count()
        times.append((time.perf_counter() - t) * 1e3)
    return statistics.median(times)


def _hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver's Python process plus its JVM."""
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    return (_hwm_kb("self") + _hwm_kb(jvm_pid)) / 1024.0


def release(*dfs) -> None:
    """Blocking unpersist: the blocks are gone before the next step is timed."""
    for df in dfs:
        df.unpersist(blocking=True)


def jvm_gc(spark) -> None:
    """A full JVM gc between phases, so the context cleaner drops what the
    last phase left behind before the next one is timed. Not run between
    timed steps: the heap activity right after a full gc slows the next
    step by a varying amount."""
    spark._jvm.System.gc()
