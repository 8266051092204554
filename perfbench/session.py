"""Spark session lifetime for the benchmark: one ``local[nproc]`` process
whose files all land under ``.perfbench/`` in the checkout."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
TMP = os.path.join(WORK, "tmp")
JOB = os.path.join(ROOT, "jobs", "run_corpus_pipeline.py")

# sized for a 15 GB, 4-CPU host: the composed corpus job's components
# loop needs more than the 1g default heap
DRIVER_MEMORY = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def checkout_present() -> bool:
    return os.path.isdir(os.path.join(ROOT, "json_remedy_spark")) and os.path.isfile(JOB)


def prepare_env() -> None:
    """Route temp files into ``.perfbench/tmp`` and let the Python
    workers import the package from this checkout."""
    import tempfile

    os.makedirs(os.path.join(TMP, "java"), exist_ok=True)
    os.environ["TMPDIR"] = TMP
    # the spark-submit launcher JVM: no /tmp/hsperfdata, temp files here
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={TMP}/java"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(TMP, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = TMP
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start(max_file_bytes: int):
    from pyspark.sql import SparkSession

    n = nproc()
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={TMP}/java -XX:-UsePerfData",
        "spark.local.dir": os.path.join(TMP, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(TMP, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(2 * n),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # one split per input file: inputs are written as 4 x nproc
        # files, and files never pack together below the 4 MB open cost
        "spark.sql.files.maxPartitionBytes": str(max_file_bytes),
    }
    b = SparkSession.builder.master(f"local[{n}]").appName("perfbench")
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> list:
    """Stop the session, end its JVM and wait until the JVM and every
    Python worker it forked have exited, so that the next cold set-up
    (or the next run) starts on an idle host instead of overlapping a
    dying JVM.  Returns the pids that had to be killed."""
    import procs
    from pyspark import SparkContext

    before = procs.descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # the next SparkSession launches a fresh JVM
        SparkContext._gateway = None
        SparkContext._jvm = None
    return procs.wait_gone(before, timeout=20)


def job_counts(sc, group: str) -> dict:
    """Jobs, stages and tasks Spark ran under one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    ran = [s for s in (st.getStageInfo(i) for i in stages) if s is not None and s.numCompletedTasks]
    return {
        "jobs": len(jobs),
        "stages": len(ran),
        "tasks": sum(s.numCompletedTasks for s in ran),
    }
