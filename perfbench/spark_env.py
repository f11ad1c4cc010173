"""Spark session lifetime and outside-in Spark counters for the benchmark.

The session comes from the library's own factory (``sketchlib.session``)
with every scratch location pointed inside the benchmark's work directory.
Job, stage and task counts are read from outside the program: through
``SparkContext.statusTracker()`` for every op, and through Spark's status
REST API on localhost for the per-stage data of a traced run (the UI, and
with it the REST server, is enabled only in that run).
"""

from __future__ import annotations

import json
import os
import signal
import time
import urllib.request

from stats import descendants


def start(work: str, cores: int, traced: bool):
    """Start ``local[cores]``; returns the SparkSession."""
    from sketchlib.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the launcher JVM that spark-submit runs first, and the Spark JVM:
    # no hsperfdata files and no temp files outside the work directory
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    extra = {
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if traced else "false",
        "spark.ui.port": "0",
    }
    spark = get_spark("perfbench", master=f"local[{cores}]", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session, end the gateway JVM and wait for every process this
    benchmark started (the JVM and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)  # reap our own children
            except ChildProcessError:
                pass
        time.sleep(0.1)


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group ``group``."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            st = tracker.getStageInfo(s)
            if st is not None and st.numCompletedTasks > 0:  # skipped stages ran nothing
                stages += 1
                tasks += st.numCompletedTasks
    return len(jobs), stages, tasks


class Rest:
    """Minimal client of Spark's status REST API (traced runs only)."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def group_stages(self, group: str, timeout_s: float = 10.0) -> list[dict]:
        """Completed stage attempts of every job in ``group``; waits for the
        status store to catch up with the listener bus."""
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = [j for j in self.get("/jobs") if j.get("jobGroup") == group]
            stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
            stages = [a for s in stage_ids for a in self.get(f"/stages/{s}")]
            done = all(j["status"] != "RUNNING" for j in jobs) and all(
                s["status"] in ("COMPLETE", "SKIPPED", "FAILED") for s in stages
            )
            if done or time.monotonic() > deadline:
                return [s for s in stages if s["status"] == "COMPLETE"]
            time.sleep(0.05)

    def task_skew(self, stage: dict) -> float:
        """max / median task run time of one stage attempt."""
        q = self.get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0"
        )["executorRunTime"]
        return q[1] / q[0] if q[0] > 0 else 1.0
