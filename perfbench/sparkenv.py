"""Spark-side plumbing: launch environment, the session, per-op job
metrics from the status store, and the frozen calibration probe.

:func:`launch_env` must run before ``pyspark`` or the program is
imported: it decides where every temp file goes and what Spark's Python
workers can import.
"""

from __future__ import annotations

import os
import shlex
import time

GIB = 1 << 30


def cpu_count() -> int:
    """Cores this process may run on (``nproc`` without the
    ``OMP_NUM_THREADS`` override)."""
    return len(os.sched_getaffinity(0))


def driver_mem_mb() -> int:
    """A quarter of physical RAM, at most 1.5 GiB: the machine is shared
    and the inputs are small, while ``get_spark`` defaults to 16g."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return int(min(3 * GIB // 2, phys // 4) // (1 << 20))


def launch_env(root: str, tmp: str) -> dict[str, str]:
    """Point every temp location of the driver, the JVM and the Python
    workers under ``tmp``; put ``root`` on the workers' import path;
    silence console progress bars.  Returns the settings it made."""
    os.makedirs(tmp, exist_ok=True)
    mem = f"{driver_mem_mb()}m"
    confs = {
        "spark.ui.showConsoleProgress": "false",
        # the whole heap committed and touched at start: a heap that grows
        # as the collector sees fit put 30-40 % of noise into peak_rss_mb
        "spark.driver.extraJavaOptions": f"-Xms{mem} -XX:+AlwaysPreTouch",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    submit = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    path = os.environ.get("PYTHONPATH", "")
    env = {
        "PYTHONPATH": root + (os.pathsep + path if path else ""),
        "TMPDIR": tmp,
        # every JVM, spark-submit's launcher too: temp files under tmp, and
        # no /tmp/hsperfdata_<user> entry
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_LOCAL_DIRS": confs["spark.local.dir"],
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": mem,
        "PYSPARK_SUBMIT_ARGS": f"{submit} pyspark-shell",
    }
    os.environ.update(env)
    return env


def start_session():
    """The program's own session factory, on ``local[<cores>]``."""
    from pu4spark_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def reset_session_state(spark) -> None:
    """Between ops of different queries: drop caches and temp views a
    query left behind (bench.py's per-query hygiene)."""
    spark.catalog.clearCache()
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)


#: per-job counters read from the status store (stage metrics summed)
JOB_FIELDS = (
    "stages",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


class JobLedger:
    """Reads the Spark jobs started since the previous call from the
    status store, newest first so only new jobs are visited.  A stage
    shared by several jobs is counted with the first job that ran it."""

    def __init__(self, spark):
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.seen_stages: set[int] = set()
        it = self.store.jobsList(None).iterator()
        self.last_job = it.next().jobId() if it.hasNext() else -1

    def take(self) -> list[dict]:
        """One dict per new job, oldest first: ``id``, ``start``/``end``
        (epoch seconds) and the :data:`JOB_FIELDS` counters."""
        jobs = []
        it = self.store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            if j.jobId() <= self.last_job:
                break
            sub, comp = j.submissionTime(), j.completionTime()
            job = dict.fromkeys(JOB_FIELDS, 0)
            job["id"] = j.jobId()
            job["start"] = sub.get().getTime() / 1000.0 if sub.isDefined() else None
            job["end"] = comp.get().getTime() / 1000.0 if comp.isDefined() else None
            stage_ids = j.stageIds()
            for k in range(stage_ids.size()):
                self._add_stage(int(stage_ids.apply(k)), job)
            jobs.append(job)
        if jobs:
            self.last_job = jobs[0]["id"]
        jobs.reverse()
        return jobs

    def _add_stage(self, sid: int, job: dict) -> None:
        if sid in self.seen_stages:
            return
        try:
            s = self.store.lastStageAttempt(sid)
        except Exception:  # py4j error: the stage never ran (skipped)
            return
        if s.status().toString() == "SKIPPED":
            return
        self.seen_stages.add(sid)
        job["stages"] += 1
        job["tasks"] += s.numTasks()
        job["executor_run_ms"] += s.executorRunTime()
        job["executor_cpu_ms"] += s.executorCpuTime() / 1e6
        job["gc_ms"] += s.jvmGcTime()
        job["shuffle_read_bytes"] += s.shuffleReadBytes()
        job["shuffle_write_bytes"] += s.shuffleWriteBytes()
        job["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()


def nonjob_seconds(start: float, end: float, intervals) -> float:
    """``end - start`` minus the union of the job intervals inside it."""
    clipped = sorted(
        (max(a, start), min(b, end)) for a, b in intervals if b > start and a < end
    )
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return max(0.0, (end - start) - covered)


def calib_probe(spark, lineitem_path: str) -> float:
    """Best-of-2 seconds of bench.py's frozen sf0.01 scan-agg probe, run
    over ``lineitem_path`` (a fixed-seed sf0.01 lineitem table)."""
    from bench import _CALIB_QUERIES

    sql = _CALIB_QUERIES["calib_scan_agg"].format(li=f"parquet.`{lineitem_path}`")
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        spark.sql(sql).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)
