"""Shared harness pieces: launch environment, Spark session, set-up
timing, percentiles, the topic-file poller and Spark status-store
counters."""

from __future__ import annotations

import math
import os
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NPROC = len(os.sched_getaffinity(0))
#: set-ups per run; ``setup_s`` is their median
SETUPS = 3


def prepare_env(tmp: str) -> None:
    """Self-contained launch: every process Spark starts (JVM, Python
    workers, data-source runners) imports the checkout's package and
    keeps its scratch files inside ``tmp``."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # -XX:-UsePerfData: no hsperfdata file outside ``tmp``
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-memory 2g --conf \"spark.driver.extraJavaOptions="
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData\" pyspark-shell")


def start_spark(tmp: str):
    from galaxy_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{NPROC}]", extra_conf={
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop every streaming query, the session and the driver JVM,
    and wait for the JVM (and with it the Python workers) to end."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()     # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def host_info(spark) -> dict:
    """nproc, versions and a single-core interpreter canary, so a
    reader can tell a host change from a program change."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i & 7
    py_loop = time.perf_counter() - t0
    jvm = spark.sparkContext._jvm
    return {"nproc": NPROC, "spark": spark.version,
            "java": jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "py_loop_s": round(py_loop, 4)}


def timed_setups(setup_once, teardown) -> tuple[list[float], object]:
    """Run ``setup_once`` SETUPS times in one session, tearing down all
    but the last; returns (durations, last state). The first set-up
    runs cold."""
    times, state = [], None
    for i in range(SETUPS):
        if state is not None:
            teardown(state)
        t0 = time.perf_counter()
        state = setup_once(i)
        times.append(time.perf_counter() - t0)
    return times, state


def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100])."""
    v = sorted(values)
    if not v:
        return float("nan")
    return v[max(0, math.ceil(q / 100 * len(v)) - 1)]


def median(values) -> float:
    return statistics.median(values) if values else float("nan")


def rss_peak_mb(spark) -> float:
    """Peak resident set of this process plus the driver JVM."""
    import resource

    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    jvm = 0.0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        try:
            with open(f"/proc/{proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm = int(line.split()[1]) / 1024
        except OSError:
            pass
    return own + jvm


class TopicPoller(threading.Thread):
    """Watches a topic_files sink directory and records when each
    published file became visible. ``on_file(path, t)`` runs in this
    thread for every newly published file."""

    #: seconds between directory scans
    INTERVAL = 0.01

    def __init__(self, path: str, on_file) -> None:
        super().__init__(daemon=True)
        self.path, self.on_file = path, on_file
        self.seen: set[str] = set()
        self._halt = threading.Event()

    def scan(self) -> None:
        if not os.path.isdir(self.path):
            return
        now = time.perf_counter()
        for topic in os.listdir(self.path):
            d = os.path.join(self.path, topic)
            for name in os.listdir(d):
                if ".tmp-" in name or not name.endswith(".jsonl"):
                    continue
                full = os.path.join(d, name)
                if full not in self.seen:
                    self.seen.add(full)
                    self.on_file(full, now)

    def run(self) -> None:
        while not self._halt.is_set():
            self.scan()
            time.sleep(self.INTERVAL)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=10)
        self.scan()


class SparkCounters:
    """Job/stage totals from Spark's own status store (py4j; works
    with the UI disabled). ``delta(before)`` gives the work done
    between two snapshots."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm

    def snapshot(self) -> dict:
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        job_ids = [jobs.apply(i).jobId() for i in range(jobs.size())]
        stages = store.stageList(None, False, False,
                                 self.sc._gateway.new_array(
                                     self.jvm.double, 0), None)
        st = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            st[(s.stageId(), s.attemptId())] = (
                s.executorRunTime(), s.executorCpuTime(),
                s.shuffleReadBytes() + s.shuffleWriteBytes(),
                s.memoryBytesSpilled() + s.diskBytesSpilled())
        return {"jobs": set(job_ids), "stages": st}

    @staticmethod
    def delta(before: dict, after: dict, wall: float) -> dict:
        new = {k: v for k, v in after["stages"].items()
               if k not in before["stages"]}
        run_ms = sum(v[0] for v in new.values())
        return {
            "jobs": len(after["jobs"] - before["jobs"]),
            "stages": len(new),
            "executor_run_s": run_ms / 1000,
            "executor_cpu_s": sum(v[1] for v in new.values()) / 1e9,
            "shuffle_bytes": sum(v[2] for v in new.values()),
            "spill_bytes": sum(v[3] for v in new.values()),
            "utilisation": (run_ms / 1000) / (wall * NPROC)
            if wall > 0 else 0.0,
        }
