"""The benchmark's Spark session, derived from the host it runs on, plus the
two readers it needs from outside Spark's own API: peak RSS of the JVM and
its Python workers (from /proc) and per-stage counters (from the Spark UI's
REST API, traced runs only).

Everything the session writes (shuffle files, JVM and Python temp files)
stays under the work directory the caller passes in.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import urllib.request
from datetime import datetime, timezone

# share of MemTotal given to the JVM heap (local mode runs the executors in it)
DRIVER_MEM_SHARE = 0.25
RSS_SAMPLE_S = 0.2


def host_profile() -> dict:
    """Cores from the affinity mask, shuffle partitions equal to the cores,
    JVM heap as a share of MemTotal."""
    cores = len(os.sched_getaffinity(0))
    mem_total_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_total_kb = int(line.split()[1])
                break
    mem_total_mb = mem_total_kb // 1024
    return {
        "cores": cores,
        "shuffle_partitions": cores,
        "mem_total_mb": mem_total_mb,
        "driver_memory_mb": max(1024, int(mem_total_mb * DRIVER_MEM_SHARE)),
    }


def start_session(host: dict, work_dir: str, repo_root: str, ui: bool):
    """Local session on ``host["cores"]`` threads. ``ui`` turns the Spark UI
    (and so its REST API) on, on a free port; timed runs keep it off."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # inherited by the spark-submit JVM and the Python workers it forks
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = repo_root + (os.pathsep + path if path else "")

    from pyspark.sql import SparkSession

    cores = host["cores"]
    conf = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("rapidfuzz-spark-perfbench")
        .config("spark.sql.shuffle.partitions", str(host["shuffle_partitions"]))
        .config("spark.default.parallelism", str(cores))
        .config("spark.driver.memory", f"{host['driver_memory_mb']}m")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dderby.system.home={tmp}",
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "true" if ui else "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if ui:
        conf = (
            conf.config("spark.ui.port", "0")
            .config("spark.ui.retainedJobs", "100000")
            .config("spark.ui.retainedStages", "100000")
            .config("spark.ui.retainedTasks", "1000000")
        )
    spark = conf.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit: it exits when its stdin
    pipe closes, and its Python workers go with it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# ---- /proc RSS ------------------------------------------------------------


def _descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields after it are fixed
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Samples the summed RSS of every process this one started (the
    spark-submit JVM and its Python workers) every ``RSS_SAMPLE_S`` and
    keeps the peak. The benchmark's own interpreter is not counted."""

    def __init__(self) -> None:
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in _descendants(me))
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(RSS_SAMPLE_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


# ---- Spark UI REST scrape ---------------------------------------------------


def _parse_time(s: str) -> float:
    # e.g. "2026-10-17T03:20:00.123GMT"
    return (
        datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


class StageScraper:
    """Reads jobs, stages and task-time quantiles from the UI's REST API —
    the same endpoints tools/skew_bench.py reads."""

    def __init__(self, spark) -> None:
        self.base = spark.sparkContext.uiWebUrl.rstrip("/") + "/api/v1"
        self.app = spark.sparkContext.applicationId

    def _get(self, path: str):
        url = f"{self.base}/applications/{self.app}/{path}"
        with urllib.request.urlopen(url, timeout=60) as resp:
            return json.load(resp)

    def settle(self, timeout_s: float = 30.0) -> None:
        """Wait until the UI has processed every submitted job (the listener
        bus is asynchronous)."""
        deadline = time.time() + timeout_s
        last = None
        while time.time() < deadline:
            jobs = self._get("jobs")
            running = [j for j in jobs if j["status"] in ("RUNNING", "UNKNOWN")]
            sig = (len(jobs), len(running))
            if not running and sig == last:
                return
            last = sig
            time.sleep(0.5)

    def jobs(self) -> list[dict]:
        out = []
        for j in self._get("jobs"):
            if "submissionTime" not in j:
                continue
            out.append(
                {
                    "job_id": j["jobId"],
                    "group": j.get("jobGroup"),
                    "submitted": _parse_time(j["submissionTime"]),
                    "stage_ids": j.get("stageIds", []),
                }
            )
        return out

    def stages(self) -> list[dict]:
        out = []
        for s in self._get("stages"):
            if s.get("status") not in ("COMPLETE", "FAILED"):
                continue
            out.append(
                {
                    "stage_id": s["stageId"],
                    "attempt": s["attemptId"],
                    "tasks": s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0),
                    "failed_tasks": s.get("numFailedTasks", 0),
                    "run_ms": s.get("executorRunTime", 0),
                    "shuffle_write_bytes": s.get("shuffleWriteBytes", 0),
                    "spill_bytes": s.get("diskBytesSpilled", 0),
                }
            )
        return out

    def task_skew(self, stage_id: int, attempt: int) -> float:
        """Max over median task run time of one stage."""
        q = self._get(
            f"stages/{stage_id}/{attempt}/taskSummary?quantiles=0.5,1.0"
        )
        med, mx = (q.get("executorRunTime") or [0, 0])[:2]
        return mx / med if med > 0 else 1.0
