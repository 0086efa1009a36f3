"""Session, work directory, statistics, Spark accounting and tracing shared
by the workloads."""

from __future__ import annotations

import contextlib
import functools
import http.client
import json
import os
import shutil
import statistics
import subprocess
import threading
import time
import urllib.parse

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")
TRACES = os.path.join(ROOT, "perfbench", "_traces")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def fresh_work_dir() -> str:
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub))
    return WORK


def start_session():
    """local[<cores>] with every scratch path inside the work directory."""
    from apt_search_engine_spark.session import get_spark

    n = cpus()
    tmp = os.path.join(WORK, "tmp")
    spark = get_spark(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            # no hsperfdata file under /tmp either
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads per-job totals from the status store
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "40000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def serve_get(port: int, query: str, page: int = 1, size: int = 10):
    """One bm25 `/search` request to `jobs.serve`; returns (status,
    X-Cache, body)."""
    qs = urllib.parse.urlencode({"query": query, "scorer": "bm25", "page": page, "size": size})
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", f"/search?{qs}")
        resp = conn.getresponse()
        body = resp.read()
        return resp.status, resp.getheader("X-Cache"), json.loads(body) if body else None
    finally:
        conn.close()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class SparkJobs:
    """Job, stage and task totals from the driver's status store, taken over
    the range of job ids a call submitted. Job ids rather than job groups:
    the index build submits its side-table jobs from its own threads."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def last_job(self) -> int:
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def since(self, job_id: int) -> dict:
        self._bus.waitUntilEmpty()
        tot = dict.fromkeys(
            ("jobs", "stages", "tasks", "input_bytes", "shuffle_read_bytes",
             "shuffle_write_bytes", "run_ms", "cpu_ns", "gc_ms"), 0)
        jobs = self._store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= job_id:
                break
            tot["jobs"] += 1
            sids = job.stageIds()
            for j in range(sids.size()):
                try:
                    st = self._store.lastStageAttempt(sids.apply(j))
                except Exception:  # stage evicted or never submitted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += st.numTasks()
                tot["input_bytes"] += st.inputBytes()
                tot["shuffle_read_bytes"] += st.shuffleReadBytes()
                tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
                tot["run_ms"] += st.executorRunTime()
                tot["cpu_ns"] += st.executorCpuTime()
                tot["gc_ms"] += st.jvmGcTime()
        return tot


class Tracer:
    """Spans (id, name, parent, request id, start, end) kept in memory and
    written out at the end. `wrap` replaces a public function of the
    package with one that records a span around each call; with
    `spark=True` the span also carries the Spark totals of its jobs."""

    def __init__(self, jobs: SparkJobs | None):
        self.spans: list[dict] = []
        self.request: str | None = None
        self.overhead_s = 0.0
        self._jobs = jobs
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str, spark: bool = False):
        t0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = self._next
            self._next += 1
        rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
               "request": self.request}
        j0 = self._jobs.last_job() if spark and self._jobs else None
        stack.append(sid)
        rec["start"] = time.perf_counter()
        with self._lock:
            self.overhead_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if j0 is not None:
                rec["spark"] = self._jobs.since(j0)
            with self._lock:
                self.spans.append(rec)
                self.overhead_s += time.perf_counter() - rec["end"]

    def wrap(self, owner, attr: str, name: str, spark: bool = False) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name, spark=spark):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def dur_ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1000.0


def spark_sum(spans, key: str) -> float:
    return float(sum(s.get("spark", {}).get(key, 0) for s in spans))
