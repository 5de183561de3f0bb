"""Measurement plumbing: percentiles, spans, Spark counters, host context.

Nothing here imports the engine. Spans wrap the benchmark's own calls
into the engine's layers; the engine itself is not instrumented.
"""

from __future__ import annotations

import json
import os
import re
import resource
import statistics
import sys
import time
import urllib.request
from contextlib import contextmanager, nullcontext

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")
MIN_BEYOND = 10  # a reported percentile needs this many samples above it


def percentile(samples: list[float], q: float) -> float:
    """The q-quantile (0 < q < 1) of `samples`, by the nearest-rank rule.
    Refuses when fewer than MIN_BEYOND samples lie above the rank, so a
    reported tail is never read off a handful of points."""
    if not 0 < q < 1:
        raise ValueError(f"quantile {q} outside (0, 1)")
    xs = sorted(samples)
    rank = max(1, -(-len(xs) * q // 1))  # ceil(n*q), at least the first
    rank = int(rank)
    if len(xs) - rank < MIN_BEYOND:
        raise ValueError(
            f"p{round(q * 100)} of {len(xs)} samples has {len(xs) - rank} "
            f"beyond it; need {MIN_BEYOND}"
        )
    return xs[rank - 1]


def tail(samples: list[float]):
    """(q, value) for the highest of p99, p95, p90 and p75 that has at
    least MIN_BEYOND samples beyond it, or None for too few samples."""
    for q in (0.99, 0.95, 0.9, 0.75):
        if len(samples) - -(-len(samples) * q // 1) >= MIN_BEYOND:
            return q, percentile(samples, q)
    return None


def median(samples: list[float]) -> float:
    return float(statistics.median(samples))


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def check_metric_names(metrics: dict) -> None:
    bad = [m for m in metrics if not METRIC_NAME.fullmatch(m)]
    if bad:
        raise ValueError(f"metric names outside [A-Za-z0-9_.-]+: {bad}")


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


# ---------------------------------------------------------------- spans


class Tracer:
    """In-memory spans (name, start, end, parent, op). With `enabled`
    false every call is a no-op, so the untraced run pays one attribute
    test per span site."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, op: str = ""):
        if not self.enabled:
            return nullcontext()
        return self._span(name, op)

    @contextmanager
    def _span(self, name: str, op: str):
        rec = {"id": len(self.spans), "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str, op_prefix: str = "") -> list[float]:
        """Seconds of every closed span called `name` whose op id starts
        with `op_prefix`."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and "end" in s
                and s["op"].startswith(op_prefix)]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# --------------------------------------------------------- spark counters


class SparkOps:
    """One Spark job group per benchmark operation, read back from
    outside the engine: job, stage and task counts through
    statusTracker(), executor run time and shuffle bytes through the
    status REST API when the UI is on (traced runs only)."""

    def __init__(self, spark, run_tag: str, enabled: bool):
        self.sc = spark.sparkContext
        self.tag = run_tag
        self.enabled = enabled
        self.groups: dict[str, list[str]] = {}  # op kind -> group ids

    def op(self, kind: str, op_id: str):
        """Job group for one operation. Off in the untraced run: setting a
        group is a JVM round trip, which a 2 ms local query would feel."""
        if not self.enabled:
            return nullcontext()
        return self._op(kind, op_id)

    @contextmanager
    def _op(self, kind: str, op_id: str):
        group = f"{self.tag}-{op_id}"
        self.groups.setdefault(kind, []).append(group)
        self.sc.setJobGroup(group, f"perfbench {kind} {op_id}")
        try:
            yield group
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def counts(self, kind: str) -> tuple[int, int]:
        """(jobs, completed tasks) summed over the op kind's groups."""
        st = self.sc.statusTracker()
        jobs = tasks = 0
        for g in self.groups.get(kind, []):
            for jid in st.getJobIdsForGroup(g):
                jobs += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    tasks += si.numCompletedTasks if si else 0
        return jobs, tasks

    def last_stage_tasks(self, group: str) -> int:
        """Tasks of the final stage of the group's final job: for a
        search(with_stored=False) that is the scoring-kernel stage."""
        st = self.sc.statusTracker()
        jids = self.jobs(group)
        if not jids:
            return 0
        info = st.getJobInfo(jids[-1])
        if not info or not info.stageIds:
            return 0
        si = st.getStageInfo(max(info.stageIds))
        return si.numTasks if si else 0

    def rest_totals(self, kind: str) -> tuple[float, float]:
        """(executor run ms, shuffle write bytes) over the op kind's jobs,
        from the status REST API. Needs the UI on."""
        url = self.sc.uiWebUrl
        if not url:
            raise RuntimeError("Spark UI is off; rest_totals needs a traced run")
        app = self.sc.applicationId
        base = f"{url}/api/v1/applications/{app}"
        want = {g for g in self.groups.get(kind, [])}
        if not want:
            return 0.0, 0.0
        # the REST store is fed by the listener bus; wait until it has
        # caught up with every job statusTracker already knows about
        expect = {j for g in want for j in self.jobs(g)}
        deadline = time.monotonic() + 30
        while True:
            jobs = _get_json(f"{base}/jobs")
            seen = {j["jobId"] for j in jobs
                    if j.get("jobGroup") in want and j["status"] != "RUNNING"}
            if expect <= seen or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        stage_ids = {s for j in jobs if j.get("jobGroup") in want
                     for s in j["stageIds"]}
        run_ms = shuffle = 0.0
        for s in _get_json(f"{base}/stages"):
            if s["stageId"] in stage_ids and s["status"] == "COMPLETE":
                run_ms += s.get("executorRunTime", 0)
                shuffle += s.get("shuffleWriteBytes", 0)
        return run_ms, shuffle


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:  # local Spark UI only
        return json.loads(r.read())


# ----------------------------------------------------------- host context


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def calibration_ms() -> float:
    """Best of three timings of a fixed pure-Python loop. Recorded so a
    reader can see host drift; never used to scale or compare runs."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0


def host_context() -> dict:
    import numpy
    import pyspark

    return {
        "nproc": nproc(),
        "loadavg_before": loadavg(),
        "calibration_ms": calibration_ms(),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
    }


APP_NAME = "perfbench"


def live_benchmark_jvms() -> list[int]:
    """PIDs of Spark driver JVMs started by an earlier benchmark run that
    are still alive (their command line carries our app name)."""
    marker = f"spark.app.name={APP_NAME}".encode()
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd and marker in cmd:
            pids.append(int(d))
    return pids
