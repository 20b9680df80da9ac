"""Measurement plumbing of the benchmark: monotonic span tracer, steal-free
clock, process-tree RSS sampler and Spark's status REST API (stage/task
metrics per job group).

Nothing here reaches into the engine: spans wrap the benchmark's own calls
into each layer's public function, and the REST reader only reads what the
Spark UI already records.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    """In-memory spans (id, name, start, end, parent id, run id); written
    out once, at the end of the run, as one JSON object per line."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        rec = {
            "id": idx,
            "name": name,
            "start": time.monotonic(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


class CpuClock:
    """Wall time on the monotonic clock, scaled by the share of runnable vCPU
    time the hypervisor actually ran (/proc/stat: busy / (busy + steal)).

    On a shared virtual machine the host steals a varying share of the
    vCPUs, which stretches wall time by a factor that has nothing to do
    with the program; this clock reports the wall time the same work takes
    when no vCPU time is stolen."""

    @staticmethod
    def _ticks() -> tuple[int, int]:
        with open("/proc/stat") as f:
            user, nice, system, _idle, _iowait, irq, softirq, steal = (
                int(x) for x in f.readline().split()[1:9]
            )
        return user + nice + system + irq + softirq, steal

    def __init__(self):
        self.t = time.monotonic()
        self.busy, self.steal = self._ticks()

    def elapsed(self) -> tuple[float, float]:
        """(wall seconds, steal-free seconds) since construction."""
        wall = time.monotonic() - self.t
        busy, steal = self._ticks()
        busy, steal = busy - self.busy, steal - self.steal
        return wall, wall * busy / (busy + steal) if busy + steal else wall


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # the command name may hold spaces and parentheses: split after it
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and every descendant (JVM, Python
    workers), summed from /proc/<pid>/statm."""
    kids = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's RSS on a daemon thread; ``stop`` joins it
    and returns the peak in MB."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._done.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._done.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._done.set()
        self._thread.join(timeout=10)
        return self.peak / 1e6


class SparkRest:
    """Reads job/stage metrics of one job group from the Spark status API
    on the loopback interface."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def group_stages(self, group: str, timeout_s: float = 20.0) -> list[dict]:
        """Completed stage attempts of every job in ``group``. The status
        store is fed asynchronously, so poll until the group's jobs and
        stages have all finished."""
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            if jobs and all(j["status"] != "RUNNING" for j in jobs):
                ids = sorted({s for j in jobs for s in j["stageIds"]})
                stages = [a for sid in ids for a in self._get(f"/stages/{sid}")]
                if all(s["status"] in ("COMPLETE", "SKIPPED", "FAILED") for s in stages):
                    return [s for s in stages if s["status"] != "SKIPPED"]
            if time.monotonic() > deadline:
                raise TimeoutError(f"job group {group} did not settle in the status store")
            time.sleep(0.1)

    def task_skew(self, stage: dict) -> float:
        """max / median task run time of one stage attempt."""
        q = self._get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0"
        )["executorRunTime"]
        return q[1] / q[0] if q[0] > 0 else 1.0

    def scanned_bytes(self, group: str, path: str, timeout_s: float = 20.0) -> int:
        """Bytes of input files the queries of ``group`` scanned: the sum of
        the 'size of files read' of every file scan in a query whose plan
        reads ``path``. A scan reports the listed size of the files it
        covers, so each re-scan counts in full, whatever the reader's I/O
        path records (the stages' inputBytes miss most parquet reads)."""
        jobs = {j["jobId"] for j in self._get("/jobs") if j.get("jobGroup") == group}
        deadline = time.monotonic() + timeout_s
        while True:
            execs = [
                e for e in self._get("/sql?details=true&planDescription=true&length=100000")
                if jobs & set(e["successJobIds"] + e["failedJobIds"] + e["runningJobIds"])
            ]
            if execs and all(e["status"] != "RUNNING" for e in execs):
                break
            if time.monotonic() > deadline:
                raise TimeoutError(f"queries of job group {group} did not settle")
            time.sleep(0.1)
        total = 0
        for e in execs:
            if path not in e["planDescription"]:
                continue
            for node in e["nodes"]:
                if node["nodeName"].startswith("Scan"):
                    total += sum(
                        _parse_size(m["value"])
                        for m in node["metrics"]
                        if m["name"] == "size of files read"
                    )
        return total


_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _parse_size(value: str) -> int:
    """A size as the Spark UI prints it ("199.9 KiB"), in bytes."""
    number, unit = value.splitlines()[-1].split()[:2]
    return round(float(number.replace(",", "")) * _SIZE_UNITS[unit])


def summarize_stages(rest: SparkRest, stages: list[dict], wall_s: float, nproc: int) -> dict:
    """Session- and shuffle-level figures of one materialised pass."""
    run_s = sum(s["executorRunTime"] for s in stages) / 1000.0
    reduce_stages = [s for s in stages if s["shuffleReadBytes"] > 0 and s["numTasks"] > 1]
    return {
        "session.gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
        "session.task_concurrency": run_s / (wall_s * nproc),
        "session.failed_tasks": sum(s["numFailedTasks"] for s in stages),
        "operators.spans.shuffle_mb": sum(s["shuffleWriteBytes"] for s in stages) / 1e6,
        "operators.spans.task_skew": max(
            (rest.task_skew(s) for s in reduce_stages), default=1.0
        ),
    }
