"""Spark-side counters for the traced run.

Operations run one at a time, so each is attributed the Spark jobs
submitted between its start and end, read from the monitoring REST API
(the UI is on only in traced runs). Streaming queries run their jobs on
the stream thread under its own job group, which is why the time window
and not the caller's job group selects the jobs. Stages are counted from
the completed-stage list, so skipped stages never count. Streaming
progress comes from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import datetime
import json
import time
import urllib.request
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

STAGE_FIELDS = (
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "numCompleteTasks",
)
PYTHON_NODES = ("Python", "Pandas", "Arrow")


def _epoch_ms(stamp: str) -> float:
    """Parse the REST API's '2026-01-01T00:00:00.000GMT' timestamps."""
    return datetime.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=datetime.timezone.utc).timestamp() * 1000.0


class StreamListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.progress.append({
            "batch_ms": float(p.batchDuration),
            "state_commit_ms": float(sum(op.commitTimeMs for op in p.stateOperators)),
            "state_rows": float(sum(op.numRowsTotal for op in p.stateOperators)),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class SparkProbe:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self.listener = StreamListener()
        spark.streams.addListener(self.listener)

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as resp:
            return json.loads(resp.read())

    def _settled_jobs(self, since_ms: float) -> list[dict]:
        """Jobs submitted since ``since_ms`` once the UI store shows them
        all finished and their number has stopped changing."""
        last = None
        for _ in range(100):
            jobs = [j for j in self._get("jobs")
                    if "submissionTime" in j and _epoch_ms(j["submissionTime"]) >= since_ms]
            done = all(j["status"] != "RUNNING" for j in jobs)
            if done and last is not None and len(jobs) == last:
                return jobs
            last = len(jobs) if done else None
            time.sleep(0.05)
        raise RuntimeError("Spark UI did not settle")

    def measure(self, fn):
        """Run ``fn`` and return (result, wall seconds, counters)."""
        n_progress = len(self.listener.progress)
        start_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        result = fn()
        wall = time.perf_counter() - t0
        end_ms = start_ms + wall * 1000.0
        jobs = self._settled_jobs(start_ms - 1.0)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("stages?status=complete") if s["stageId"] in stage_ids]
        counters = defaultdict(float)
        counters["spark.jobs"] = len(jobs)
        counters["spark.stages"] = len(stages)
        for s in stages:
            for f in STAGE_FIELDS:
                counters[f] += s.get(f, 0)
        intervals = sorted(
            (_epoch_ms(j["submissionTime"]), _epoch_ms(j.get("completionTime", j["submissionTime"])))
            for j in jobs)
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in intervals:
            lo, hi = max(lo, start_ms), min(hi, end_ms)
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += max(0.0, cur_hi - cur_lo)
        counters["spark.python_ms"] = self._python_ms(start_ms - 1.0)
        counters["spark.persisted_rdds_left"] = self.sc._jsc.getPersistentRDDs().size()
        time.sleep(0.2)  # progress events reach the listener asynchronously
        batches = self.listener.progress[n_progress:]
        layer = {
            "spark.jobs": counters["spark.jobs"],
            "spark.stages": counters["spark.stages"],
            "spark.tasks": counters["numCompleteTasks"],
            "spark.driver_ms": max(0.0, wall * 1000.0 - covered),
            "spark.executor_run_ms": counters["executorRunTime"],
            "spark.executor_cpu_ms": counters["executorCpuTime"] / 1e6,
            "spark.gc_ms": counters["jvmGcTime"],
            "spark.shuffle_read_bytes": counters["shuffleReadBytes"],
            "spark.shuffle_write_bytes": counters["shuffleWriteBytes"],
            "spark.spill_bytes": counters["memoryBytesSpilled"] + counters["diskBytesSpilled"],
            "spark.python_ms": counters["spark.python_ms"],
            "spark.persisted_rdds_left": counters["spark.persisted_rdds_left"],
            "streaming.batches": float(len(batches)),
            "streaming.batch_ms": sum(b["batch_ms"] for b in batches),
            "streaming.state_commit_ms": sum(b["state_commit_ms"] for b in batches),
            "streaming.state_rows": sum(b["state_rows"] for b in batches),
        }
        return result, wall, layer

    def _python_ms(self, since_ms: float) -> float:
        """'time to run Python workers' of Python-exec plan nodes in SQL
        executions submitted since ``since_ms``."""
        total = 0.0
        for ex in self._get("sql?details=true&planDescription=false&length=10000"):
            if _epoch_ms(ex["submissionTime"]) < since_ms:
                continue
            for node in ex.get("nodes", []):
                if not any(k in node["nodeName"] for k in PYTHON_NODES):
                    continue
                for m in node.get("metrics", []):
                    if m["name"].startswith("time to run"):
                        total += _duration_ms(m["value"])
        return total


def _duration_ms(text: str) -> float:
    """Total of a SQL timing metric rendered like
    'total (min, med, max (stageId: taskId))\\n1.2 s (...)' or '35 ms'."""
    line = text.strip().splitlines()[-1] if "\n" in text else text.strip()
    value, _, unit = line.split(" (")[0].partition(" ")
    scale = {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0}.get(unit.strip(), 0.0)
    try:
        return float(value.replace(",", "")) * scale
    except ValueError:
        return 0.0


def mean_layers(records: list[dict]) -> dict:
    """Per-operation means of the counters of many operations."""
    if not records:
        return {}
    keys = records[0].keys()
    return {k: sum(r[k] for r in records) / len(records) for k in keys}
