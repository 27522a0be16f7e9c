"""Per-op counters read from Spark's REST status store, and the span log.

Reads the monitoring REST API of the live driver directly (not
through ``geokit_spark.metrics``), so changes to the program's own
metrics module cannot change what this benchmark measures. Needs
``spark.ui.enabled=true``; only the traced run turns it on.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request

_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_PY_METRICS = ("data sent to Python workers", "data returned from Python workers")


def _bytes(value: str) -> float:
    """First size in a SQL metric string ("total (...)\\n1.2 MiB (...)")."""
    m = _SIZE.search(value)
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def _count(value: str) -> int:
    m = re.search(r"[\d,]+", value)
    return int(m.group(0).replace(",", "")) if m else 0


class RestStore:
    """The REST API (``/api/v1``) of the running application."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def op_counters(self, group: str) -> dict:
        """Counters of every job run under job group ``group``."""
        deadline = time.monotonic() + 10
        while True:
            jobs = [j for j in self.get("/jobs") if j.get("jobGroup") == group]
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s for s in self.get("/stages?status=complete&status=failed")
            if s["stageId"] in stage_ids
        ]
        c = {
            "jobs": len(job_ids),
            "cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "shuffle_bytes": float(sum(s["shuffleWriteBytes"] for s in stages)),
            "fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in stages) / 1e3,
            "task_skew": 1.0,
            "py_bytes": 0.0,
            "join_rows": 0,
        }
        done = [s for s in stages if s["status"] == "COMPLETE"]
        if done:
            top = max(done, key=lambda s: s["executorRunTime"])
            q = self.get(
                f"/stages/{top['stageId']}/{top['attemptId']}/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            c["task_skew"] = q[1] / max(q[0], 1.0)
        for ex in self.get("/sql?details=true&planDescription=false&length=100000"):
            ran = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ran & job_ids:
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] in _PY_METRICS:
                        c["py_bytes"] += _bytes(m["value"])
                    elif m["name"] == "number of output rows" and "Join" in node["nodeName"]:
                        c["join_rows"] += _count(m["value"])
        return c


class Spans:
    """Spans kept in memory and written out once, when the run ends."""

    def __init__(self, name: str):
        self.spans = [{"id": 0, "name": name, "parent": None, "start": time.time(), "end": None}]

    def add(self, name: str, start: float, end: float, **attrs):
        """One op call, with the workload run (span 0) as parent."""
        self.spans.append({"id": len(self.spans), "name": name, "parent": 0,
                           "start": start, "end": end, **attrs})

    def write(self, path: str, **extra):
        self.spans[0]["end"] = time.time()
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1)
