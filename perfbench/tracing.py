"""In-memory spans around layer calls, plus per-operation Spark REST metrics.

Spans are recorded only by the benchmark's own code, around its calls into
each layer of ``pixels_spark``; nothing inside the program is changed. A
disabled tracer records nothing, so the untraced run pays one attribute
check per call.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Record ``name`` from entry to exit, parented to the open span."""
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, obj, attr: str, name: str) -> None:
        """Replace ``obj.attr`` (on this instance only) with a spanned call."""
        if not self.enabled:
            return
        inner = getattr(obj, attr)

        def spanned(*args, **kwargs):
            with self.span(name):
                return inner(*args, **kwargs)

        setattr(obj, attr, spanned)

    def durations(self, name: str) -> list[float]:
        """Durations of the ``name`` spans inside timed operations."""
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["op"] is not None
        ]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover,
        over spans inside timed operations."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["op"] is not None:
                out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)


_TIME_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")
_STAGE_REF = re.compile(r"stage (\d+)\.\d+")


def metric_value(text: str) -> float:
    """First number of a SQL-UI metric string in base units (s, bytes,
    count): '1,234', '12.5 MiB', 'total (min, med, max (...))\\n3.1 s (...)'."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.search(body)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    return v * _TIME_UNITS.get(unit, _SIZE_UNITS.get(unit, 1))


class SparkRest:
    """Reads the jobs, stages and SQL plan-node metrics of one job group
    from the Spark UI's monitoring REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def op_metrics(self, group: str, settle_s: float = 5.0) -> dict[str, float]:
        """Per-layer counters of the jobs tagged ``group``. Waits (up to
        ``settle_s``) for the listener bus to mark every job and SQL
        execution of the group finished before reading stage totals."""
        deadline = time.perf_counter() + settle_s
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            job_ids = {j["jobId"] for j in jobs}
            execs = [
                e
                for e in self._get("/sql?details=true&planDescription=false&length=100000")
                if job_ids & set(e.get("successJobIds", []) + e.get("failedJobIds", []))
            ]
            done = all(j["status"] != "RUNNING" for j in jobs) and all(
                e.get("status") != "RUNNING" for e in execs
            )
            if done or time.perf_counter() > deadline:
                break
            time.sleep(0.05)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("/stages") if s["stageId"] in stage_ids]
        ran = [s for s in stages if s["status"] in ("COMPLETE", "FAILED")]
        sched_delay = 0.0
        for s in ran:
            tasks = self._get(
                f"/stages/{s['stageId']}/{s['attemptId']}/taskList?length=100000"
            )
            sched_delay += sum(t.get("schedulerDelay", 0) for t in tasks) / 1e3
        m = {
            "queries.jobs": len(jobs),
            "queries.stages": len({s["stageId"] for s in ran}),
            "queries.tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in ran),
            "queries.failed_tasks": sum(s["numFailedTasks"] for s in ran),
            "queries.executor_run_s": sum(s["executorRunTime"] for s in ran) / 1e3,
            "queries.executor_cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
            "queries.gc_s": sum(s.get("jvmGcTime", 0) for s in ran) / 1e3,
            "queries.scheduler_delay_s": sched_delay,
            "operators.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in ran),
            "operators.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in ran),
            "operators.spill_bytes": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in ran
            ),
            "storage.scan_s": 0.0,
            "storage.bytes_read": 0.0,
            "storage.files_read": 0.0,
            "operators.broadcast_s": 0.0,
            "functions.python_rows": 0.0,
        }
        python_stages: set[int] = set()
        for e in execs:
            for node in e.get("nodes", []):
                name = node["nodeName"]
                mets = {x["name"]: x["value"] for x in node.get("metrics", [])}
                if name.startswith("Scan parquet"):
                    m["storage.scan_s"] += metric_value(mets.get("scan time", "0"))
                    m["storage.bytes_read"] += metric_value(mets.get("size of files read", "0"))
                    m["storage.files_read"] += metric_value(mets.get("number of files read", "0"))
                elif name.startswith("BroadcastExchange"):
                    m["operators.broadcast_s"] += sum(
                        metric_value(mets.get(k, "0"))
                        for k in ("time to build", "time to collect")
                    )
                elif "Python" in name or "InPandas" in name or "InArrow" in name:
                    m["functions.python_rows"] += metric_value(
                        mets.get("number of output rows", "0")
                    )
                    for v in mets.values():
                        python_stages.update(int(x) for x in _STAGE_REF.findall(v))
        m["functions.python_stage_s"] = (
            sum(s["executorRunTime"] for s in ran if s["stageId"] in python_stages) / 1e3
        )
        return m
