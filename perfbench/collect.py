"""Outside-in per-op counters from Spark's status REST API on loopback.

The client is closed-loop, so every job started since the previous read
belongs to the op just finished; job ids are sequential, and the
collector takes the jobs above the last id it read. It first drains the
listener bus, then polls until each of those jobs and each of their
stages is in a terminal state, and only then reads them. It reads after
every op because the UI keeps only the most recent 1000 jobs, stages and
SQL executions. SQL executions are found by job id. Job groups name the
op's phase (build, execute, fit, catalog), so jobs are also counted per
phase. Any failure to reach the UI raises: a missing reading is never
reported as zero.
"""

from __future__ import annotations

import json
import re
import time
import urllib.error
import urllib.parse
import urllib.request

_JOB_DONE = {"SUCCEEDED", "FAILED"}
_STAGE_DONE = {"COMPLETE", "SKIPPED", "FAILED"}
# operators that cross the Arrow/Python boundary
_PY_NODES = ("MapInArrow", "MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython",
             "FlatMapCoGroupsInPandas", "BatchEvalPython", "PythonMapInArrow")
_UNITS = {
    "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_MB = 1024.0**2
_VALUE = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

EXEC_KEYS = ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "input_mb",
             "shuffle_write_mb", "shuffle_read_mb", "spill_mb")
ARROW_KEYS = ("py_run_s", "py_start_s", "py_sent_mb", "py_recv_mb")


class CollectorError(RuntimeError):
    pass


def parse_metric(text: str) -> float:
    """A SQL UI metric string as a number in base units (s, bytes or a
    count). Aggregated metrics read 'total (min, med, max ...)\\n<total>
    (...)'; the total is taken."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text.strip())
    if m is None:
        raise CollectorError(f"unparseable SQL metric value {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit and unit not in _UNITS:
        raise CollectorError(f"unknown unit in SQL metric value {text!r}")
    return value * _UNITS.get(unit, 1.0)


class Collector:
    def __init__(self, spark, timeout_s: float = 30.0):
        sc = spark.sparkContext
        url = sc.uiWebUrl
        if not url:
            raise CollectorError("Spark UI is disabled; the traced run needs its REST API")
        port = urllib.parse.urlparse(url).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self._bus = sc._jsc.sc().listenerBus()
        self.timeout_s = timeout_s
        self.skip()  # fails now, not after the first op, if the UI is unreachable

    def skip(self) -> None:
        """Start the next read after every job and SQL execution so far."""
        self._bus.waitUntilEmpty(int(self.timeout_s * 1000))
        seen = self._get("/sql?details=false&planDescription=false&offset=0&length=1000000")
        self._next_exec = max((e["id"] for e in seen), default=-1) + 1
        self._next_job = max((j["jobId"] for j in self._get("/jobs")), default=-1) + 1

    def _get(self, path: str, missing_ok: bool = False):
        """Parsed JSON at ``path``; None for a 404 when ``missing_ok``."""
        try:
            with urllib.request.urlopen(self.base + path, timeout=self.timeout_s) as r:
                return json.load(r)
        except urllib.error.HTTPError as e:
            if missing_ok and e.code == 404:
                return None
            raise CollectorError(f"Spark UI error at {self.base}{path}: {e}") from e
        except (urllib.error.URLError, OSError) as e:
            raise CollectorError(f"Spark UI unreachable at {self.base}{path}: {e}") from e

    def _new_jobs(self):
        """Jobs started since the last read and their stage attempts, once
        every one of them is in a terminal state."""
        deadline = time.monotonic() + self.timeout_s
        while True:
            self._bus.waitUntilEmpty(int(self.timeout_s * 1000))
            jobs = [j for j in self._get("/jobs") if j["jobId"] >= self._next_job]
            stages = []
            done = all(j["status"] in _JOB_DONE for j in jobs)
            if done:
                for sid in sorted({s for j in jobs for s in j["stageIds"]}):
                    stages += self._get(f"/stages/{sid}?details=false", missing_ok=True) or []
                done = all(s["status"] in _STAGE_DONE for s in stages)
            if done:
                self._next_job = max((j["jobId"] + 1 for j in jobs), default=self._next_job)
                return jobs, stages
            if time.monotonic() > deadline:
                raise CollectorError(f"jobs not terminal after {self.timeout_s}s")
            time.sleep(0.05)

    def read(self) -> dict:
        """Executor and Arrow counters of every job since the last read,
        plus their job counts by job-group phase (the text after the last
        ':' of the group id)."""
        jobs, stages = self._new_jobs()
        ran = [s for s in stages if s["status"] != "SKIPPED"]
        out = {
            "jobs": float(len(jobs)),
            "stages": float(len(ran)),
            "tasks": float(sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in ran)),
            "run_s": sum(s["executorRunTime"] for s in ran) / 1e3,
            "cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in ran) / 1e3,
            "input_mb": sum(s["inputBytes"] for s in ran) / _MB,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in ran) / _MB,
            "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in ran) / _MB,
            "spill_mb": sum(s["diskBytesSpilled"] for s in ran) / _MB,
        }
        out.update(self._arrow({j["jobId"] for j in jobs}))
        phases: dict[str, int] = {}
        for j in jobs:
            phase = (j.get("jobGroup") or "").rsplit(":", 1)[-1]
            phases[phase] = phases.get(phase, 0) + 1
        out["jobs_by_phase"] = phases
        return out

    def _arrow(self, job_ids: set[int]) -> dict[str, float]:
        """Python-worker metrics of the SQL executions that ran these
        jobs. Executions are read by id, in order, so none is skipped
        and none is read twice."""
        out = dict.fromkeys(ARROW_KEYS, 0.0)
        names = {
            "time to run Python workers": ("py_run_s", 1.0),
            "time to start Python workers": ("py_start_s", 1.0),
            "data sent to Python workers": ("py_sent_mb", 1 / _MB),
            "data returned from Python workers": ("py_recv_mb", 1 / _MB),
        }
        while True:
            e = self._get(f"/sql/{self._next_exec}?details=true&planDescription=false", missing_ok=True)
            if e is None:
                return out
            if e["status"] == "RUNNING":
                raise CollectorError(f"SQL execution {e['id']} still running after its jobs ended")
            self._next_exec += 1
            ids = set(e["successJobIds"]) | set(e["failedJobIds"]) | set(e["runningJobIds"])
            if not ids & job_ids:
                continue
            for node in e["nodes"]:
                if not node["nodeName"].startswith(_PY_NODES):
                    continue
                for m in node["metrics"]:
                    if m["name"] in names:
                        key, scale = names[m["name"]]
                        out[key] += parse_metric(m["value"]) * scale
