"""Per-job-group metrics from the Spark UI REST API (traced runs only).

Every layer call in a traced run runs under its own ``setJobGroup``; once
the run is over, ``Snapshot`` reads ``/jobs``, ``/stages``, ``/sql`` and
the task lists once and sums them by group.
"""

import json
import re
import time
import urllib.request

_SIZE = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30, "TiB": 2 ** 40}
_TIME_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"^\s*([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text):
    """SQL UI metric string -> number (bytes, seconds or a count). Per-task
    metrics read "total (min, med, max ...)\\n<total> (<min>, ...)"."""
    line = text.strip().split("\n")[-1]
    m = _NUM.match(line)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return val * _SIZE.get(unit, _TIME_S.get(unit, 1.0))


class Rest:
    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def get(self, path):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def settle(self, timeout_s=30.0):
        """Wait until the listener has recorded every submitted job."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            jobs = self.get("/jobs")
            if all(j["status"] != "RUNNING" for j in jobs) and all(
                    s["status"] != "ACTIVE" for s in self.get("/stages")):
                return
            time.sleep(0.2)

    def snapshot(self):
        self.settle()
        return Snapshot(self)


class Snapshot:
    def __init__(self, rest):
        self.jobs = rest.get("/jobs")
        self.stages = {(s["stageId"], s["attemptId"]): s
                       for s in rest.get("/stages")}
        self.sql = rest.get("/sql?details=true&planDescription=false"
                            "&length=100000")
        self._rest = rest

    def job_ids(self, group):
        return {j["jobId"] for j in self.jobs if j.get("jobGroup") == group}

    def _stages(self, group):
        ids = set()
        for j in self.jobs:
            if j.get("jobGroup") == group:
                ids.update(j["stageIds"])
        return [s for (sid, _), s in self.stages.items()
                if sid in ids and s["status"] in ("COMPLETE", "FAILED")]

    def stage_totals(self, group):
        """Summed stage metrics of one job group (seconds and bytes)."""
        st = self._stages(group)

        def tot(key):
            return sum(s.get(key, 0) for s in st)

        return {
            "jobs": len(self.job_ids(group)),
            "stages": len(st),
            "tasks": tot("numCompleteTasks") + tot("numFailedTasks"),
            "task_failures": tot("numFailedTasks"),
            "run_s": tot("executorRunTime") / 1e3,
            "cpu_s": tot("executorCpuTime") / 1e9,
            "gc_s": tot("jvmGcTime") / 1e3,
            "input_bytes": tot("inputBytes"),
            "shuffle_write_bytes": tot("shuffleWriteBytes"),
            "shuffle_write_records": tot("shuffleWriteRecords"),
            "fetch_wait_s": tot("shuffleFetchWaitTime") / 1e3,
            "spill_bytes": tot("diskBytesSpilled") + tot("memoryBytesSpilled"),
        }

    def scheduler_delay_s(self, group):
        total_ms = 0
        for s in self._stages(group):
            tasks = self._rest.get(
                f"/stages/{s['stageId']}/{s['attemptId']}/taskList"
                "?length=100000")
            total_ms += sum(t.get("schedulerDelay", 0) for t in tasks)
        return total_ms / 1e3

    def sql_nodes(self, group):
        """(nodeName, {metric: value}) of every plan node of the SQL
        executions whose jobs belong to ``group``."""
        ids = self.job_ids(group)
        out = []
        for ex in self.sql:
            ex_jobs = set(ex.get("successJobIds", [])) | set(
                ex.get("failedJobIds", []))
            if ex_jobs and ex_jobs <= ids:
                for n in ex["nodes"]:
                    out.append((n["nodeName"],
                                {m["name"]: parse_metric(m["value"])
                                 for m in n["metrics"]}))
        return out

    def python_bytes(self, group):
        """(bytes sent to, bytes returned from) Python workers."""
        sent = recv = 0.0
        for _, metrics in self.sql_nodes(group):
            sent += metrics.get("data sent to Python workers", 0.0)
            recv += metrics.get("data returned from Python workers", 0.0)
        return sent, recv

    def node_rows(self, group, node_name):
        return [m.get("number of output rows", 0.0)
                for name, m in self.sql_nodes(group) if name == node_name]
