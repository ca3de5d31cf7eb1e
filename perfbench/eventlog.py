"""Spark event-log rollup: per-pass layer metrics from the log Spark
writes with ``spark.eventLog.enabled``.

Spark 4.1 writes a rolling log: a directory ``eventlog_v2_<app>/``
holding ``events_<n>_<app>`` files (plus an ``appstatus`` marker).
Jobs are assigned to the benchmark span that was open when they were
submitted. Submission time is used rather than the job group because
streaming micro-batch jobs carry their run's UUID as job group.
"""

from __future__ import annotations

import glob
import json
import os
import re

# Python-worker SQL metrics (metric type "timing" = ms, "size" = bytes)
_PY_RUN = "time to run Python workers"
_PY_START = "time to start Python workers"
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def event_files(log_dir: str, app_id: str) -> list[str]:
    """The rolling log's ``events_<n>_<app>`` files in roll order."""
    rolled = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    if not rolled:
        raise FileNotFoundError(f"no eventlog_v2_{app_id}/events_* under {log_dir}")
    return sorted(rolled, key=lambda p: int(re.search(r"events_(\d+)_", p).group(1)))


class _Stage:
    __slots__ = (
        "submit", "complete", "tasks", "run_ms", "cpu_ns", "gc_ms", "sw_bytes",
        "sr_bytes", "fetch_ms", "spill", "out_bytes", "in_bytes", "scan_ms",
        "py_run_ms", "py_start_ms", "py_bytes",
    )

    def __init__(self) -> None:
        self.submit = self.complete = None
        self.tasks = self.run_ms = self.cpu_ns = self.gc_ms = 0
        self.sw_bytes = self.sr_bytes = self.fetch_ms = self.spill = 0
        self.out_bytes = self.in_bytes = self.scan_ms = 0
        self.py_run_ms = self.py_start_ms = self.py_bytes = 0


class EventLog:
    """Jobs, stages (with summed task metrics) and SQL executions."""

    def __init__(self, files: list[str]) -> None:
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, _Stage] = {}
        self.sql: dict[int, float] = {}
        for path in files:
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _stage(self, sid: int) -> _Stage:
        st = self.stages.get(sid)
        if st is None:
            st = self.stages[sid] = _Stage()
        return st

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "submit": e["Submission Time"] / 1000.0,
                "end": None,
                "stages": list(e["Stage IDs"]),
                "sql": props.get("spark.sql.execution.id"),
                "stream": (props.get("sql.streaming.queryId"), props.get("streaming.sql.batchId")),
            }
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self._stage(info["Stage ID"])
            st.submit = info.get("Submission Time", 0) / 1000.0
            st.complete = info.get("Completion Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            self._task(e)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.sql[e["executionId"]] = e["time"] / 1000.0

    def _task(self, e: dict) -> None:
        m = e.get("Task Metrics")
        if not m:
            return
        st = self._stage(e["Stage ID"])
        st.tasks += 1
        st.run_ms += m["Executor Run Time"]
        st.cpu_ns += m["Executor CPU Time"]
        st.gc_ms += m["JVM GC Time"]
        st.spill += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
        sr = m["Shuffle Read Metrics"]
        st.sr_bytes += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
        st.fetch_ms += sr["Fetch Wait Time"]
        st.sw_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        st.out_bytes += m["Output Metrics"]["Bytes Written"]
        read = m["Input Metrics"]["Bytes Read"]
        st.in_bytes += read
        if read > 0:
            st.scan_ms += m["Executor Run Time"]
        for acc in e["Task Info"].get("Accumulables", ()):
            name = acc.get("Name")
            if name == _PY_RUN:
                st.py_run_ms += int(acc["Update"])
            elif name == _PY_START:
                st.py_start_ms += int(acc["Update"])
            elif name in _PY_BYTES:
                st.py_bytes += int(acc["Update"])


def _inside(t: float, spans: list[dict]) -> dict | None:
    for s in spans:
        if s["start"] <= t <= s["end"]:
            return s
    return None


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def rollup(log: EventLog, passes: list[dict], spans: list[dict], cores: int) -> list[dict]:
    """One dict of layer metrics per pass in ``passes``.

    ``spans`` are the benchmark's inner spans (``kind`` in ``op``,
    ``build``, ``exec``) with epoch-second ``start``/``end``; a job
    belongs to the pass and to the spans open at its submission."""
    builds = [s for s in spans if s["kind"] == "build"]
    ops = [s for s in spans if s["kind"] == "op"]
    out = []
    for p in passes:
        wall = p["end"] - p["start"]
        jobs = [j for j in log.jobs.values() if p["start"] <= j["submit"] <= p["end"]]
        stage_ids = {sid for j in jobs for sid in j["stages"]}
        stages = [log.stages[s] for s in stage_ids if s in log.stages]
        run_s = sum(s.run_ms for s in stages) / 1000.0
        cpu_s = sum(s.cpu_ns for s in stages) / 1e9
        busy = _union([(j["submit"], j["end"] or p["end"]) for j in jobs])

        first_job: dict[str, float] = {}
        for j in jobs:
            if j["sql"] is not None:
                first_job[j["sql"]] = min(first_job.get(j["sql"], j["submit"]), j["submit"])
        plan_s = sum(
            max(0.0, t - log.sql[int(x)]) for x, t in first_job.items() if int(x) in log.sql
        )

        stream_jobs = [j for j in jobs if j["stream"][0] is not None]
        stream_stages = [log.stages[s] for j in stream_jobs for s in j["stages"] if s in log.stages]
        s_run = sum(s.run_ms for s in stream_stages)
        s_cpu = sum(s.cpu_ns for s in stream_stages) / 1e6

        build_jobs = [j for j in jobs if _inside(j["submit"], builds) is not None]

        # the paper's WordCount phases, read off the stage timeline of
        # the wordcount op: map stages write shuffle and read none,
        # reduce stages read it, the sink stage writes the output
        wc_ops = [s for s in ops if s["name"] == "wordcount"]
        wc_jobs = [j for j in jobs if _inside(j["submit"], wc_ops) is not None]
        wc_stages = [log.stages[s] for j in wc_jobs for s in j["stages"] if s in log.stages]
        wc_stages = [s for s in wc_stages if s.tasks and s.submit]

        def stage_s(pred) -> float:
            return sum(s.complete - s.submit for s in wc_stages if pred(s))

        out.append({
            "spark.jobs": len(jobs),
            "spark.tasks": sum(s.tasks for s in stages),
            "spark.tasks_per_job": sum(s.tasks for s in stages) / max(len(jobs), 1),
            "spark.plan_s": plan_s,
            "spark.task_run_s": run_s,
            "spark.task_cpu_s": cpu_s,
            "spark.task_wait_frac": 1.0 - cpu_s / run_s if run_s > 0 else 0.0,
            "spark.gc_s": sum(s.gc_ms for s in stages) / 1000.0,
            "spark.shuffle_write_bytes": sum(s.sw_bytes for s in stages),
            "spark.shuffle_read_bytes": sum(s.sr_bytes for s in stages),
            "spark.fetch_wait_s": sum(s.fetch_ms for s in stages) / 1000.0,
            "spark.spill_bytes": sum(s.spill for s in stages),
            "spark.output_bytes": sum(s.out_bytes for s in stages),
            "spark.python_run_s": sum(s.py_run_ms for s in stages) / 1000.0,
            "spark.python_start_s": sum(s.py_start_ms for s in stages) / 1000.0,
            "spark.python_bytes": sum(s.py_bytes for s in stages),
            "spark.executor_busy_frac": run_s / (wall * cores) if wall > 0 else 0.0,
            "driver.share": 1.0 - busy / wall if wall > 0 else 0.0,
            "sources.input_bytes": sum(s.in_bytes for s in stages),
            "sources.scan_task_s": sum(s.scan_ms for s in stages) / 1000.0,
            "streaming.batches": len({j["stream"] for j in stream_jobs}),
            "streaming.wait_frac": 1.0 - s_cpu / s_run if s_run > 0 else 0.0,
            "queries.build_jobs": len(build_jobs),
            "operators.wordcount.map_s": stage_s(lambda s: s.sw_bytes > 0 and s.sr_bytes == 0),
            "operators.wordcount.shuffle_bytes": sum(s.sw_bytes for s in wc_stages),
            "operators.wordcount.reduce_s": stage_s(lambda s: s.sr_bytes > 0 and s.out_bytes == 0),
            "operators.wordcount.sink_s": stage_s(lambda s: s.out_bytes > 0),
        })
    return out
