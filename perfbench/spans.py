"""Spans around the benchmark's calls into the engine's layers.

A span records its name, start, end, parent and the op it belongs to.
Each span runs under its own Spark job group, so the jobs (and through
them the stages) Spark's status store lists afterwards attribute to the
span that launched them: a nested span's jobs belong to it, not to its
parent. Spans stay in memory; :meth:`Tracer.harvest` joins them with the
status store once the timed region is over, and the run writes them out
at exit.

A disabled tracer's :meth:`span` does nothing, so the untraced run times
the same calls without the bookkeeping.
"""

from __future__ import annotations

import contextlib
import time

from tools import spark_rest


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._children: dict[int, list[dict]] = {}
        self._group_prefix = f"pb{time.monotonic_ns()}-"

    def _set_group(self, sid: int | None) -> None:
        sc = self.spark.sparkContext
        if sid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(self._group_prefix + str(sid), self.spans[sid]["name"])

    @contextlib.contextmanager
    def span(
        self, name: str, op: str | None = None, pass_no: int | None = None,
        detail: str | None = None,
    ):
        """Time one layer call. ``op`` and ``pass_no`` default to the
        enclosing span's."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self.spans[self._stack[-1]] if self._stack else None
        rec = {
            "id": sid,
            "name": name,
            "op": op if op is not None or parent is None else parent["op"],
            "pass": pass_no if pass_no is not None or parent is None else parent["pass"],
            "detail": detail,
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def harvest(self, settle_s: float = 30.0) -> None:
        """Attach each span's Spark jobs and stage metrics, and its self
        time (duration minus the part its children cover)."""
        prefix = self._group_prefix
        jobs: list[dict] = []
        deadline = time.monotonic() + settle_s
        while True:
            jobs = [
                j for j in spark_rest.api(self.spark, "jobs")
                if str(j.get("jobGroup", "")).startswith(prefix)
            ]
            running = any(j["status"] == "RUNNING" for j in jobs)
            if not running or time.monotonic() > deadline:
                break
            time.sleep(spark_rest.SETTLE_S)
        by_stage: dict[int, list[dict]] = {}
        for st in spark_rest.api(self.spark, "stages"):
            by_stage.setdefault(st["stageId"], []).append(st)
        for rec in self.spans:
            rec.update(jobs=0, stages=[])
        # A stage another job already ran is listed again (as skipped) by
        # every later job that reuses its output: the earliest job owns it.
        claimed: set[tuple[int, int]] = set()
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            rec = self.spans[int(j["jobGroup"][len(prefix):])]
            rec["jobs"] += 1
            for stage_id in j.get("stageIds", []):
                for st in by_stage.get(stage_id, []):
                    key = (st["stageId"], st["attemptId"])
                    if st["status"] == "COMPLETE" and key not in claimed:
                        claimed.add(key)
                        rec["stages"].append(_stage_record(st))
        self._children = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                self._children.setdefault(rec["parent"], []).append(rec)
        for rec in self.spans:
            dur = rec["end"] - rec["start"]
            covered = sum(c["end"] - c["start"] for c in self._children.get(rec["id"], []))
            rec["dur_s"] = dur
            rec["self_s"] = max(0.0, dur - covered)

    def task_skew(self, stage: dict) -> float:
        """max/median task run time of one completed stage."""
        summary = spark_rest.task_summary(self.spark, stage["id"], stage["attempt"])
        med, mx = summary["executorRunTime"]
        return mx / med if med > 0 else 1.0

    def descendants(self, rec: dict) -> list[dict]:
        """``rec`` and every span nested under it."""
        out, todo = [], [rec]
        while todo:
            r = todo.pop()
            out.append(r)
            todo.extend(self._children.get(r["id"], []))
        return out


def _stage_record(st: dict) -> dict:
    return {
        "id": st["stageId"],
        "attempt": st["attemptId"],
        "tasks": st.get("numCompleteTasks", st.get("numTasks", 0)),
        "run_s": st.get("executorRunTime", 0) / 1e3,
        "cpu_s": st.get("executorCpuTime", 0) / 1e9,
        "input_mb": st.get("inputBytes", 0) / 2**20,
        "shuffle_read_mb": st.get("shuffleReadBytes", 0) / 2**20,
        "shuffle_write_mb": st.get("shuffleWriteBytes", 0) / 2**20,
        "spill_mb": (st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)) / 2**20,
    }
