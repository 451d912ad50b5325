"""Spans and Spark counters for the traced run.

A span covers one call into a layer of the program.  Spans are kept in
memory and written out when the run ends.  Every span also adds a Spark
job tag for its lifetime, so each Spark job is attributed to the op and
the innermost layer that launched it.  Job tags are inherited by the
threads Spark starts for a query (broadcasts, streaming triggers),
which a job group is not: a streaming query replaces the group.

With tracing off, ``span`` only yields and ops are timed by the caller.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager

TIMED_TAG = "pb-timed"


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "op": self._op, "tag": f"pb-span-{sid}", **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.addJobTag(rec["tag"])
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self.sc.removeJobTag(rec["tag"])
            self._stack.pop()

    @contextmanager
    def op(self, name: str, index: int):
        """Top-level span of one op; nested spans record it as ``op``."""
        self._op = f"{index}:{name}"
        try:
            with self.span("op", label=name, index=index):
                yield
        finally:
            self._op = None

    @contextmanager
    def timed_region(self):
        if self.enabled:
            self.sc.addJobTag(TIMED_TAG)
        try:
            yield
        finally:
            if self.enabled:
                self.sc.removeJobTag(TIMED_TAG)


# --- Spark status store (REST) -------------------------------------------


def _get(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=60) as r:
        return json.loads(r.read())


def _rest_base(sc) -> str:
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    return f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"


def _wait_settled(base: str, timeout_s: float = 60.0) -> list[dict]:
    """Jobs, once the listener bus has recorded every job's end."""
    deadline = time.monotonic() + timeout_s
    while True:
        jobs = _get(base, "/jobs")
        if all(j["status"] != "RUNNING" for j in jobs):
            return jobs
        if time.monotonic() > deadline:
            raise RuntimeError("Spark jobs still running after the timed region")
        time.sleep(0.2)


def spark_counters(sc, retained_jobs: int, retained_stages: int) -> tuple[dict, dict]:
    """({tag: counters}, attribution) for every job tag seen.

    Counts come from each job's tags, never from a diff of the global
    job list.  Raises when the status store may have evicted a job or a
    stage, because its counts would then be silently short."""
    base = _rest_base(sc)
    jobs = _wait_settled(base)
    stages = _get(base, "/stages?details=false")
    max_job = max((j["jobId"] for j in jobs), default=-1)
    if max_job + 1 > retained_jobs or len(jobs) != max_job + 1:
        raise RuntimeError(f"status store holds {len(jobs)} of {max_job + 1} jobs: "
                           f"raise spark.ui.retainedJobs ({retained_jobs})")
    by_stage: dict[int, list[dict]] = {}
    for s in stages:
        by_stage.setdefault(s["stageId"], []).append(s)
    if len(by_stage) > retained_stages:
        raise RuntimeError("stage count reached spark.ui.retainedStages")
    # a stage that several jobs list ran in the first of them
    owner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            owner.setdefault(sid, j["jobId"])
    # every job launched while the timed region ran, tagged or not
    timed = [j["jobId"] for j in jobs if TIMED_TAG in j.get("jobTags", [])]
    lo, hi = (min(timed), max(timed)) if timed else (0, -1)
    in_window = [j for j in jobs if lo <= j["jobId"] <= hi]
    attributed = sum(any(t.startswith("pb-span-") for t in j.get("jobTags", []))
                     for j in in_window)
    per_tag: dict[str, dict] = {}
    for j in jobs:
        tags = j.get("jobTags", [])
        own = [sid for sid in j["stageIds"] if owner[sid] == j["jobId"]]
        c = _stage_counters(j["jobId"], own, by_stage)
        for t in tags:
            acc = per_tag.setdefault(t, dict.fromkeys(c, 0))
            for k, v in c.items():
                acc[k] += v
    return per_tag, {"timed_jobs": len(in_window), "attributed_jobs": attributed}


def _stage_counters(job_id: int, stage_ids: list[int], by_stage: dict[int, list[dict]]) -> dict:
    c = {"jobs": 1, "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0, "shuffle_read": 0,
         "shuffle_write": 0, "spill": 0, "output_bytes": 0}
    for sid in stage_ids:
        attempts = by_stage.get(sid)
        if attempts is None:
            raise RuntimeError(f"stage {sid} of job {job_id} was evicted "
                               "from the status store")
        ran = [a for a in attempts if a["status"] != "SKIPPED"]
        c["stages"] += bool(ran)
        for a in ran:
            c["tasks"] += a["numCompleteTasks"] + a["numFailedTasks"] + a.get("numKilledTasks", 0)
            c["run_ms"] += a["executorRunTime"]
            c["cpu_ns"] += a["executorCpuTime"]
            c["shuffle_read"] += a["shuffleReadBytes"]
            c["shuffle_write"] += a["shuffleWriteBytes"]
            c["spill"] += a["memoryBytesSpilled"] + a["diskBytesSpilled"]
            c["output_bytes"] += a["outputBytes"]
    return c


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per layer: span time not covered by its child spans (children of
    one span run one after another, so their durations add up)."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - child.get(s["id"], 0.0)
    return out


def write_spans(path: str, spans: list[dict], counters: dict) -> None:
    with open(path, "w") as fh:
        for s in spans:
            fh.write(json.dumps({**s, "spark": counters.get(s["tag"], {})}) + "\n")
