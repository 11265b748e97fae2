"""In-memory spans for the traced run, and the Spark work behind them.

A span has a name, start, end, parent and the id of the request (batch or
query) it belongs to.  Spans opened on helper threads (the pipeline's
concurrent write wave) take as parent the innermost span open on the
request's own thread.  Self time is a span's duration minus the part of it
covered by its children.  Spark work comes from the session's event log and
is attributed by job-submission time, so the lazily planned ingest and
operator stages are charged to the batch in which their jobs ran.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.hook_s = 0.0  # time spent inside tracing hooks themselves
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stacks: dict[int, list[tuple[int, str]]] = defaultdict(list)
        self._request: tuple[str, int] | None = None  # (request id, thread)

    @contextmanager
    def request(self, request_id: str, name: str):
        """Root span of one batch or query."""
        prev = self._request
        self._request = (request_id, threading.get_ident())
        try:
            with self.span(name):
                yield
        finally:
            self._request = prev

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        tid = threading.get_ident()
        stack = self._stacks[tid]
        if stack:
            parent = stack[-1][0]
        elif self._request and self._stacks[self._request[1]]:
            parent = self._stacks[self._request[1]][-1][0]
        else:
            parent = None
        sid = next(self._ids)
        req = self._request[0] if self._request else None
        stack.append((sid, name))
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append({"id": sid, "name": name, "parent": parent,
                                   "request": req, "start": start, "end": end})

    def wrap(self, owner, attr: str, span_name: str, after=None) -> None:
        """Replace ``owner.attr`` with a version that records a span; the
        optional ``after(result, args, kwargs)`` hook runs outside the timed
        span and its cost is booked as tracing overhead."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(span_name if isinstance(span_name, str)
                             else span_name(*args, **kwargs)):
                out = orig(*args, **kwargs)
            if after is not None:
                t0 = time.time()
                after(out, args, kwargs)
                with tracer._lock:
                    tracer.hook_s += time.time() - t0
            return out

        setattr(owner, attr, traced)

    # -- analysis ------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out = {}
        for s in self.spans:
            ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                         for c in children[s["id"]])
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in ivs:
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": selfs[s["id"]]}) + "\n")


def read_event_log(directory: str) -> tuple[list[dict], list[tuple[float, int]]]:
    """Jobs and SQL executions from the Spark event log the traced session
    writes: per job its submission time, completed tasks, executor run time,
    shuffle bytes written and source records read; per SQL execution its
    start time and the files its scans read."""
    import os

    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    file_metrics: dict[int, int] = {}   # accumulator id -> execution id
    executions: dict[int, list] = {}
    paths = sorted(os.path.join(root, n) for root, _d, names in os.walk(directory)
                   for n in names if not n.startswith("."))
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"job": jid, "submitted": ev["Submission Time"] / 1000.0,
                                 "tasks": 0, "task_s": 0.0, "shuffle_bytes": 0,
                                 "records_read": 0,
                                 "description": (ev.get("Properties") or {}).get(
                                     "spark.job.description")}
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"]))
                    tm = ev.get("Task Metrics") or {}
                    if job is None or not tm:
                        continue
                    job["tasks"] += 1
                    job["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    job["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    job["records_read"] += (tm.get("Input Metrics") or {}).get(
                        "Records Read", 0)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    eid = ev["executionId"]
                    executions[eid] = [ev["time"] / 1000.0, 0]
                    stack = [ev.get("sparkPlanInfo") or {}]
                    while stack:
                        node = stack.pop()
                        stack += node.get("children", [])
                        for m in node.get("metrics", []):
                            if m.get("name") == "number of files read":
                                file_metrics[m["accumulatorId"]] = eid
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc, value in ev.get("accumUpdates", []):
                        eid = file_metrics.get(acc)
                        if eid in executions:
                            executions[eid][1] += int(value)
    return list(jobs.values()), [tuple(v) for v in executions.values()]


def attribute_jobs(jobs: list[dict], windows: list[tuple[float, float]]) -> list[dict]:
    """Sum the Spark work of the jobs submitted inside each time window."""
    out = []
    for a, b in windows:
        sel = [j for j in jobs if a <= j["submitted"] <= b]
        out.append({"jobs": len(sel), "tasks": sum(j["tasks"] for j in sel),
                    "task_s": sum(j["task_s"] for j in sel),
                    "shuffle_bytes": sum(j["shuffle_bytes"] for j in sel)})
    return out
