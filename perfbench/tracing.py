"""Tracing for the ``--trace 1`` run: spans recorded around each call the
benchmark makes into the engine, and Spark job/stage spans and metrics
read back from the REST API by the operation's job group.

Span tree of one operation (``request``)::

    request ─┬─ build ─┬─ promql_expr.parse (per parse_expr call)
             │         └─ spark.job (eager jobs, submitted during build)
             └─ action ── spark.job ── spark.stage

Setup steps (``session.start``, ``writer.write_sorted``,
``sources.build``, ``oracle.duckdb``, the ingest layer probes) are spans
of request 0.  Spans live in memory and are written out when the run
ends.  A layer's self time is its span's duration minus the part its
children cover.
"""

from __future__ import annotations

import itertools
import json
import re
import statistics
import time
import urllib.request
from dataclasses import asdict, dataclass
from datetime import datetime


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    request: int


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        # (span id, request id) of the open build span; parse_expr attaches to it
        self.current: tuple[int, int] | None = None

    def new_id(self) -> int:
        return next(self._ids)

    def add(self, name, start, end, parent, request, span_id=None) -> int:
        sid = span_id or self.new_id()
        self.spans.append(Span(name, start, end, sid, parent, request))
        return sid

    def wrap_parse(self, module) -> None:
        """Time ``module.parse_expr`` calls as ``promql_expr.parse`` spans
        under the open build span."""
        inner = module.parse_expr
        tracer = self

        def parse_expr(*args, **kwargs):
            t0 = time.time()
            try:
                return inner(*args, **kwargs)
            finally:
                cur = tracer.current
                if cur is not None:
                    tracer.add("promql_expr.parse", t0, time.time(), cur[0], cur[1])

        module.parse_expr = parse_expr

    def keep_requests(self, requests: set[int]) -> None:
        """Drop spans of requests outside ``requests`` (and setup, 0)."""
        self.spans = [s for s in self.spans if s.request in requests or s.request == 0]

    def self_times(self, setup: bool = False) -> dict[str, dict]:
        """Per span name: count, total time and self time (span minus
        the union of its children's intervals), in seconds; over the
        setup spans, or else over the requests."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, dict] = {}
        for s in self.spans:
            if (s.request == 0) != setup:
                continue
            covered, hi = 0.0, s.start
            for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
                lo, end = max(c.start, hi), min(c.end, s.end)
                if end > lo:
                    covered += end - lo
                    hi = end
            row = out.setdefault(s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += s.end - s.start
            row["self_s"] += s.end - s.start - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]}, fh)


# ---------------------------------------------------------------------------
# Spark's REST API (the UI is on in the traced run)

def _rest(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}", timeout=30) as r:
        return json.load(r)


def epoch(s: str | None) -> float | None:
    # "2026-10-17T03:40:00.123GMT"
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _sql_size(value: str) -> float:
    """Total of a size SQLMetric as the SQL REST API prints it, e.g.
    ``"total (min, med, max (stageId: taskId))\\n1.2 MiB (...)"``."""
    m = re.search(r"([\d.,]+) (B|KiB|MiB|GiB|TiB)", value)
    return float(m.group(1).replace(",", "")) * _SIZE[m.group(2)] if m else 0.0


class SparkStats:
    """Jobs, stages and SQL executions of the application, keyed by job
    group (one group per benchmark operation)."""

    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def collect(self, groups: set[str], timeout_s: float = 30.0) -> dict:
        deadline = time.time() + timeout_s
        while True:
            jobs = [j for j in _rest(self.base, "/jobs") if j.get("jobGroup") in groups]
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                break
            time.sleep(0.2)
        stages = {
            s["stageId"]: s
            for s in _rest(self.base, "/stages?withSummaries=true&quantiles=0.5,1.0")
            if s["status"] == "COMPLETE"
        }
        sqls = _rest(self.base, "/sql?details=true&planDescription=false&offset=0&length=1000000")
        job_group = {j["jobId"]: j["jobGroup"] for j in jobs}
        per_group: dict[str, dict] = {g: {"jobs": [], "stages": [], "python": [0.0, 0.0]} for g in groups}
        for j in jobs:
            per_group[j["jobGroup"]]["jobs"].append(j)
            per_group[j["jobGroup"]]["stages"].extend(
                stages[sid] for sid in j["stageIds"] if sid in stages
            )
        for ex in sqls:
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", [])
            g = next((job_group[i] for i in ids if i in job_group), None)
            if g is None:
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == "data sent to Python workers":
                        per_group[g]["python"][0] += _sql_size(m["value"])
                    elif m["name"] == "data returned from Python workers":
                        per_group[g]["python"][1] += _sql_size(m["value"])
        return per_group


def stage_summary(stages: list[dict]) -> dict[str, float]:
    out = {
        "stages": len(stages),
        "tasks": sum(s["numTasks"] for s in stages),
        "one_task_stages": sum(1 for s in stages if s["numTasks"] == 1),
        "run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
        "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
        "input_bytes": sum(s["inputBytes"] for s in stages),
        "input_rows": sum(s["inputRecords"] for s in stages),
        "task_skew": 1.0,
    }
    for s in stages:
        dist = (s.get("taskMetricsDistributions") or {}).get("executorRunTime")
        if s["numTasks"] > 1 and dist and dist[0] > 0:
            out["task_skew"] = max(out["task_skew"], dist[1] / dist[0])
    return out


def job_spans(tracer: Tracer, group_stats: dict, request: int, build: tuple, action_id: int, build_id: int) -> None:
    """Spark job and stage spans for one operation: jobs submitted before
    the action began belong to the build span, the rest to the action."""
    stages = {s["stageId"]: s for s in group_stats["stages"]}
    for j in group_stats["jobs"]:
        start, end = epoch(j.get("submissionTime")), epoch(j.get("completionTime"))
        if start is None or end is None:
            continue
        parent = build_id if start < build[1] else action_id
        jid = tracer.add("spark.job", start, end, parent, request)
        for sid in j["stageIds"]:
            s = stages.get(sid)
            if s is None:
                continue
            s0 = epoch(s.get("submissionTime"))
            s1 = epoch(s.get("completionTime"))
            if s0 is not None and s1 is not None:
                tracer.add("spark.stage", s0, s1, jid, request)


def catalyst_phases(df) -> dict[str, float]:
    """QueryPlanningTracker phase durations (seconds) of the DataFrame's
    QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
