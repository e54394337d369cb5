"""Tracing for the benchmark's traced run.

Spans are recorded only in the benchmark's own files: ``Tracer.install``
wraps public entry points of each layer (module attributes and class
methods) for the duration of the traced pass and ``uninstall`` restores
them. A span is (name, start, end, parent, trigger); spans stay in
memory and are written out once at the end.

Two more sources feed the per-layer metrics: each streaming query's
``StreamingQueryProgress`` and Spark's REST API (stages, jobs and SQL
node metrics), read with the UI enabled in the traced run only.
"""

from __future__ import annotations

import contextlib
import json
import re
import threading
import time
import urllib.request
from datetime import datetime, timezone


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
            self._local.trigger = None
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, trigger: str | None = None):
        stack = self._stack()
        prev_trigger = self._local.trigger
        if trigger is not None:
            self._local.trigger = trigger
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": stack[-1] if stack else None,
               "trigger": self._local.trigger}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self._local.trigger = prev_trigger

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000.0 for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    # -- wrappers ----------------------------------------------------------

    def _wrap(self, owner, attr: str, name: str, trigger_of=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            trig = trigger_of(args) if trigger_of else None
            with tracer.span(name, trig):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap each layer's public calls (see the module docstring)."""
        from dataflow_flex_templates_spark.graph import build
        from dataflow_flex_templates_spark.spec import parser
        from dataflow_flex_templates_spark.streaming import sink, spec_stream

        self._wrap(parser, "parse_job_spec", "spec.parse")
        for mod in (spec_stream, build):
            self._wrap(mod, "refactor_job_spec", "spec.refactor")
            self._wrap(mod, "validate_job_spec", "spec.validate")
            self._wrap(mod, "apply_target", "plans.apply_target")
        self._wrap(build, "run_job", "graph.run_job")
        job = spec_stream.SpecStreamJob
        self._wrap(job, "_write_batch", "stream.foreach_batch",
                   lambda a: f"rows:{a[2]}")
        self._wrap(job, "prepare_batch", "stream.prepare_batch")
        tbl = sink.ExactlyOnceTable
        self._wrap(tbl, "write_batch", "sink.write_batch",
                   lambda a: f"{a[0].path.rsplit('/', 1)[-1]}:{a[2]}")
        self._wrap(tbl, "read_merged", "sink.read_merged")

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


# ---------------------------------------------------------------- progress

def progress_of(query) -> list[dict]:
    """Every retained ``StreamingQueryProgress`` of a query, as dicts."""
    out = []
    for p in query.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
    return out


# -------------------------------------------------------------------- REST

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1.0, "s": 1000.0, "m": 60000.0, "h": 3600000.0}


def parse_metric(value: str) -> float:
    """Total of a Spark SQL metric as shown by the UI ("2.6 s",
    "10.5 MiB", "507", or the "total (min, med, max ...)" form)."""
    line = value.split("\n")[1] if "\n" in value else value
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


def _rest_time(s: str) -> float:
    return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


class Rest:
    """Spark REST API of the current application, for one traced pass:
    ``mark()`` before it, ``collect()`` after it."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self._sc = sc
        self._base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.floor = {"sql": -1, "stage": -1, "job": -1}

    def get(self, path: str):
        with urllib.request.urlopen(f"{self._base}/{path}", timeout=30) as r:
            return json.load(r)

    def drain_events(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(30000)

    def _all(self):
        self.drain_events()
        sql = self.get("sql?details=true&planDescription=false"
                       "&offset=0&length=100000")
        stages = self.get("stages")
        jobs = self.get("jobs")
        return sql, stages, jobs

    def mark(self) -> None:
        sql, stages, jobs = self._all()
        self.floor = {
            "sql": max((int(e["id"]) for e in sql), default=-1),
            "stage": max((int(s["stageId"]) for s in stages), default=-1),
            "job": max((int(j["jobId"]) for j in jobs), default=-1),
        }

    def collect(self) -> "RestSnapshot":
        sql, stages, jobs = self._all()
        return RestSnapshot(
            self,
            [e for e in sql if int(e["id"]) > self.floor["sql"]],
            [s for s in stages if int(s["stageId"]) > self.floor["stage"]],
            [j for j in jobs if int(j["jobId"]) > self.floor["job"]])


class RestSnapshot:
    def __init__(self, rest: Rest, sql: list, stages: list, jobs: list):
        self.rest, self.sql, self.stages, self.jobs = rest, sql, stages, jobs

    def node_metric(self, node_prefix: str, metric: str) -> float:
        """Sum of a SQL metric over the plan nodes whose name starts
        with ``node_prefix`` ("" for every node)."""
        total = 0.0
        for e in self.sql:
            for n in e.get("nodes", []):
                if not n["nodeName"].startswith(node_prefix):
                    continue
                for m in n.get("metrics", []):
                    if m["name"] == metric:
                        total += parse_metric(m["value"])
        return total

    def stage_sum(self, key: str) -> float:
        return float(sum(s.get(key, 0) or 0 for s in self.stages
                         if s.get("status") == "COMPLETE"))

    def task_skew(self, top: int = 5) -> float:
        """Max over the ``top`` busiest stages of their slowest task's
        run time divided by their median task's."""
        busiest = sorted((s for s in self.stages
                          if s.get("status") == "COMPLETE"
                          and s.get("numCompleteTasks", 0) > 1),
                         key=lambda s: -s.get("executorRunTime", 0))[:top]
        worst = 0.0
        for s in busiest:
            q = self.rest.get(f"stages/{s['stageId']}/{s['attemptId']}"
                              "/taskSummary?quantiles=0.5,1.0")
            med, mx = q["executorRunTime"]
            if med > 0:
                worst = max(worst, mx / med)
        return worst

    def jobs_in_group(self, group: str) -> list[dict]:
        return [j for j in self.jobs if j.get("jobGroup") == group]

    def job_ms_within(self, group: str, start: float, end: float) -> float:
        """Summed wall of the group's jobs that ran inside [start, end]."""
        total = 0.0
        for j in self.jobs_in_group(group):
            if "completionTime" not in j:
                continue
            js, je = _rest_time(j["submissionTime"]), _rest_time(
                j["completionTime"])
            if js >= start - 0.002 and je <= end + 0.002:
                total += (je - js) * 1000.0
        return total
