"""Spans around calls into the program's layers, joined with Spark's
own stage and SQL metrics.

A span is (id, name, start, end, parent, op). While a span is open its
id is the Spark job group, so every Spark job, stage and SQL execution
started inside it attributes to it. Spans stay in memory; ``collect``
reads the Spark UI REST API once, at the end of the run, and joins the
stage and SQL metrics onto each span.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    op: int
    parent: str | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    stages: list = field(default_factory=list)
    sql: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and tags Spark jobs with the innermost span id."""

    enabled = True

    def __init__(self, sc):
        self._sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: int):
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"pb{len(self.spans)}", name, op,
                  parent.id if parent else None, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self._sc.setJobGroup(sp.id, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.id, parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def collect(self, ui_url: str, timeout_s: float = 10.0) -> None:
        """Join Spark REST stage and SQL metrics onto the spans."""
        api = ui_url.rstrip("/") + "/api/v1/applications"
        app = _get(api)[0]["id"]
        base = f"{api}/{app}"
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = _get(f"{base}/jobs")
            if all(j["status"] != "RUNNING" for j in jobs) or (
                time.monotonic() > deadline
            ):
                break
            time.sleep(0.2)
        stages = {s["stageId"]: s for s in _get(f"{base}/stages")
                  if s["status"] == "COMPLETE"}
        sqls = _get(f"{base}/sql?details=true&planDescription=false"
                    "&offset=0&length=100000")
        by_id = {s.id: s for s in self.spans}
        job_span = {}
        for j in jobs:
            sp = by_id.get(j.get("jobGroup"))
            if sp is None:
                continue
            job_span[j["jobId"]] = sp
            sp.stages += [stages[i] for i in j["stageIds"] if i in stages]
        for q in sqls:
            ids = q.get("successJobIds", []) + q.get("failedJobIds", [])
            owners = {job_span[i].id for i in ids if i in job_span}
            for sid in owners:
                by_id[sid].sql.append(q)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([{
                "id": s.id, "name": s.name, "op": s.op, "parent": s.parent,
                "start": s.start, "end": s.end, "counts": s.counts,
                "stages": [{k: st.get(k) for k in STAGE_KEYS} | {
                    "stageId": st["stageId"]} for st in s.stages],
                "sql_nodes": [
                    {"execution": q["id"], "node": n["nodeName"],
                     "metrics": {m["name"]: m["value"] for m in n["metrics"]}}
                    for q in s.sql for n in q.get("nodes", [])
                ],
            } for s in self.spans], fh)


class NullTracer:
    """Same interface, records nothing and never touches Spark."""

    enabled = False

    @contextmanager
    def span(self, name: str, op: int):
        yield Span("", name, op, None, time.perf_counter())


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


STAGE_KEYS = ("numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
              "inputBytes", "outputBytes", "shuffleWriteBytes",
              "shuffleReadBytes", "memoryBytesSpilled", "diskBytesSpilled")


def stage_sum(spans, key: str) -> float:
    """Sum a stage metric over spans (each stage counted once)."""
    seen = {}
    for sp in spans:
        for st in sp.stages:
            seen[st["stageId"]] = st.get(key) or 0
    return float(sum(seen.values()))


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
          "TiB": 1024.0 ** 4}
_TOTAL_RE = re.compile(r"^\s*([\d.,]+)\s*([A-Za-z]+)?")


def metric_value(text: str) -> float:
    """Parse a Spark UI SQL metric string: a plain count ("1,234") or
    an aggregate ("total (min, med, max ...)\\n12.3 s (...)"), whose
    total is returned in seconds or bytes."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _TOTAL_RE.match(text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


def sql_metric(spans, node_pred, metric: str) -> list[float]:
    """Values of ``metric`` on SQL nodes matching ``node_pred`` (each
    execution counted once)."""
    out, seen = [], set()
    for sp in spans:
        for q in sp.sql:
            if q["id"] in seen:
                continue
            seen.add(q["id"])
            for n in q.get("nodes", []):
                if node_pred(n["nodeName"]):
                    for m in n["metrics"]:
                        if m["name"] == metric:
                            out.append(metric_value(m["value"]))
    return out


_STAGE_RE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")


def cover_stage_tasks(span) -> int:
    """Tasks of the stage(s) that ran the point-in-polygon cover UDF in
    ``span``: the Python-UDF node fed by the region-table scan and not
    by the point batch (a local table). Its stage ids come from the
    node's timing metrics, the task counts from the stage data."""
    tasks = {st["stageId"]: st["numTasks"] for st in span.stages}
    stage_ids = set()
    for q in span.sql:
        names = {n["nodeId"]: n["nodeName"] for n in q.get("nodes", [])}
        inputs: dict[int, list[int]] = {}
        for e in q.get("edges", []):
            inputs.setdefault(e["toId"], []).append(e["fromId"])

        def leaves(node, seen):
            kids = [k for k in inputs.get(node, []) if k not in seen]
            seen.update(kids)
            if not kids:
                return {names.get(node, "")}
            return set().union(*(leaves(k, seen) for k in kids))

        for n in q.get("nodes", []):
            if n["nodeName"] != "ArrowEvalPython":
                continue
            src = leaves(n["nodeId"], set())
            if any(s.startswith("Scan") for s in src) and \
                    "LocalTableScan" not in src:
                for m in n["metrics"]:
                    stage_ids.update(int(s) for s in _STAGE_RE.findall(m["value"]))
    found = [tasks[s] for s in stage_ids if s in tasks]
    if not found:
        raise RuntimeError(f"span {span.id}: no stage ran the cover UDF")
    return sum(found)
