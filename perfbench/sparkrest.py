"""Engine-layer metrics from Spark's own REST API.

Read after the timed jobs, so they cost the measurement nothing. Every
benchmark job runs under its own job group; a group's stages, SQL
executions and plan-node metrics are rolled up into ``spark.*`` (and the
``io.*``, ``ops.html.*`` and ``linkage.*`` counts that only the plan nodes
can see).
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from datetime import datetime, timezone

_UNITS = {
    "": 1.0, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
    "h": 3600.0, "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
    "TiB": 2.0**40,
}
_NUM = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_value(text: str) -> float:
    """A SQL metric string in base units (seconds, bytes or a count).

    Task-aggregated metrics read ``total (min, med, max (stageId:
    taskId))\\n7.7 s (1.2 s, ...)``: the total is the first value on the
    second line. Driver-side metrics are a bare value (``819 ms``,
    ``16.1 MiB``, ``2,000``)."""
    text = text.strip()
    if text.startswith("total"):
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    m = _NUM.fullmatch(text.strip())
    if m is None or m.group(2) not in _UNITS:
        raise ValueError(f"unparsed SQL metric value: {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def spark_bytes(size: int) -> str:
    """Spark's own rendering of a byte count (Utils.bytesToString)."""
    for unit, scale in (("TiB", 2**40), ("GiB", 2**30), ("MiB", 2**20), ("KiB", 2**10)):
        if size >= 2 * scale:
            return f"{size / scale:.1f} {unit}"
    return f"{size:.1f} B"


def _epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=timezone.utc).timestamp()


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class SparkRest:
    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def settle(self, groups: set[str], timeout_s: float = 30.0) -> None:
        """Wait until the status store has every job of ``groups`` finished
        (its listener runs behind the jobs)."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            jobs = [j for j in self.get("/jobs") if j.get("jobGroup") in groups]
            if all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs) and all(
                e["status"] != "RUNNING" for e in self.get("/sql?details=false")
            ):
                return
            time.sleep(0.2)

    def rollup(self, jobs: dict[str, tuple[float, float]],
               input_sizes: dict[str, int]) -> dict[str, dict]:
        """Per job group (tag -> wall interval), the engine metrics.

        ``input_sizes``: input table -> file size; a Scan node that read
        exactly one file of that rendered size is a scan of that input."""
        self.settle(set(jobs))
        all_jobs = self.get("/jobs")
        stages = {(s["stageId"], s["attemptId"]): s for s in self.get("/stages")}
        # the SQL list is paged (20 executions by default)
        sql = self.get("/sql?details=true&planDescription=false&offset=0&length=1000000")
        out = {}
        for tag, (t0, t1) in jobs.items():
            group = [j for j in all_jobs if j.get("jobGroup") == tag]
            job_ids = {j["jobId"] for j in group}
            sids = {sid for j in group for sid in j["stageIds"]}
            done = [s for (sid, _), s in stages.items()
                    if sid in sids and s["status"] == "COMPLETE"]
            execs = [e for e in sql if job_ids & set(
                e["successJobIds"] + e["failedJobIds"] + e["runningJobIds"])]
            m = _stage_metrics(done, t0, t1)
            m.update(_node_metrics(execs, input_sizes))
            m["spark.sql_executions"] = len(execs)
            longest = max(done, key=lambda s: s["executorRunTime"], default=None)
            m["spark.task_skew"] = self._skew(longest) if longest else 0.0
            out[tag] = m
        return out

    def _skew(self, stage: dict) -> float:
        q = self.get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                     "/taskSummary?quantiles=0.5,1.0")
        med, mx = q["executorRunTime"]
        return mx / med if med > 0 else 1.0


def _stage_metrics(done: list[dict], t0: float, t1: float) -> dict:
    tot = lambda k: sum(s.get(k, 0) or 0 for s in done)  # noqa: E731
    spans = [(_epoch(s["submissionTime"]), _epoch(s["completionTime"]))
             for s in done if s.get("submissionTime") and s.get("completionTime")]
    return {
        "spark.stages": len(done),
        "spark.tasks": tot("numCompleteTasks"),
        "spark.executor_cpu_s": tot("executorCpuTime") / 1e9,
        "spark.executor_run_s": tot("executorRunTime") / 1e3,
        "spark.gc_s": tot("jvmGcTime") / 1e3,
        "spark.exchange.write_s": tot("shuffleWriteTime") / 1e9,
        "spark.exchange.fetch_wait_s": tot("shuffleFetchWaitTime") / 1e3,
        "shuffle_mb": tot("shuffleWriteBytes") / 2**20,
        "spill_mb": (tot("memoryBytesSpilled") + tot("diskBytesSpilled")) / 2**20,
        "spark.driver_s": max(0.0, (t1 - t0) - _covered(spans, t0, t1)),
    }


# plan-node metric name -> rolled-up key, summed over nodes of that name
_NODE_SUMS = {
    "Scan": {"scan time": "io.scan_s"},
    "HashAggregate": {"time in aggregation build": "spark.agg.build_s"},
    "ObjectHashAggregate": {"time in aggregation build": "spark.agg.build_s"},
    "Sort": {"sort time": "spark.sort_s"},
    "BroadcastExchange": {"data size": "spark.broadcast.bytes",
                          "time to collect": "spark.broadcast.collect_s"},
}
_PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython",
                 "BatchEvalPython", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow")
_PYTHON_SUMS = {
    "time to run Python workers": "spark.python.run_s",
    "time to initialize Python workers": "spark.python.init_s",
    "data sent to Python workers": "spark.python.sent_bytes",
    "data returned from Python workers": "spark.python.returned_bytes",
}
_PASS_THROUGH = ("ColumnarToRow", "InputAdapter")


def _node_metrics(execs: list[dict], input_sizes: dict[str, int]) -> dict:
    out = {k: 0.0 for sums in (*_NODE_SUMS.values(), _PYTHON_SUMS) for k in sums.values()}
    out.update({"spark.exchange.count": 0, "io.input_scans": 0,
                "ops.html.pages_parsed": 0, "linkage.variant_rows": 0,
                "linkage.candidate_pairs": 0, "linkage.pairs_verified": 0})
    sizes = {spark_bytes(n) for n in input_sizes.values()}
    for e in execs:
        nodes = {n["nodeId"]: n for n in e["nodes"]}
        vals = {i: {m["name"]: m["value"] for m in n["metrics"]} for i, n in nodes.items()}
        child, parent = {}, {}
        for edge in e["edges"]:
            child.setdefault(edge["toId"], []).append(edge["fromId"])
            parent[edge["fromId"]] = edge["toId"]
        seen: set[int] = set()
        rows = lambda i: parse_value(vals[i].get("number of output rows", "0"))  # noqa: E731

        def input_scan(i: int) -> bool:
            v = vals[i]
            return (nodes[i]["nodeName"].startswith("Scan")
                    and v.get("number of files read") == "1"
                    and v.get("size of files read") in sizes and rows(i) > 0)

        for i, n in nodes.items():
            name = n["nodeName"]
            kind = "Scan" if name.startswith("Scan") else name
            for metric, key in _NODE_SUMS.get(kind, {}).items():
                if metric in vals[i]:
                    out[key] += parse_value(vals[i][metric])
            if name == "Exchange" and parse_value(vals[i].get("shuffle records written", "0")) > 0:
                out["spark.exchange.count"] += 1
            if input_scan(i):
                out["io.input_scans"] += 1
            if name in _PYTHON_NODES:
                for metric, key in _PYTHON_SUMS.items():
                    if metric in vals[i]:
                        out[key] += parse_value(vals[i][metric])
                # a Python pass fed straight by an input scan parses pages
                below = child.get(i, [])
                feed = below[0] if len(below) == 1 else None
                while feed is not None and nodes[feed]["nodeName"] in _PASS_THROUGH:
                    nxt = child.get(feed, [])
                    feed = nxt[0] if len(nxt) == 1 else None
                if feed is not None and input_scan(feed):
                    out["ops.html.pages_parsed"] += rows(feed)
            if name == "Generate" and rows(i) > 0:
                _explode_join(i, nodes, parent, rows, seen, out)
    return out


def _explode_join(i: int, nodes, parent, rows, seen: set, out: dict) -> None:
    """Candidate generation by an explode that feeds a join: the explode's
    rows (variants), the join's rows (candidate pairs) and, past the next
    exchange, the rows of the aggregate that deduplicates the pairs. An
    explode that feeds no join is not candidate generation."""
    j = parent.get(i)
    while j is not None and not nodes[j]["nodeName"].endswith("Join"):
        j = parent.get(j)
    if j is None:
        return
    out["linkage.variant_rows"] += rows(i)
    if j in seen:
        return
    seen.add(j)
    out["linkage.candidate_pairs"] += rows(j)
    exchanged = False
    while j is not None:
        name = nodes[j]["nodeName"]
        exchanged = exchanged or name == "Exchange"
        if exchanged and name == "HashAggregate":
            out["linkage.pairs_verified"] += rows(j)
            return
        j = parent.get(j)
