"""Attribute a Spark event log to the benchmark's spans and the engine's layers.

The benchmark records a span around every public call it makes into the
engine and every materializing action on the frames it gets back
(``Tracer`` below). After the traced session stops, its event log is read
here and each job goes to the innermost span whose interval contains the
job's submission time. Within that span each *stage* of the job goes to a
layer, first rule that matches:

0. jobs in spans under a ``setup`` or ``bench`` root are attributed but
   belong to no layer (warm-up and the benchmark's own count probes);
1. an ``ArrowEvalPython`` operator scope -> ``scoring`` (the pandas-UDF
   scorers; its stages are also the ``scoring.udf_s`` interval set);
2. a ``MapInPandas`` scope -> ``cc`` (the single-task union-find);
3. a ``WriteFiles`` scope, or a SQL plan that groups by
   ``input_file_name()`` (``CheckpointManager``'s per-file lineage
   scan) -> ``tableio``. A write stage carries the fused tail of the plan
   it writes, so ``tableio`` includes that last pipeline segment;
4. a ``Generate`` or ``ObjectHashAggregate`` scope -> ``blocking`` (band
   explode and per-bucket pair generation);
5. the job description: ``cogie:blocking-*`` -> ``blocking``,
   ``cogie:idf-*`` -> ``scoring``, ``cogie:cc-seed`` -> ``scoring`` (the
   pair, cascade and feature joins that feed the scorers materialize
   inside CC's seed checkpoint), any other ``cogie:cc-*`` -> ``cc``;
6. otherwise the span's own layer.

Self time of a span is its duration minus the part of it that its child
spans cover. Nothing here imports Spark; the tests feed canned events.
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import contextmanager, nullcontext

LAYERS = ("blocking", "scoring", "cc", "tableio", "incremental", "linkage")
OUTSIDE = ("setup", "bench")


# ---------------------------------------------------------------- spans
class Tracer:
    """In-memory span recorder: (id, name, layer, parent, start, end),
    times in epoch seconds so they compare with event-log timestamps."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        rec = self.add(name, layer, time.time(), None)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, layer: str, start: float, end: float | None,
            parent: int | None = None) -> dict:
        if parent is None and self._stack:
            parent = self._stack[-1]
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "parent": parent, "start": start, "end": end}
        self.spans.append(rec)
        return rec


class NullTracer:
    """Stand-in for untraced runs: records nothing."""

    def span(self, name: str, layer: str):
        return nullcontext({})


# layer of each committed CheckpointManager stage (lineage "stage" column)
COMMIT_LAYER = {"pairs": "blocking", "scored": "scoring", "cc_edges": "cc",
                "clusters": "linkage"}


def add_lineage_spans(tracer, call: dict, lineage: list[dict]) -> None:
    """Cut a resumable ``run_linkage`` call span into one child span per
    commit, using the commit timestamps ``CheckpointManager.lineage_df()``
    records: child k runs from commit k-1 (or the call start) to commit k."""
    start = call["start"]
    for row in sorted(lineage, key=lambda r: r["ts"]):
        end = min(float(row["ts"]), call["end"])
        name = row["stage"] if row["stage"] != "cc_edges" else f"cc_edges-{row['iteration']}"
        tracer.add(name, COMMIT_LAYER.get(row["stage"], call["layer"]), start, end,
                   parent=call["id"])
        start = end


def union_len(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
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


def clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_len(clip(kids.get(s["id"], []), s["start"], s["end"]))
        for s in spans
    }


# ------------------------------------------------------------ event log
def read_events(log_dir: str) -> list[dict]:
    """All events of the newest application under ``log_dir``, read with
    scripts/eventlog_metrics.py's v1/v2 + codec handling."""
    scripts = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    from eventlog_metrics import _event_files, _open_text, newest_log

    events = []
    for part in _event_files(newest_log(log_dir)):
        with _open_text(part) as f:
            for line in f:
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:
                    continue  # torn tail line
    return events


def _scope_names(stage_info: dict) -> set[str]:
    names = set()
    for rdd in stage_info.get("RDD Info", []):
        if rdd.get("Scope"):
            names.add(json.loads(rdd["Scope"])["name"].split(" (")[0].strip())
    return names


def parse(events: list[dict]) -> tuple[list[dict], dict[int, dict]]:
    """Jobs (id, start, end, desc, plan, stage ids) and stages (interval,
    operator scopes, summed task metrics) from raw listener events."""
    plans: dict[int, str] = {}
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, {
            "id": sid, "start": None, "end": None, "scopes": set(), "cpu_s": 0.0,
            "shuffle_write": 0, "bytes_written": 0, "tasks": 0,
        })

    for ev in events:
        kind = ev.get("Event", "")
        if kind.endswith("SQLExecutionStart"):
            plans[ev["executionId"]] = ev.get("physicalPlanDescription", "")
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            xid = props.get("spark.sql.execution.id")
            jobs[ev["Job ID"]] = {
                "id": ev["Job ID"], "start": ev["Submission Time"] / 1000, "end": None,
                "desc": props.get("spark.job.description") or "",
                "exec": int(xid) if xid not in (None, "") else None,
                "stage_ids": list(ev.get("Stage IDs", [])),
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stage(info["Stage ID"])
            if "Submission Time" in info:
                s = info["Submission Time"] / 1000
                st["start"] = s if st["start"] is None else min(st["start"], s)
            if "Completion Time" in info:
                e = info["Completion Time"] / 1000
                st["end"] = e if st["end"] is None else max(st["end"], e)
            st["scopes"] |= _scope_names(info)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            st = stage(ev["Stage ID"])
            st["tasks"] += 1
            st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            st["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            st["bytes_written"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    for j in jobs.values():
        j["plan"] = plans.get(j["exec"], "") if j["exec"] is not None else ""
        if j["end"] is None:
            j["end"] = j["start"]
    # a stage id listed by several jobs (reused shuffle output) ran in
    # the latest job submitted at or before the stage itself
    owner: dict[int, int] = {}
    for j in sorted(jobs.values(), key=lambda j: j["start"]):
        for sid in j["stage_ids"]:
            st = stages.get(sid)
            if st is None or st["start"] is None:
                continue
            if sid not in owner or j["start"] <= st["start"]:
                owner[sid] = j["id"]
    for j in jobs.values():
        j["stages"] = [sid for sid in j["stage_ids"] if owner.get(sid) == j["id"]]
    return sorted(jobs.values(), key=lambda j: j["start"]), stages


def stage_layer(scopes: set[str], desc: str, plan: str, span_layer: str) -> str:
    """Layer of one stage: rules 1-6 of the module docstring."""
    if "ArrowEvalPython" in scopes:
        return "scoring"
    if "MapInPandas" in scopes:
        return "cc"
    if "WriteFiles" in scopes or "input_file_name()" in plan:
        return "tableio"
    if scopes & {"Generate", "ObjectHashAggregate"}:
        return "blocking"
    if desc.startswith("cogie:blocking"):
        return "blocking"
    if desc.startswith("cogie:idf") or desc == "cogie:cc-seed":
        return "scoring"
    if desc.startswith("cogie:cc"):
        return "cc"
    return span_layer


def _innermost(spans: list[dict], t: float) -> dict | None:
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def _root_layer(by_id: dict[int, dict], span: dict) -> str:
    while span["parent"] is not None:
        span = by_id[span["parent"]]
    return span["layer"]


def attribute(events: list[dict], spans: list[dict]) -> dict:
    """Jobs -> spans -> layers. Returns per-layer totals over every
    *timed* span tree (roots whose layer is not setup/bench), the job
    and gap accounting of those roots, and the unattributed CPU share."""
    jobs, stages = parse(events)
    by_id = {s["id"]: s for s in spans}
    roots = [s for s in spans if s["parent"] is None and s["layer"] not in OUTSIDE]
    layers = {
        name: {"busy": [], "cpu_s": 0.0, "shuffle_write": 0, "bytes_written": 0}
        for name in LAYERS
    }
    total_cpu = sum(st["cpu_s"] for st in stages.values())
    attributed_cpu = 0.0  # CPU of stages whose job lies in some span
    timed_jobs = []
    udf, compaction, writes = [], [], 0
    for j in jobs:
        span = _innermost(spans, j["start"])
        if span is None:
            continue
        attributed_cpu += sum(stages[sid]["cpu_s"] for sid in j["stages"])
        if _root_layer(by_id, span) in OUTSIDE:
            continue  # rule 0: attributed, not timed
        timed_jobs.append(j)
        if "_base_" in j["plan"] and "InsertIntoHadoopFsRelationCommand" in j["plan"]:
            compaction.append((j["start"], j["end"]))
        wrote = False
        for sid in j["stages"]:
            st = stages[sid]
            layer = stage_layer(st["scopes"], j["desc"], j["plan"], span["layer"])
            acc = layers[layer]
            acc["busy"].append((st["start"], st["end"]))
            acc["cpu_s"] += st["cpu_s"]
            acc["shuffle_write"] += st["shuffle_write"]
            acc["bytes_written"] += st["bytes_written"]
            if "ArrowEvalPython" in st["scopes"]:
                udf.append((st["start"], st["end"]))
            wrote = wrote or "WriteFiles" in st["scopes"]
        writes += wrote
    wall = sum(r["end"] - r["start"] for r in roots)
    busy_jobs = sum(
        union_len(clip([(j["start"], j["end"]) for j in timed_jobs], r["start"], r["end"]))
        for r in roots
    )
    return {
        "layers": {
            name: {
                "busy_s": union_len(acc["busy"]),
                "cpu_s": acc["cpu_s"],
                "shuffle_bytes": acc["shuffle_write"],
                "bytes_written": acc["bytes_written"],
            }
            for name, acc in layers.items()
        },
        "udf_s": union_len(udf),
        "compact_s": union_len(compaction),
        "writes": writes,
        "jobs": len(timed_jobs),
        "wall_s": wall,
        "driver_gap_s": wall - busy_jobs,
        "total_cpu_s": total_cpu,
        "unattributed_cpu_share": 1 - attributed_cpu / total_cpu if total_cpu else 0.0,
    }


def span_table(spans: list[dict]) -> list[dict]:
    """Printable rows in start order: name indented by depth, layer,
    duration and self time."""
    selfs = self_times(spans)
    by_id = {s["id"]: s for s in spans}

    def depth(s):
        d = 0
        while s["parent"] is not None:
            s, d = by_id[s["parent"]], d + 1
        return d

    return [
        {"span": "  " * depth(s) + s["name"], "layer": s["layer"],
         "dur_s": round(s["end"] - s["start"], 3), "self_s": round(selfs[s["id"]], 3)}
        for s in sorted(spans, key=lambda s: s["start"])
    ]
