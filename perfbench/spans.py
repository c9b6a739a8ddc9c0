"""Spans around layer calls, tagged onto Spark jobs, and the event-log
reader that attaches Spark's stage and SQL metrics to them.

A span is ``{id, name, parent, run, pass, phase, start, end}``. While a span
is open, every Spark job the thread starts carries the span's job group
(``<run>:<span id>``), so the event log ties stages and SQL plan metrics to
the innermost span. Spans are kept in memory and written out once.

``materialize`` (phase "mat") persists a layer's output and counts it at
the span boundary, so work a lazy plan would run later, inside another
layer's action, is charged to the layer that defined it.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

from jobs.bench_scaling import _parse_event_log


class Tracer:
    """Records spans when ``enabled``; a disabled tracer costs nothing."""

    def __init__(self, spark=None, run_id: str = "run"):
        self.sc = spark.sparkContext if spark is not None else None
        self.run_id, self.enabled = run_id, False
        self.mat = False
        self.phase, self.pass_no = "untraced", -1
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._cached: list = []
        self._patched: list = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "pass": self.pass_no, "phase": self.phase,
               "start": time.perf_counter(), "rows": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"{self.run_id}:{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(f"{self.run_id}:{self._stack[-1]['id']}",
                                    self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def materialize(self, df, rec: dict):
        """In phase "mat", cache ``df`` and count it inside the open span."""
        if not (self.enabled and self.mat):
            return df
        df = df.persist()
        n = df.count()
        rec["rows"] = (rec.get("rows") or 0) + n
        self._cached.append(df)
        return df

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def wrap(self, module, fn_name: str, name_of, materialize: bool = False) -> None:
        """Replace ``module.fn_name`` by a version that runs in a span named
        ``name_of(args, kwargs)`` (and materializes its DataFrame result)."""
        orig = getattr(module, fn_name)

        def traced(*args, **kwargs):
            with self.span(name_of(args, kwargs)) as rec:
                out = orig(*args, **kwargs)
                if materialize:
                    out = self.materialize(out, rec)
            return out

        setattr(module, fn_name, traced)
        self._patched.append((module, fn_name, orig))

    def unwrap(self) -> None:
        for module, fn_name, orig in reversed(self._patched):
            setattr(module, fn_name, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        """Spans as JSON lines, each with its duration and self time."""
        selfs = self_times(self.spans)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "dur_s": s["end"] - s["start"],
                                     "self_s": selfs[s["id"]]}) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part its direct children cover
    (children of one span never overlap: calls are sequential)."""
    child: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in spans}


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_SCAN_COLS = re.compile(r"\[([^\]]*)\]")


def _plan_metrics(info: dict, out: dict, scans: dict) -> None:
    """accumulator id -> (node name, metric name) over a SparkPlanInfo tree;
    for each file scan, its output-rows accumulator -> the columns it reads."""
    node = info.get("nodeName", "").strip()
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (node, m["name"])
        if node.startswith("Scan") and m["name"] == "number of output rows":
            cols = _SCAN_COLS.search(info.get("simpleString", ""))
            scans[m["accumulatorId"]] = tuple(
                c.strip().split("#")[0] for c in cols.group(1).split(",")) if cols else ()
    for ch in info.get("children", []):
        _plan_metrics(ch, out, scans)


def read_event_log(log_dir: str) -> dict:
    """Per job group: stages (``_parse_event_log``'s run/CPU/GC time, input
    and shuffle MB and min/median/max task time, plus spill and output MB),
    job count, SQL plan-node metrics ``{(node, metric): value}`` summed over
    the group's executions, and the file scans it ran as
    ``(columns read, rows output)``."""
    stages = {s["stage"]: s for s in _parse_event_log(log_dir)}
    extra: dict[int, dict] = {}
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    acc_meta: dict[int, tuple] = {}
    acc_exec: dict[int, int] = {}
    scan_cols: dict[int, tuple] = {}
    acc_val: dict[int, float] = {}
    for p in Path(log_dir).rglob("*"):
        if not p.is_file() or p.name.startswith("."):
            continue
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                et = ev.get("Event", "")
                if et == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    if g is None:
                        continue
                    job_group[ev["Job ID"]] = g
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_group.setdefault(int(eid), g)
                elif et == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc = {}
                    for a in info.get("Accumulables", []):
                        acc[a["Name"]] = a.get("Value", 0)
                        if not a["Name"].startswith("internal."):
                            try:  # SQL metrics: the value is the running total
                                acc_val[a["ID"]] = max(acc_val.get(a["ID"], 0.0),
                                                       float(a.get("Value", 0)))
                            except (TypeError, ValueError):
                                continue
                    extra[info["Stage ID"]] = {
                        "spill_mb": (int(acc.get("internal.metrics.memoryBytesSpilled", 0))
                                     + int(acc.get("internal.metrics.diskBytesSpilled", 0))) / 2**20,
                        "output_mb": int(acc.get("internal.metrics.output.bytesWritten", 0)) / 2**20,
                    }
                elif et.endswith(("SparkListenerSQLExecutionStart",
                                  "SparkListenerSQLAdaptiveExecutionUpdate")):
                    ids: dict[int, tuple] = {}
                    _plan_metrics(ev.get("sparkPlanInfo", {}), ids, scan_cols)
                    acc_meta.update(ids)
                    for aid in ids:
                        acc_exec.setdefault(aid, ev["executionId"])
                elif et.endswith("SparkListenerDriverAccumUpdates"):
                    for aid, v in ev.get("accumUpdates", []):
                        acc_val[aid] = acc_val.get(aid, 0.0) + float(v)
    groups: dict[str, dict] = {}

    def grp(g):
        return groups.setdefault(g, {"stages": [], "jobs": 0, "sql": {}, "scans": []})

    for g in job_group.values():
        grp(g)["jobs"] += 1
    for sid, g in stage_group.items():
        if sid in stages:
            grp(g)["stages"].append({**stages[sid], **extra.get(sid, {})})
    for aid, eid in acc_exec.items():
        g = exec_group.get(eid)
        if g is None or aid not in acc_val:
            continue
        sql = grp(g)["sql"]
        sql[acc_meta[aid]] = sql.get(acc_meta[aid], 0.0) + acc_val[aid]
        if aid in scan_cols:
            grp(g)["scans"].append((scan_cols[aid], acc_val[aid]))
    return groups


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
