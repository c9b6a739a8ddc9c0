"""Per-layer metrics of a traced run.

The traced run makes passes in three phases, taken in turn:

- ``untraced``: no spans — the reference for tracing overhead;
- ``spans``: spans around every layer call, Spark jobs tagged with the span,
  the plan left as the program builds it. Counts, bytes and re-evaluation
  ratios come from here, read off the event log, as do the times of layers
  that run their own Spark actions (checkpoint, the format engines);
- ``mat``: each lazy layer's output — scan, token kernel, each pipeline
  branch — is persisted and counted at its span boundary, so its time is its
  own. Scan, kernel and pipeline times and row counts come from here.

Every metric is the median over the phase's passes. A layer the workload
does not run reports 0. Scan and pipeline metrics cover the point-in-time
part of a pass only (see ``workloads.PARTS``).
"""

from __future__ import annotations

from perfbench.spans import median, self_times

PHASES = ("untraced", "spans", "mat")
ENGINES = ("jsonq", "selector", "xpath", "render")
MB = 2**20

# metric name -> unit, in report order
UNITS = {
    "session.start_s": "s", "queries.import_s": "s", "segmented.detect_s": "s",
    "segmented.hot_keys": "count", "warmup.s": "s", "peak_rss_mb": "MB",
    "scan.s": "s", "scan.rows": "rows", "scan.mb": "MB",
    "pipeline.normal_s": "s", "pipeline.normal_rows": "rows",
    "pipeline.hot_s": "s", "pipeline.hot_rows": "rows", "pipeline.hot_jobs": "count",
    "pipeline.shuffle_mb": "MB", "pipeline.spill_mb": "MB", "pipeline.gc_s": "s",
    "pipeline.task_skew": "ratio",
    "token_kernels.s": "s", "token_kernels.rows_per_input_row": "ratio",
    "token_kernels.bytes_to_python": "MB", "token_kernels.bytes_from_python": "MB",
    "checkpoint.snapshot_s": "s", "checkpoint.write_s": "s", "checkpoint.write_mb": "MB",
    "checkpoint.buckets_written": "count", "checkpoint.verify_s": "s",
    "checkpoint.resume_s": "s", "checkpoint.pipeline_evals": "count",
    **{f"{e}.{m}": u for e in ENGINES
       for m, u in (("s", "s"), ("docs", "rows"), ("matches", "rows"),
                    ("bytes_to_python", "MB"))},
    "engines.shuffle_mb": "MB", "trace.overhead_s": "s",
}


def install(tr) -> None:
    """Wrap the layer functions the pass reaches only indirectly."""
    from perfbench.workloads import mod  # noqa: PLC0415

    tr.wrap(mod("pipeline"), "fused_pit_features",
            lambda a, k: "pipeline.hot" if k.get("bucket_us") is not None else "pipeline.normal",
            materialize=True)
    tr.wrap(mod("functions.token_kernels"), "token_features_arrow",
            lambda a, k: "token_kernels", materialize=True)
    ck = mod("checkpoint")
    tr.wrap(ck, "input_snapshot_id", lambda a, k: "checkpoint.snapshot")
    tr.wrap(ck, "write_partition", lambda a, k: "checkpoint.write")


def _pass_spans(spans, phase):
    passes: dict[int, list[dict]] = {}
    for s in spans:
        if s["phase"] == phase:
            passes.setdefault(s["pass"], []).append(s)
    return list(passes.values())


def _under(spans, name):
    """The spans of one pass inside the span ``name``, itself included
    (a parent opens, so is recorded, before its children)."""
    ids: set[int] = set()
    for s in spans:
        if s["name"] == name or s["parent"] in ids:
            ids.add(s["id"])
    return [s for s in spans if s["id"] in ids]


def _events_of(spans, events, run_id, names=None):
    """Stages, job count and SQL metrics of the given spans' job groups."""
    out = {"stages": [], "jobs": 0, "sql": {}, "scans": []}
    for s in spans:
        if names is not None and s["name"] not in names:
            continue
        g = events.get(f"{run_id}:{s['id']}")
        if g is None:
            continue
        out["stages"] += g["stages"]
        out["jobs"] += g["jobs"]
        out["scans"] += g["scans"]
        for k, v in g["sql"].items():
            out["sql"][k] = out["sql"].get(k, 0.0) + v
    return out


def _sql(ev, node, metric) -> float:
    return sum(v for (n, m), v in ev["sql"].items() if n == node and m == metric)


def _scan_rows(wl, ev, table) -> float:
    return sum(rows for cols, rows in ev["scans"] if wl.scanned(cols)[0] == table)


def _task_skew(stages) -> float:
    """max/median task time of the busiest shuffle-reading stage."""
    reads = [s for s in stages if s["shuf_read_mb"] > 0 and "task_ms_min_med_max" in s]
    if not reads:
        return 0.0
    _, med, top = max(reads, key=lambda s: s["run_ms"])["task_ms_min_med_max"]
    return top / med if med else 0.0


def _dur(spans, name) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def compute(spans, events, wl, times, fixed: dict) -> dict:
    """Per-layer metrics; ``fixed`` holds the cold set-up cycle's parts and
    the peak RSS of the untraced passes."""
    run_id = spans[0]["run"] if spans else ""
    selfs = self_times(spans)
    per: dict[str, list[float]] = {k: [] for k in UNITS}

    pit_rows = wl.part_rows[wl.pit]
    for ps in _pass_spans(spans, "spans"):
        ev = _events_of(_under(ps, wl.pit), events, run_id)
        st = ev["stages"]
        per["scan.mb"].append(sum(wl.scanned(cols)[1] for cols, rows in ev["scans"] if rows))
        per["pipeline.shuffle_mb"].append(sum(s["shuf_write_mb"] for s in st))
        per["pipeline.spill_mb"].append(sum(s["spill_mb"] for s in st))
        per["pipeline.gc_s"].append(sum(s["gc_ms"] for s in st) / 1000)
        per["pipeline.task_skew"].append(_task_skew(st))
        if wl.pit == "pit_resumable":
            per["token_kernels.rows_per_input_row"].append(
                _sql(ev, "MapInArrow", "number of output rows") / pit_rows)
            per["token_kernels.bytes_to_python"].append(
                _sql(ev, "MapInArrow", "data sent to Python workers") / MB)
            per["token_kernels.bytes_from_python"].append(
                _sql(ev, "MapInArrow", "data returned from Python workers") / MB)
            per["checkpoint.snapshot_s"].append(_dur(ps, "checkpoint.snapshot"))
            per["checkpoint.write_s"].append(_dur(ps, "checkpoint.write"))
            per["checkpoint.buckets_written"].append(
                sum(1 for s in ps if s["name"] == "checkpoint.write"))
            per["checkpoint.write_mb"].append(sum(
                s["output_mb"] for s in _events_of(ps, events, run_id, {"checkpoint.write"})["stages"]))
            per["checkpoint.verify_s"].append(_dur(ps, "checkpoint.verify"))
            per["checkpoint.resume_s"].append(_dur(ps, "checkpoint.resume"))
            ck = _events_of(ps, events, run_id, {"checkpoint.run", "checkpoint.resume",
                                                 "checkpoint.snapshot", "checkpoint.write"})
            per["checkpoint.pipeline_evals"].append(
                _scan_rows(wl, ck, "sequences") / pit_rows)
        if "doc_engines" in wl.parts:
            per["engines.shuffle_mb"].append(sum(
                s["shuf_write_mb"] for s in _events_of(ps, events, run_id, set(ENGINES))["stages"]))
            for e in ENGINES:
                ee = _events_of(ps, events, run_id, {e})
                per[f"{e}.s"].append(_dur(ps, e))
                per[f"{e}.docs"].append(_scan_rows(wl, ee, "docs"))
                per[f"{e}.matches"].append(_sql(ee, "MapInPandas", "number of output rows"))
                per[f"{e}.bytes_to_python"].append(
                    _sql(ee, "MapInPandas", "data sent to Python workers") / MB)

    for ps in _pass_spans(spans, "mat"):
        scan = [s for s in ps if s["name"] == "scan"]
        per["scan.s"].append(sum(selfs[s["id"]] for s in scan))
        per["scan.rows"].append(sum(s["rows"] or 0 for s in scan))
        per["token_kernels.s"].append(_dur(ps, "token_kernels"))
        per["pipeline.normal_s"].append(_dur(ps, "pipeline.normal"))
        per["pipeline.normal_rows"].append(
            sum(s["rows"] or 0 for s in ps if s["name"] == "pipeline.normal"))
        hot = [s for s in ps if s["name"] == "pipeline.hot"]
        if hot:
            # the plan-time bucket-span query runs in the pipeline span itself
            top = [s for s in ps if s["name"] == "pipeline"]
            per["pipeline.hot_s"].append(_dur(hot, "pipeline.hot")
                                         + sum(selfs[s["id"]] for s in top))
            per["pipeline.hot_rows"].append(sum(s["rows"] or 0 for s in hot))
            per["pipeline.hot_jobs"].append(_events_of(hot + top, events, run_id)["jobs"]
                                            - len(hot))  # minus the tracer's count()

    out = {k: (median(v), UNITS[k]) for k, v in per.items()}
    for k in ("session.start_s", "queries.import_s", "segmented.detect_s",
              "segmented.hot_keys", "warmup.s", "peak_rss_mb"):
        out[k] = (fixed[k], UNITS[k])
    out["trace.overhead_s"] = (median(times["mat"]) - median(times["untraced"]), "s")
    return out
