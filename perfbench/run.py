#!/usr/bin/env python3
"""Benchmark of the point-in-time engine and the format engines.

    python3 perfbench/run.py --workload pit_skewed --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` and
cached under ``.perfbench/`` (generation time is reported apart from set-up).
``--workload all`` runs the workloads one after another, each in its own
process. A run sets up once cold and WARM_SETUPS times warm (see
``setup_cycle``), then runs passes for ``--seconds`` and checks every pass
against an independent reference. The last stdout line is one JSON object
``{correct, attempted, failed, metrics}``;
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run. The line before it carries the details
(samples, host, failed_frac, span file).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, ROOT)

WORKLOADS = ("pit_skewed", "resumable_engines")  # the keys of workloads.PARTS
DEFAULT_SEED = 1
WARM_SETUPS = 3  # setup_s is their median; the cold cycle is a per-layer number
# untimed warm-up passes until this much time has passed: the JIT settles
# after an amount of work, not of passes (pit_skewed needs ~3 short passes,
# resumable_engines' first pass alone takes this long)
WARMUP_S = 15
MIN_PASSES = 3
TRACED_ROUNDS = 2  # a resumable_engines round is ~30 s; a run must end within 3 min
E2E_UNITS = {"setup_s": "s", "pass_s": "s", "rows_per_s": "rows/s"}


def host_fit() -> tuple[str, dict, dict]:
    """``local[nproc]``, a driver heap sized to RAM, scratch dirs inside the
    checkout and the repo on the Python workers' path. Returns (master,
    Spark conf, host record)."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        ram_mb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1]) // 1024
    heap_mb = min(max(ram_mb // 8, 1024), 4096)
    local, tmp = os.path.join(STATE, "spark-local"), os.path.join(STATE, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    conf = {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    java = subprocess.run(["java", "-version"], capture_output=True, text=True)
    import pyspark  # noqa: PLC0415
    host = {"nproc": nproc, "ram_mb": ram_mb, "driver_heap_mb": heap_mb,
            "pyspark": pyspark.__version__, "python": platform.python_version(),
            "java": (java.stderr.splitlines() or ["?"])[0]}
    return f"local[{nproc}]", conf, host


class RssSampler(threading.Thread):
    """Peak RSS (MB) of this process and all its descendants — the driver
    JVM and its Python workers — sampled from /proc every 100 ms while
    ``armed``."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_mb = 0.0
        self.armed = False
        self._halt = threading.Event()

    @staticmethod
    def tree_rss_mb(root: int) -> float:
        parent, rss = {}, {}
        page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            parent[int(pid)] = int(fields[1])
            rss[int(pid)] = int(fields[21]) * page_kb
        total, todo = 0, [root]
        kids: dict[int, list[int]] = {}
        for p, pp in parent.items():
            kids.setdefault(pp, []).append(p)
        while todo:
            p = todo.pop()
            total += rss.get(p, 0)
            todo.extend(kids.get(p, []))
        return total / 1024

    def run(self):
        while not self._halt.wait(0.1):
            if self.armed:
                self.peak_mb = max(self.peak_mb, self.tree_rss_mb(os.getpid()))

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_mb


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        t = [int(x) for x in fh.readline().split()[1:9]]
    return t[7], sum(t)


def purge_package() -> None:
    for name in [m for m in sys.modules if m == "fs2_data_spark" or m.startswith("fs2_data_spark.")]:
        del sys.modules[name]


def setup_cycle(wl, master: str, conf: dict):
    """One set-up: (re)import the package, get the session from
    ``get_spark``, import the query registry, compute table statistics.
    The first cycle of a process also starts the JVM; later cycles
    re-import the package and get the live session back."""
    t0 = time.perf_counter()
    purge_package()
    session = importlib.import_module("fs2_data_spark.session")
    spark = session.get_spark(master=master, app_name="perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    importlib.import_module("fs2_data_spark.queries")
    t2 = time.perf_counter()
    hot = wl.detect(spark)
    t3 = time.perf_counter()
    return spark, {"setup_s": t3 - t0, "session.start_s": t1 - t0,
                   "queries.import_s": t2 - t1, "segmented.detect_s": t3 - t2,
                   "segmented.hot_keys": len(hot)}


def one_pass(wl, spark, tracer, results: list) -> float:
    """One timed pass; its signature (None if it raised) goes to ``results``."""
    tracer.pass_no += 1
    t0 = time.perf_counter()
    with tracer.span("pass"):
        try:
            sig = wl.run_pass(spark, tracer)
        except Exception:  # noqa: BLE001  a failed pass is counted, not fatal
            traceback.print_exc()
            sig = None
        finally:
            tracer.release()
    results.append(sig)
    return time.perf_counter() - t0


def run_passes(wl, spark, tracer, seconds: float, results: list) -> list[float]:
    """Passes until ``seconds`` have elapsed (at least MIN_PASSES)."""
    times: list[float] = []
    end = time.perf_counter() + seconds
    while len(times) < MIN_PASSES or time.perf_counter() < end:
        times.append(one_pass(wl, spark, tracer, results))
    return times


def run_phases(wl, spark, tr, phases, seconds: float, results: list, rss) -> dict:
    """Traced run: one pass of each phase in turn, so that JIT warm-up and
    host drift hit every phase alike; RSS is sampled in untraced passes."""
    times: dict[str, list[float]] = {p: [] for p in phases}
    end = time.perf_counter() + seconds
    while min(map(len, times.values())) < TRACED_ROUNDS or time.perf_counter() < end:
        for phase in phases:
            tr.enabled, tr.mat, tr.phase = phase != "untraced", phase == "mat", phase
            rss.armed = phase == "untraced"
            times[phase].append(one_pass(wl, spark, tr, results))
    return times


def expected_sig(wl, spark, seed: int):
    """Reference signature of each part for this seed (cached beside its
    inputs); for the default seed it must also equal the one recorded in
    expected.json."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")) as fh:
        recorded = json.load(fh)
    out = {}
    for part in wl.parts:
        path = os.path.join(wl.dirs[part], "expected_sig.json")
        if os.path.exists(path):
            with open(path) as fh:
                exp = json.load(fh)
        else:
            exp = wl.expected(spark, part)
            if exp is None:  # no pass completed, so every pass has failed
                return None
            exp = json.loads(json.dumps(exp))
            with open(path, "w") as fh:
                json.dump(exp, fh)
        if seed == DEFAULT_SEED and recorded.get(part) != exp:
            raise SystemExit(f"reference of {part} for seed {seed} differs from "
                             f"expected.json: {exp} != {recorded.get(part)}")
        out[part] = exp
    return out


def stop_spark() -> None:
    """Stop the SparkContext, if any, then the JVM it ran in, and wait."""
    from pyspark import SparkContext  # noqa: PLC0415
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=(*WORKLOADS, "all"), required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":  # each workload in its own process and JVM
        for w in WORKLOADS:
            argv = ["--workload", w, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace)]
            rc = subprocess.run([sys.executable, os.path.abspath(__file__), *argv]).returncode
            if rc:
                sys.exit(rc)
        return

    from perfbench import gen, layers, spans, workloads  # noqa: PLC0415

    ticks0 = cpu_ticks()
    master, conf, host = host_fit()
    data = {p: gen.prepare(p, args.seed, os.path.join(STATE, "inputs"))
            for p in workloads.PARTS[args.workload]}
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(STATE, "work", run_id)
    wl = workloads.Workload(args.workload, data, work)
    null = spans.Tracer()
    if args.trace:
        log_dir = os.path.join(work, "events")
        os.makedirs(log_dir, exist_ok=True)
        conf = {**conf, "spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false"}

    results: list = []
    setups = []
    try:
        for cycle in range(1 + (0 if args.trace else WARM_SETUPS)):
            spark, info = setup_cycle(wl, master, conf)
            if cycle == 0:  # untimed warm-up: JIT, codegen, Python workers, page cache
                t0 = time.perf_counter()
                while not results or time.perf_counter() - t0 < WARMUP_S:
                    one_pass(wl, spark, null, results)
                info["warmup.s"], warmups = time.perf_counter() - t0, len(results)
            setups.append(info)
        detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "host": host, "rows": wl.part_rows,
                  "gen_s": {p: d.get("gen_s") for p, d in data.items()},
                  "inputs_cached": all(d["cached"] for d in data.values()),
                  "setup_cycles": setups}
        if not args.trace:
            times = run_passes(wl, spark, null, args.seconds, results)
            pass_s = statistics.median(times)
            values = {"setup_s": statistics.median(s["setup_s"] for s in setups[1:]),
                      "pass_s": pass_s, "rows_per_s": wl.rows / pass_s}
            metrics = {k: (values[k], u) for k, u in E2E_UNITS.items()}
        else:
            tr, rss = spans.Tracer(spark, run_id), RssSampler()
            rss.start()
            layers.install(tr)
            times = run_phases(wl, spark, tr, layers.PHASES, args.seconds, results, rss)
            rss.stop()
            tr.unwrap()
        detail["pass_samples_s"] = times
        exp = expected_sig(wl, spark, args.seed)
    finally:
        stop_spark()

    ok_all = [r is not None and json.loads(json.dumps(r)) == exp for r in results]
    attempted = len(results) - warmups
    failed = ok_all[warmups:].count(False)
    warm_ok = all(ok_all[:warmups])
    if args.trace:
        span_file = os.path.join(STATE, "traces", f"{run_id}.jsonl")
        tr.dump(span_file)
        detail["span_file"] = os.path.relpath(span_file, ROOT)
        events = spans.read_event_log(log_dir)
        metrics = layers.compute(tr.spans, events, wl, times,
                                 {**setups[0], "peak_rss_mb": rss.peak_mb})
    detail["failed_frac"] = failed / attempted
    # CPU time the hypervisor gave to other guests: slow runs coincide with it
    ticks1 = cpu_ticks()
    detail["steal_frac"] = (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)
    detail["warmup_passes"], detail["warmup_correct"] = warmups, warm_ok
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0 and warm_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
