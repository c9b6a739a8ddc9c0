"""Pin the driver-window rotation of the query registry.

The driver's correctness harness checks only the first 50 entries of
``__spark_entry__.queries()`` (VERDICT r02 item #1).  Round 3's verdict
(item #3) asked for a rotation policy instead of a fixed front/tail split:
every round ``queries()`` is ordered from the recorded driver-check history
(``tools/driver_order.py``) so that (a) never-checked queries and queries
changed after their last row sit inside the window, and (b) no query's most
recent driver row ages past the revisit cycle.  The library registry itself
stays in definition order.

The cycle length is ``ceil(len(REGISTRY) / DRIVER_WINDOW)``: a 50-slot
window over N queries can revisit every query at best every ``ceil(N/50)``
rounds, so a 2-round staleness bound was only achievable while N <= 100.
With N > 100 the bound derives from the registry size (currently 3
rounds) — asserting 2 would demand checking more than 50 queries per
round, which the driver cannot do.
"""

import json
import math
import os
import re
import subprocess
import sys
from pathlib import Path

import pytest

import __spark_entry__ as e

ROOT = Path(__file__).resolve().parent.parent
_order = e.driver_order_module()
CURRENT_ROUND = _order.CURRENT_ROUND
DRIVER_HISTORY = _order.DRIVER_HISTORY
DRIVER_WINDOW = _order.DRIVER_WINDOW
FORCE_FRONT = _order.force_front()
# the registry in the order the driver sees it
REGISTRY = e.queries()


def driver_last_row():
    return _order.driver_last_row(REGISTRY)


# tightest achievable revisit cycle for this registry size (rounds)
CYCLE = max(2, math.ceil(len(REGISTRY) / DRIVER_WINDOW))


def test_flagship_is_first():
    assert next(iter(REGISTRY)) == "pit_fused_events"


def test_never_checked_inside_window():
    """All never-checked queries sit inside the window, except when the
    must-set (flagship + forced + never-checked) outgrows the 50 slots —
    then exactly the overflow count spills, and only from the never-checked
    tier (forced re-checks of known failures never spill)."""
    names = list(REGISTRY)
    last = driver_last_row()
    musts = ({n for n in REGISTRY if last[n] == 0}
             | {n for n in FORCE_FRONT if n in REGISTRY} | {"pit_fused_events"})
    allowed_spill = max(0, len(musts) - DRIVER_WINDOW)
    missing = [n for n in names[DRIVER_WINDOW:] if last[n] == 0]
    assert len(missing) <= allowed_spill, \
        f"never-driver-checked queries past the window: {missing}"


def test_changed_queries_inside_window():
    names = list(REGISTRY)
    window = set(names[:DRIVER_WINDOW])
    missing = [n for n in FORCE_FRONT if n in REGISTRY and n not in window]
    assert missing == [], f"changed-after-last-row queries past the window: {missing}"


def test_no_row_older_than_cycle_after_this_check():
    """Staleness bound: once this round's driver check runs (covering the
    first 50 entries), every query's most recent row is at most CYCLE
    rounds old."""
    names = list(REGISTRY)
    last = driver_last_row()
    # last == 0 (never checked) is governed by
    # test_never_checked_inside_window's spill allowance, not this bound
    stale = [n for n in names[DRIVER_WINDOW:]
             if 0 < last[n] < CURRENT_ROUND - CYCLE]
    assert stale == [], \
        f"queries whose last driver row would be >{CYCLE} rounds old: {stale}"


def test_window_capacity_not_exceeded():
    """The HARD must-set (flagship + forced re-checks + queries that would
    otherwise age past the cycle) fits in 50 — never-checked queries are
    soft musts (they may spill one round and stay tier-2; see
    test_never_checked_inside_window). If this fails, the registry has
    outgrown the achievable cycle and the bound above needs to lengthen
    (it derives from len(REGISTRY), so adding queries updates both sides
    together)."""
    last = driver_last_row()
    must = {n for n in REGISTRY
            if n in FORCE_FRONT
            or (0 < last[n] < CURRENT_ROUND - (CYCLE - 1))} | {"pit_fused_events"}
    assert len(must) <= DRIVER_WINDOW


def test_stalest_fill_the_window():
    """Among queries with history, the window's non-forced slots go to the
    stalest first — no fresher query sits inside while a staler one sits
    outside (the property that makes the cycle bound hold round over
    round)."""
    names = list(REGISTRY)
    last = driver_last_row()
    inside = [last[n] for n in names[:DRIVER_WINDOW]
              if last[n] > 0 and n not in FORCE_FRONT
              and n != "pit_fused_events"]  # flagship is pinned first
    outside = [last[n] for n in names[DRIVER_WINDOW:]
               if last[n] > 0 and n not in FORCE_FRONT]
    if inside and outside:
        assert max(inside) <= min(outside), \
            "a fresher query occupies a window slot while a staler one waits"


def test_history_names_are_registry_names():
    for rnd, checked in DRIVER_HISTORY.items():
        unknown = [n for n in checked if n not in REGISTRY]
        assert unknown == [], f"round {rnd} history references unknown queries: {unknown}"


def test_entry_module_preserves_order():
    from fs2_data_spark.queries import REGISTRY as DEFINED

    assert sorted(REGISTRY) == sorted(DEFINED)
    # oracle_sql preserves relative order of oracle-checkable entries
    sqls = list(e.oracle_sql())
    filtered = [n for n in REGISTRY if DEFINED[n][1] is not None]
    assert sqls == filtered
    assert all(e.oracle_sql()[n] == DEFINED[n][1] for n in sqls)


def test_registry_import_is_pure():
    """Importing the library registry opens nothing under ``tools/``, runs
    no source fingerprinting, loads no tool module, and leaves ``REGISTRY``
    in definition order (the ``@_q`` decorators' order in the source)."""
    src = (ROOT / "fs2_data_spark" / "queries.py").read_text()
    defined = re.findall(r'^@_q\("(\w+)"', src, flags=re.M)
    probe = f"""
import inspect, json, sys
tools = {str(ROOT / "tools")!r}
opened = []
sys.addaudithook(lambda ev, args: ev == "open" and isinstance(args[0], str)
                 and args[0].startswith(tools) and opened.append(args[0]))
calls = []
real = inspect.getsource
inspect.getsource = lambda *a, **k: calls.append(1) or real(*a, **k)
from fs2_data_spark.queries import REGISTRY
tool_mods = [n for n, m in list(sys.modules.items())
             if str(getattr(m, "__file__", "") or "").startswith(tools)]
print(json.dumps({{"opened": opened, "getsource": len(calls),
                  "tool_mods": tool_mods, "order": list(REGISTRY)}}))
"""
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=ROOT, capture_output=True,
        text=True, check=True,
        env={**os.environ, "PYTHONPATH": str(ROOT)}).stdout
    got = json.loads(out.strip().splitlines()[-1])
    assert got["opened"] == []
    assert got["getsource"] == 0
    assert got["tool_mods"] == []
    assert got["order"] == defined and len(defined) == len(REGISTRY)


def test_missing_snapshot_or_tool_means_no_computed_rows(monkeypatch, tmp_path):
    monkeypatch.setattr(_order, "SNAPSHOT", tmp_path / "absent.json")
    assert _order._computed_force_front() == []
    monkeypatch.undo()
    monkeypatch.setattr(_order, "FINGERPRINT_TOOL", tmp_path / "absent.py")
    assert _order._computed_force_front() == []
    assert _order.force_front() == sorted(_order.MANUAL_FRONT)


def test_broken_fingerprint_tool_raises_from_queries(monkeypatch, tmp_path):
    """Only a missing file is tolerated: any other failure while computing
    the drift surfaces from ``queries()`` instead of silently dropping every
    drift-fronted query."""
    tool = tmp_path / "fingerprint_registry.py"
    tool.write_text("def current_fingerprints():\n"
                    "    raise ValueError('broken fingerprint tool')\n")
    monkeypatch.setattr(_order, "FINGERPRINT_TOOL", tool)
    with pytest.raises(ValueError, match="broken fingerprint tool"):
        _order._computed_force_front()
    e._ordered_registry.cache_clear()
    try:
        with pytest.raises(ValueError, match="broken fingerprint tool"):
            e.queries()
    finally:
        monkeypatch.undo()
        e._ordered_registry.cache_clear()
    assert list(e.queries()) == list(REGISTRY)
