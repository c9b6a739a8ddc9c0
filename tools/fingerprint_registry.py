"""Registry change fingerprints for the driver-window rotation.

VERDICT r05 #4: FORCE_FRONT (queries re-checked because they changed after
their last driver row) must be computed, not hand-curated.  This tool
fingerprints every registry entry as::

    md5(oracle_sql + "\\x00" + source(query_fn) + "\\x00"
        + md5(file) for each fs2_data_spark module referenced in the source)

so a change to the oracle text, the query function, OR any operator module
the function imports shows up as fingerprint drift.  Usage::

    python3 tools/fingerprint_registry.py            # print current fps
    python3 tools/fingerprint_registry.py --write    # snapshot to
                                                     # tools/registry_fingerprints.json

The committed snapshot records the fingerprints as of the LAST round's end
(the driver's round-start tree); ``tools/driver_order.py`` compares current
vs snapshot to tier changed queries to the window front of
``__spark_entry__.queries()``.  Regenerate the snapshot (with ``--write``)
as the final step of every round.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SNAPSHOT = Path(__file__).resolve().parent / "registry_fingerprints.json"
_PKG_ROOT = Path(__file__).resolve().parent.parent / "fs2_data_spark"


_IMPORT_RE = re.compile(
    r"from\s+(fs2_data_spark(?:\.\w+)+)\s+import\s+(\([^)]*\)|[^\n]+)")


def _import_names(blob: str) -> list[str]:
    blob = blob.strip().strip("()")
    blob = "\n".join(line.split("#")[0] for line in blob.splitlines())
    names = []
    for part in blob.split(","):
        part = part.strip()
        if not part:
            continue
        names.append(part.split(" as ")[0].strip())
    return names


def _dep_sources(src: str, seen: set, depth: int = 0) -> list[str]:
    """Sources of the fs2_data_spark symbols a source body imports,
    recursively (depth-capped): function-level granularity, so a change to
    one operator fronts only the queries that actually use it, not every
    query touching its module."""
    import importlib
    out: list[str] = []
    if depth > 3:
        return out
    for mod_name, names in _IMPORT_RE.findall(src):
        for sym in _import_names(names):
            key = (mod_name, sym)
            if key in seen:
                continue
            seen.add(key)
            try:
                mod = importlib.import_module(mod_name)
                obj = getattr(mod, sym)
                sub = inspect.getsource(obj)
            except Exception:  # noqa: BLE001 — constants, builtins, absent
                out.append(f"{mod_name}.{sym}=<nosource>")
                continue
            out.append(f"{mod_name}.{sym}:{hashlib.md5(sub.encode()).hexdigest()}")
            out.extend(_dep_sources(sub, seen, depth + 1))
    return out


def current_fingerprints() -> dict[str, str]:
    from fs2_data_spark.queries import REGISTRY

    fps: dict[str, str] = {}
    for name, (fn, sql) in REGISTRY.items():
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):
            src = repr(fn)
        parts = [sql or "", src] + sorted(_dep_sources(src, set()))
        fps[name] = hashlib.md5("\x00".join(parts).encode()).hexdigest()
    return fps


def main() -> int:
    fps = current_fingerprints()
    if "--write" in sys.argv:
        SNAPSHOT.write_text(json.dumps(fps, indent=1, sort_keys=True) + "\n")
        print(f"wrote {len(fps)} fingerprints to {SNAPSHOT}")
        return 0
    if SNAPSHOT.exists():
        old = json.loads(SNAPSHOT.read_text())
        changed = [n for n, fp in fps.items() if old.get(n) != fp]
        print(f"{len(changed)} changed vs snapshot:")
        for n in changed:
            print(f"  {n}")
    else:
        print(f"{len(fps)} fingerprints (no snapshot yet)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
