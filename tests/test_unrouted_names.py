"""No spelling ships without a caller.

Static scan (AST only, no Spark): every top-level, non-``@register``,
non-dunder name defined in ``osm2orc_spark/`` must be referenced from
the package itself, the benchmark (``osmbench/``, ``bench.py``) or the
package entry point (``__spark_entry__.py``).  A reference from inside
the name's own definition does not count.  The few names that only
tests, fixtures scripts or README users reach are listed in UNROUTED
with the reason they stay; the detected set must EQUAL that list, so a
new unrouted twin fails here and so does an allowlist entry whose name
gained a caller or was deleted.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

UNROUTED = {
    "CHANGESET_DISCUSSION_SCHEMA": "test reference: the discussion reader's schema is compared with it",
    "PLANET_SCHEMA": "README library API: the planet table's declared schema",
    "SWITCHED_QUERIES": "test reference: the switch-registry sweep checks it",
    "_ann_ivf_probe_expr": "test reference: the vectorized IVF probe is compared with it",
    "compact": "README library API: ORC compaction",
    "decode_wav": "test reference: WAV header decode is pinned by test_multimodal_real",
    "dedup_events_stream": "README library API: watermarked stream dedup",
    "index_cache_clear": "test hook: drops the memoized ANN indexes",
    "probe_cache_clear": "test hook: drops the memoized strategy probes",
    "rocksdb_state_conf": "README library API: RocksDB state-store confs",
    "run_checkpointed": "library API: durable checkpointed stream runner, recovery tested",
    "write_partitioned": "README library API: partitioned ORC writer",
    "write_pbf_cs_fixture": "fixture writer: scripts/make_fixtures.py",
    "write_pbf_fixture": "fixture writer: scripts/make_fixtures.py",
    "write_xml_fixture": "fixture writer: scripts/make_fixtures.py",
}


def _is_register(dec: ast.expr) -> bool:
    f = dec.func if isinstance(dec, ast.Call) else dec
    return (isinstance(f, ast.Name) and f.id == "register") or (
        isinstance(f, ast.Attribute) and f.attr == "register"
    )


def _defined(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def _referenced(stmt: ast.stmt) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(stmt):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
    return out


def _top_level(path: Path) -> list[ast.stmt]:
    return ast.parse(path.read_text(), str(path)).body


def test_every_package_name_has_a_caller():
    package = sorted((ROOT / "osm2orc_spark").rglob("*.py"))
    defined: set[str] = set()
    for path in package:
        for stmt in _top_level(path):
            if any(_is_register(d) for d in getattr(stmt, "decorator_list", ())):
                continue
            defined.update(
                n for n in _defined(stmt)
                if not (n.startswith("__") and n.endswith("__"))
            )
    callers = package + sorted((ROOT / "osmbench").rglob("*.py"))
    callers += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    used: set[str] = set()
    for path in callers:
        for stmt in _top_level(path):
            used |= _referenced(stmt) - set(_defined(stmt))
    unrouted = defined - used
    assert unrouted == set(UNROUTED), (
        f"unrouted, not allowlisted: {sorted(unrouted - set(UNROUTED))}; "
        f"allowlisted but routed or gone: {sorted(set(UNROUTED) - unrouted)}"
    )
