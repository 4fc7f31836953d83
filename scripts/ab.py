"""In-session interleaved A/B of registered queries, with module constants
forced per side.

Usage (from the repo root)::

    python scripts/ab.py QUERY[,QUERY...] DIR[,DIR...] SIDE [SIDE...] [--runs N]

A SIDE is ``name:`` followed by zero or more comma-separated
``dotted.module.CONST=int`` assignments; ``base:`` runs the defaults::

    python scripts/ab.py text_tfidf_topk path/to/sf0.1 \\
        replicate:osm2orc_spark.operators.switches.TOKENIZE_PERSIST_MIN_DOCS=4611686018427387904 \\
        persist:osm2orc_spark.operators.switches.TOKENIZE_PERSIST_MIN_DOCS=0

Every query, module and constant is checked before Spark starts, so a
typo exits non-zero instead of creating a new attribute and timing the
same plan twice.  Then, for each (query, dir), all sides must return the
same rows (count plus ``exceptAll`` both ways) or the script exits 1.
Timing is one warm pass per cell, then N rounds; a round times every
(query, dir, side) cell as a ``noop`` write, clears the cache between
cells and reverses the side order on odd rounds.

Output: one JSON line per cell on stdout with ``query``, ``dir``,
``side``, ``set`` (the side's assignments), ``runs`` (the N walls in
seconds, round order), ``min`` and ``median``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _parse_side(spec: str) -> tuple[str, str, list[tuple[object, str, int]]]:
    """``name:mod.CONST=1,mod.OTHER=2`` -> (name, assignments text,
    [(module, const, value)]).  Exits on any unknown module or constant."""
    name, sep, body = spec.partition(":")
    if not sep or not name:
        sys.exit(f"side {spec!r}: expected name:[dotted.module.CONST=int,...]")
    sets = []
    for item in filter(None, body.split(",")):
        target, eq, value = item.partition("=")
        mod_name, _, const = target.rpartition(".")
        if not eq or not mod_name:
            sys.exit(f"side {name!r}: {item!r} is not dotted.module.CONST=int")
        try:
            mod = importlib.import_module(mod_name)
        except ImportError as exc:
            sys.exit(f"side {name!r}: no module {mod_name!r} ({exc})")
        if not hasattr(mod, const):
            sys.exit(f"side {name!r}: {mod_name} has no constant {const!r}")
        try:
            sets.append((mod, const, int(value)))
        except ValueError:
            sys.exit(f"side {name!r}: {item!r} value is not an int")
    return name, body, sets


def _same_rows(a, b) -> bool:
    if sorted(a.columns) != sorted(b.columns):
        return False
    b = b.select(*a.columns)
    return (
        a.count() == b.count()
        and a.exceptAll(b).count() == 0
        and b.exceptAll(a).count() == 0
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", help="comma-separated registered query names")
    ap.add_argument("dirs", help="comma-separated data directories")
    ap.add_argument("sides", nargs="+", help="name:[dotted.module.CONST=int,...]")
    ap.add_argument("--runs", type=int, default=5)
    args = ap.parse_args()

    from osm2orc_spark.operators import switches
    from osm2orc_spark.registry import all_queries
    from osm2orc_spark.session import get_spark

    registry = all_queries()
    queries = [q for q in args.queries.split(",") if q]
    dirs = [d for d in args.dirs.split(",") if d]
    unknown = [q for q in queries if q not in registry]
    if unknown:
        sys.exit(f"unregistered queries: {unknown}")
    missing = [d for d in dirs if not os.path.isdir(d)]
    if missing:
        sys.exit(f"no such data directories: {missing}")
    sides = [_parse_side(s) for s in args.sides]
    names = [name for name, _, _ in sides]
    if len(set(names)) != len(names):
        sys.exit(f"duplicate side names: {names}")
    if args.runs < 1:
        sys.exit("--runs must be at least 1")
    defaults = {(m, c): getattr(m, c) for _, _, sets in sides for m, c, _ in sets}
    # Probe values are memoized per (dir, probe), and some fold in a
    # threshold, so each side keeps its own probe memo across cells.
    probes: dict[str, dict] = {name: {} for name in names}

    def enter(side) -> None:
        name, _, sets = side
        for (m, c), v in defaults.items():
            setattr(m, c, v)
        for m, c, v in sets:
            setattr(m, c, v)
        switches.probe_cache_clear()
        switches._PROBE_CACHE.update(probes[name])

    def leave(side) -> None:
        probes[side[0]] = dict(switches._PROBE_CACHE)

    spark = get_spark("ab", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    cells = [(q, d) for q in queries for d in dirs]
    walls = {(q, d, s[0]): [] for q, d in cells for s in sides}

    def timed(q, d, side) -> float:
        enter(side)
        try:
            t0 = time.perf_counter()
            registry[q].fn(spark, d).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0
        finally:
            leave(side)
            spark.catalog.clearCache()

    try:
        for q, d in cells:
            frames = []
            for side in sides:
                enter(side)
                frames.append(registry[q].fn(spark, d))
                leave(side)
            for side, fr in zip(sides[1:], frames[1:]):
                if not _same_rows(frames[0], fr):
                    sys.exit(f"parity FAILED: {q} on {d}: {side[0]!r} != {names[0]!r}")
            print(f"parity ok: {q} on {d} ({frames[0].count()} rows)", file=sys.stderr)
            del frames
            spark.catalog.clearCache()
        for q, d in cells:
            for side in sides:
                timed(q, d, side)
        for r in range(args.runs):
            order = sides if r % 2 == 0 else sides[::-1]
            for q, d in cells:
                for side in order:
                    walls[(q, d, side[0])].append(timed(q, d, side))
    finally:
        for (m, c), v in defaults.items():
            setattr(m, c, v)
        switches.probe_cache_clear()
        spark.stop()

    for q, d in cells:
        for name, body, _ in sides:
            ws = walls[(q, d, name)]
            print(json.dumps({
                "query": q, "dir": d, "side": name, "set": body,
                "runs": [round(w, 3) for w in ws],
                "min": round(min(ws), 3),
                "median": round(statistics.median(ws), 3),
            }), flush=True)


if __name__ == "__main__":
    main()
