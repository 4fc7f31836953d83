"""Central query registry.

Every implemented operator from SURVEY.md §2 registers here as a named
query: a Spark callable ``(spark, sf_dir) -> DataFrame`` plus (when
SQL-expressible) an equivalent DuckDB oracle SQL string. The driver's
correctness gate runs both and hash-compares values, so:

- Column names must match exactly between the Spark result and the oracle.
- Result values must be bit-deterministic across engines. House rules:
  * no raw float aggregation — money/qty sums go through DECIMAL casts
    (exact, order-independent) then CAST(... AS DOUBLE);
  * float vectors are quantized via floor(x * 1e6) to BIGINT before
    dot-products (IEEE multiply + floor is engine-deterministic; BIGINT
    sums are order-independent);
  * every window/top-k has a total-order tie-break key.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None -> driver runs a weaker rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None,
    doc: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc or fn.__doc__ or "", tags=tags)
        return fn

    return deco



# ---------------------------------------------------------------------------
# Driver-gate bookkeeping (r11 verdict #7): WHICH round each query was
# last triple-green in the driver's correctness gate, and the explicit
# per-round gate-priority lists, are DATA — they live in
# driver_verified.json next to this module (eleven rounds of
# frozenset/tuple literals had grown to ~340 lines dominating this
# file).  The ordering LOGIC stays here in ``all_queries``;
# tests/test_gate_order.py snapshot-pins the resulting order and
# re-derives the gate composition from the JSON.
#
# JSON shape:
#   {"verified":      {"1": [names...], ..., "11": [...]},   # CORRECTNESS_rN greens
#    "gate_priority": {"5": [names...], ..., "12": [...]}}   # per-round explicit order
#
# The driver checks exactly the FIRST 50 queries it is handed per round,
# so the max-round gate_priority list IS the round's gate composition.
# Round 12's list (r11 verdict #3): the 17 r8-stale greens first (their
# last triple-green is CORRECTNESS_r08 — the rotation invariant allows
# nothing older than two rounds), then the four queries r12's
# implementation touched (the kNN join's scaled-k cap + hierarchical
# assignment switch; the prebuilt probes share cached_index; the new
# curation_semdedup consumer), then 29 oldest-r9 fills in registry
# order.
# ---------------------------------------------------------------------------
import importlib.resources as _res
import json as _json

# importlib.resources, not Path(__file__): the driver ships the package
# to executors as a ZIP (spark.submit.pyFiles), where __file__ points
# inside the archive and plain open() fails with NotADirectoryError
# (caught by tests/test_driver_env.py's foreign-cwd driver sim).
_DV = _json.loads(
    (_res.files("osm2orc_spark") / "driver_verified.json").read_text()
)

#: round -> names triple-green in that round's driver gate (CORRECTNESS_rN.json)
DRIVER_VERIFIED_BY_ROUND: dict[int, frozenset[str]] = {
    int(r): frozenset(names) for r, names in _DV["verified"].items()
}

#: names with a triple-green driver row in ANY round so far
DRIVER_VERIFIED: frozenset[str] = frozenset().union(
    *DRIVER_VERIFIED_BY_ROUND.values()
)

#: round -> the explicit gate-priority list used that round (kept as
#: auditable history: every past gate's composition is reproducible)
GATE_PRIORITY_BY_ROUND: dict[int, tuple[str, ...]] = {
    int(r): tuple(names) for r, names in _DV["gate_priority"].items()
}

#: the CURRENT round's priority list
GATE_PRIORITY: tuple[str, ...] = GATE_PRIORITY_BY_ROUND[max(GATE_PRIORITY_BY_ROUND)]


#: the modules whose import populates REGISTRY, in registration order.
#: Import order matters: composed oracles (curation) are assembled from
#: earlier registry entries at import time.  The same list ranks gate
#: ties (module, then definition order), so the order does not depend
#: on which query module a caller happened to import first.
_QUERY_MODULES: tuple[str, ...] = (
    "osm2orc_spark.queries.relational",
    "osm2orc_spark.operators.dedup",
    "osm2orc_spark.operators.similarity",
    "osm2orc_spark.operators.text",
    "osm2orc_spark.operators.multimodal",
    "osm2orc_spark.operators.ann_index",
    "osm2orc_spark.operators.curation",
    "osm2orc_spark.operators.graph",
    "osm2orc_spark.operators.layout",
    "osm2orc_spark.queries.advanced",
    "osm2orc_spark.queries.osm_corpus",
    "osm2orc_spark.queries.sequences",
    "osm2orc_spark.queries.tpch_extra",
    "osm2orc_spark.streaming.events",
)


def all_queries() -> dict[str, Query]:
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)

    module_rank = {mod: i for i, mod in enumerate(_QUERY_MODULES)}
    # Within one module REGISTRY insertion order is definition order.
    reg_index = {
        name: (module_rank[q.fn.__module__], i)
        for i, (name, q) in enumerate(REGISTRY.items())
    }
    prio_index = {name: i for i, name in enumerate(GATE_PRIORITY)}
    # Staleness tier for verified re-confirmations: the round a query was
    # LAST driver-confirmed — oldest greens re-confirm first (r5 verdict
    # #7: "then never-re-confirmed r1 greens").
    last_confirmed = {}
    for rnd in sorted(DRIVER_VERIFIED_BY_ROUND):
        for n in DRIVER_VERIFIED_BY_ROUND[rnd]:
            last_confirmed[n] = rnd  # later rounds overwrite earlier ones

    def key(name: str) -> tuple:
        # The current priority list re-gates stale + impl-touched queries first.
        if name in prio_index:
            return (0, prio_index[name], (0, 0))
        no_oracle = REGISTRY[name].oracle is None
        if name not in DRIVER_VERIFIED and not no_oracle:  # new this round
            return (1, 0, reg_index[name])
        if name not in DRIVER_VERIFIED:  # rows-only: weakest gate signal, last
            return (2, 0, reg_index[name])
        # already driver-verified: stalest confirmation first
        return (3, last_confirmed[name], reg_index[name])

    return {name: REGISTRY[name] for name in sorted(REGISTRY, key=key)}
