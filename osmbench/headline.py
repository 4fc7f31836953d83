"""The ``headline`` workload: registered queries over the query tables.

Each query runs as ``fn(spark, sf_dir)`` and then writes to the ``noop``
sink; the order rotates one slot per pass and the cache is cleared between
passes.  It does the execution work in ``operators.*`` / ``queries.*`` and
the per-query plan build, and bypasses sources and sinks entirely.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

from osmbench import harness, inputs
from osmbench.metrics import module_of
from osmbench.trace import Tracer, catalyst_phases, phase_metrics

SF = 0.1


class _Collected:
    """The result of the warm pass, handed to the oracle harness."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 - the DataFrame method the harness calls
        return self._pdf


def oracle_problems(sf_dir: str, collected: dict) -> dict[str, str]:
    """Query name -> mismatch against its DuckDB oracle, for every query
    whose warm-pass result differs (``tests/oracle_harness.py``)."""
    from osm2orc_spark.registry import REGISTRY

    sys.path.insert(0, os.path.join(inputs.ROOT, "tests"))
    import oracle_harness

    out = {}
    for name, pdf in collected.items():
        try:
            oracle_harness.compare(_Collected(pdf), REGISTRY[name].oracle, sf_dir, name)
        except AssertionError as e:
            out[name] = str(e)[:500]
    return out


def one_pass(spark, tracer: Tracer, sf_dir: str, order: list[str], res) -> dict:
    """Run ``order`` once; returns the pass wall, each query's wall and,
    when tracing, the Catalyst phase seconds."""
    from osm2orc_spark.registry import REGISTRY

    walls: dict[str, float] = {}
    phases: dict[str, float] = {}
    with tracer.span("pass") as p:
        for name in order:
            fn = REGISTRY[name].fn
            try:
                with tracer.span(f"query.{name}") as q:
                    with tracer.span(f"build.{name}", count_jobs=True):
                        df = fn(spark, sf_dir)
                    if tracer.enabled:
                        with tracer.span("catalyst"):
                            for k, v in catalyst_phases(df).items():
                                phases[k] = phases.get(k, 0.0) + v
                    with tracer.span(f"exec.{name}", count_jobs=True):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - a raising query is a failed operation
                res.op(False, f"{name}: {type(e).__name__}: {str(e)[:300]}")
                continue
            res.op(True)
            walls[name] = q.wall
    spark.catalog.clearCache()
    return {"pass_s": p.wall, "walls": walls, "phases": phases}


def run(sf_dir: str, queries: list[str], seconds: float, tracer: Tracer) -> harness.Result:
    from osm2orc_spark.registry import all_queries

    res = harness.Result()
    t0 = time.perf_counter()
    spark, get_spark_s = harness.start_spark(tracer)
    with tracer.span("registry.all_queries") as reg:
        registry = all_queries()
    collected = {}
    with tracer.span("warm"):
        for name in queries:
            try:
                collected[name] = registry[name].fn(spark, sf_dir).toPandas()
            except Exception as e:  # noqa: BLE001 - a raising query is a failed operation
                res.op(False, f"{name} (warm): {type(e).__name__}: {str(e)[:300]}")
        spark.catalog.clearCache()
    setup_s = time.perf_counter() - t0

    mismatched = oracle_problems(sf_dir, collected)
    for name in collected:
        res.op(name not in mismatched, f"{name}: {mismatched.get(name)}")

    traced = tracer.enabled
    tracer.enabled = False

    def rotated(i: int) -> list[str]:
        k = i % len(queries)
        return queries[k:] + queries[:k]

    passes = harness.run_passes(
        lambda i: one_pass(spark, tracer, sf_dir, rotated(i), res), seconds
    )
    pass_s = statistics.median([p["pass_s"] for p in passes])
    samples: dict[str, list[float]] = {}
    for p in passes:
        for name, wall in p["walls"].items():
            samples.setdefault(name, []).append(wall)
    res.metrics = {"setup_s": setup_s, "pass_s": pass_s}
    if not traced:
        return res

    from osm2orc_spark.tables import TABLES, load

    tracer.enabled = True
    k = len(tracer.spans)
    traced_pass = one_pass(spark, tracer, sf_dir, rotated(len(passes)), res)
    with tracer.span("tables.load", count_jobs=True) as loads:
        for t in TABLES:
            load(spark, sf_dir, t)
    spans = tracer.spans[k:]
    m = res.metrics
    m.update(phase_metrics(spans, traced_pass["phases"]))
    m.update(
        {
            "session.get_spark_s": get_spark_s,
            "registry.all_queries_s": reg.wall,
            "trace.overhead_s": traced_pass["pass_s"] - pass_s,
            "tables.load_s": loads.wall,
            "tables.load_jobs": loads.jobs,
            **harness.query_stats(samples),
        }
    )
    for name in queries:
        mod = module_of(registry[name].fn)
        for phase in ("build", "exec"):
            wall = sum(s.wall for s in spans if s.name == f"{phase}.{name}")
            m[f"{phase}_s.{name}"] = wall
            m[f"{phase}_s.{mod}"] = m.get(f"{phase}_s.{mod}", 0.0) + wall
    return res
