"""Benchmark entry point.

    python3 osmbench/run.py --workload osm_ingest|headline --seed N \
        --seconds S --trace 0|1

Generates the workload's inputs from the seed (cached per seed under
``.osmbench_cache/``), sets up a Spark session, runs one untimed warm pass,
then measures whole passes for ``--seconds`` (at least two) and checks
every pass's outputs.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with every end-to-end
metric (``--trace 0``) or every per-layer metric (``--trace 1``; spans go
to ``.osmbench_work/trace-<workload>-<seed>.json``).  A failed check or a
raising operation makes the exit code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("osm_ingest", "headline")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--toy",
        action="store_true",
        help="committed OSM fixtures / sf0.001 tables with two queries (for the benchmark's test)",
    )
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import osm2orc_spark  # noqa: F401
    except ImportError as e:
        print(f"osmbench: the program is not in this checkout: {e}", file=sys.stderr)
        return 2

    from osmbench import harness, headline, ingest, inputs
    from osmbench.metrics import END_TO_END, HEADLINE_QUERIES, PER_LAYER, UNITS
    from osmbench.trace import Tracer, peak_rss_mb

    harness.prepare_scratch()
    # Inputs first: generation is neither set-up nor measurement.
    if args.workload == "osm_ingest":
        inp = ingest.toy_inputs() if args.toy else ingest.full_inputs(args.seed)
    else:
        sf_dir = inputs.table_inputs(args.seed, 0.001 if args.toy else headline.SF)
        queries = HEADLINE_QUERIES[:2] if args.toy else HEADLINE_QUERIES

    tracer = Tracer(run_id=uuid.uuid4().hex[:12], enabled=bool(args.trace))
    try:
        if args.workload == "osm_ingest":
            res = ingest.run(inp, args.seconds, tracer)
        else:
            res = headline.run(sf_dir, queries, args.seconds, tracer)
        res.metrics["peak_rss_mb"] = peak_rss_mb()
    finally:
        if tracer.spark is not None:
            _stop(tracer.spark)
    if args.trace:
        tracer.write(os.path.join(harness.WORK, f"trace-{args.workload}-{args.seed}.json"))

    names = [n for n, *_ in (PER_LAYER if args.trace else END_TO_END)]
    values = res.metrics
    if args.trace:  # a layer the workload bypasses reads 0
        unknown = sorted(set(values) - set(UNITS))
        if unknown:
            print(f"osmbench: metrics not in BENCHMARK.json: {unknown}", file=sys.stderr)
            return 3
        values = {n: 0.0 for n in names} | values
    metrics = {n: {"value": float(values[n]), "unit": UNITS[n]} for n in names}
    correct = res.failed == 0
    print(json.dumps({"workload": args.workload, "seed": args.seed, "errors": res.errors[:20]}))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
