"""Run-wide plumbing: scratch locations, the Spark session, pass loop,
results and the statistics the metrics are reported with."""

from __future__ import annotations

import os
import shutil
import statistics
import tempfile
import time
from dataclasses import dataclass, field

from osmbench.inputs import ROOT

WORK = os.path.join(ROOT, ".osmbench_work")
MIN_PASSES = 2


def prepare_scratch() -> None:
    """Point every scratch directory the run touches (Spark shuffle and
    spill, JVM and Python temp files, the warehouse) inside the checkout.
    The session's CPU count is the host's."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


def start_spark(tracer):
    """``session.get_spark`` with console and scratch settings only."""
    from osm2orc_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    with tracer.span("session.get_spark") as s:
        spark = get_spark(
            app_name="osmbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
    tracer.spark = spark
    return spark, s.wall


@dataclass
class Result:
    metrics: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def op(self, ok: bool, what: str = "") -> None:
        """Count one operation; a failed one carries its reason."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def run_passes(one_pass, seconds: float) -> list:
    """Run whole passes until ``seconds`` have elapsed, and at least
    ``MIN_PASSES``; return each pass's return value."""
    out = []
    t0 = time.perf_counter()
    while len(out) < MIN_PASSES or time.perf_counter() - t0 < seconds:
        out.append(one_pass(len(out)))
    return out


def query_stats(walls: dict[str, list[float]]) -> dict[str, float]:
    """Sample count, geometric mean and median over every query execution,
    and the tail: the median wall of the slowest query.  A run has two or
    three executions of each query, too few for a percentile beyond the
    median, so the tail is taken per query instead."""
    xs = [w for ws in walls.values() for w in ws]
    return {
        "query.samples": len(xs),
        "query_geomean_s": statistics.geometric_mean(xs),
        "query_p50_s": statistics.median(xs),
        "query_tail_s": max(statistics.median(ws) for ws in walls.values()),
    }
