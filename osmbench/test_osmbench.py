"""Fast checks of the benchmark itself, at toy size.

    python3 -m pytest osmbench -q

The toy runs use the committed OSM fixtures and generated sf0.001 tables
with two headline queries.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from osmbench.metrics import END_TO_END, HEADLINE_QUERIES, MODULES, PER_LAYER, module_of
from osmbench.run import ROOT, WORKLOADS


def _run(workload: str, trace: int = 0, cwd: str = ROOT):
    p = subprocess.run(
        [sys.executable, "osmbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--toy"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, p.stderr


def _result(lines: list[str]) -> dict:
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return out


def test_benchmark_json_lists_exactly_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] == [
        tuple(m) for m in END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        tuple(m) for m in PER_LAYER
    ]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_toy_run_prints_every_end_to_end_metric_with_its_unit(workload):
    rc, lines, err = _run(workload)
    assert rc == 0, err[-3000:]
    out = _result(lines)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {n: v["unit"] for n, v in out["metrics"].items()} == {
        n: unit for n, unit, *_ in END_TO_END
    }
    assert all(v["value"] > 0 for v in out["metrics"].values())


# Names each workload must fill itself; the 0 a bypassed layer reads must
# never stand in for one of these.
OWN_LAYERS = {
    "osm_ingest": [
        n for n, *_ in PER_LAYER
        if n.startswith(("sources.", "sinks.", "queries.osm_corpus.", "orc_"))
    ] + ["pbf_entities_per_s", "changesets_rows_per_s"],
    "headline": ["tables.load_s", "tables.load_jobs", "query.samples", "query_p50_s",
                 "query_tail_s", "exec.jobs", "exec.tasks"]
    + [f"{p}_s.{q}" for q in HEADLINE_QUERIES[:2] for p in ("build", "exec")]
    + ["build_s.queries.relational", "exec_s.queries.advanced"],
}


def test_headline_queries_cover_every_module():
    from osm2orc_spark.registry import all_queries

    registry = all_queries()
    assert sorted(module_of(registry[q].fn) for q in HEADLINE_QUERIES) == sorted(MODULES)
    assert [module_of(registry[q].fn) for q in HEADLINE_QUERIES[:2]] == [
        "queries.relational", "queries.advanced"
    ]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_toy_run_fills_its_own_per_layer_metrics(workload):
    rc, lines, err = _run(workload, trace=1)
    assert rc == 0, err[-3000:]
    out = _result(lines)
    assert out["correct"] and out["failed"] == 0
    assert {n: v["unit"] for n, v in out["metrics"].items()} == {
        n: unit for n, unit, *_ in PER_LAYER
    }
    zero = [n for n in OWN_LAYERS[workload] if not out["metrics"][n]["value"] > 0]
    assert zero == [], zero
    with open(os.path.join(ROOT, ".osmbench_work", f"trace-{workload}-3.json")) as f:
        spans = json.load(f)["spans"]
    names = {s["name"] for s in spans}
    assert {"session.get_spark", "warm", "pass"} <= names
    if workload == "osm_ingest":
        assert out["metrics"]["sinks.orc.stamped_frac"]["value"] == 1.0
        assert "exec.pbf" in names
    else:
        assert {f"exec.{q}" for q in HEADLINE_QUERIES[:2]} <= names


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "osmbench"), tmp_path / "osmbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    rc, lines, _ = _run("osm_ingest", cwd=str(tmp_path))
    assert rc != 0
    assert not any(line.startswith('{"correct"') for line in lines)


def test_deleted_orc_part_file_fails_the_check():
    from osmbench import harness, ingest
    from osmbench.run import _stop
    from osmbench.trace import Tracer

    harness.prepare_scratch()
    inp = ingest.toy_inputs()
    tracer = Tracer(run_id="test")
    spark, _ = harness.start_spark(tracer)
    try:
        out = os.path.join(harness.WORK, "out")
        ingest.one_pass(spark, tracer, inp.pbf, inp.xml, out)
        assert ingest.check_outputs(spark, inp, out) == []
        os.remove(ingest.orc_parts(os.path.join(out, "pbf"))[0])
        problems = ingest.check_outputs(spark, inp, out)
        assert any("rows in" in p for p in problems), problems
    finally:
        _stop(spark)
