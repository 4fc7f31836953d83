"""The ``osm_ingest`` workload: the reference's whole job.

Each pass transcodes a planet-history PBF and a changeset XML file to ORC,
then runs the README ways-reassembly over the latest visible version of
every entity in the ORC just written.  It does nearly all of the
``sources.*`` and ``sinks.orc`` work and none of ``tables`` or
``operators.*``.
"""

from __future__ import annotations

import glob
import os
import statistics
import time
from dataclasses import dataclass

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from osmbench import harness, inputs
from osmbench.trace import Tracer, catalyst_phases, phase_metrics

# Base PBF: 75k nodes of history (~112k entities, 15 blobs), concatenated
# x8 (~0.9M entities, 120 blobs); one 40k-row changeset file, parsed in
# one task as the planet changeset dump is.  Each step of a pass is
# seconds of work on four cores; the small base keeps generation cheap.
N_NODES = 75_000
MULT = 8
N_CHANGESETS = 40_000


@dataclass
class Inputs:
    base_pbf: str  # the warm-up PBF; its data blobs repeat ``mult`` times in ``pbf``
    pbf: str
    xml: str
    mult: int
    entities: int
    changesets: int
    bounds: list[float]
    sample: list[dict]


def full_inputs(seed: int) -> Inputs:
    return Inputs(**inputs.osm_inputs(seed, N_NODES, MULT, N_CHANGESETS))


def toy_inputs() -> Inputs:
    """The committed fixtures: tiny.osm.pbf (doubled) and changesets.osm.xml."""
    from osm2orc_spark.fixtures import changeset_rows, planet_history_entities

    fx = os.path.join(inputs.ROOT, "fixtures")
    base = os.path.join(fx, "tiny.osm.pbf")
    big = os.path.join(harness.WORK, "tiny_x2.osm.pbf")
    inputs.concat_frames(base, big, 2)
    ents = planet_history_entities(42)
    xml = os.path.join(fx, "changesets.osm.xml")
    return Inputs(
        base, big, xml, 2, 2 * len(ents), len(changeset_rows(42)),
        list(inputs.PBF_BOUNDS), inputs.sample_cells(ents, 42),
    )


def snapshot(spark, path: str):
    """Latest visible version of every (type, id) in the ORC at ``path``."""
    w = Window.partitionBy("type", "id").orderBy(F.desc("version"))
    return (
        spark.read.orc(path)
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & F.col("visible"))
        .drop("rn")
    )


def one_pass(spark, tracer: Tracer, pbf: str, xml: str, out: str) -> dict:
    """Transcode both inputs into ``out`` and run the README query over the
    PBF's ORC.  Returns the step walls and the query's row count and
    checksum; Catalyst phase seconds are added when tracing."""
    from osm2orc_spark.queries.osm_corpus import osm_ways_reassembly
    from osm2orc_spark.sinks.orc import write_orc
    from osm2orc_spark.sources.changeset_xml import read_changesets
    from osm2orc_spark.sources.pbf import read_pbf, read_pbf_bounds

    phases: dict[str, float] = {}

    def plan(df) -> None:
        if tracer.enabled:
            with tracer.span("catalyst"):
                for k, v in catalyst_phases(df).items():
                    phases[k] = phases.get(k, 0.0) + v

    with tracer.span("pass") as p:
        with tracer.span("step.pbf") as s_pbf:
            with tracer.span("build.pbf", count_jobs=True):
                df = read_pbf(spark, pbf)
                bounds = read_pbf_bounds(pbf)
            plan(df)
            with tracer.span("exec.pbf", count_jobs=True):
                write_orc(df, os.path.join(out, "pbf"), bounds=bounds)
        with tracer.span("step.changesets") as s_cs:
            with tracer.span("build.changesets", count_jobs=True):
                df = read_changesets(spark, xml)
            plan(df)
            with tracer.span("exec.changesets", count_jobs=True):
                write_orc(df, os.path.join(out, "changesets"), sort_type_then_id=False)
        with tracer.span("step.query") as s_q:
            with tracer.span("build.query", count_jobs=True):
                df = osm_ways_reassembly(spark, "", planet=snapshot(spark, os.path.join(out, "pbf")))
                df = df.agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.sum(F.length("coordinates") + F.col("n_points")).alias("checksum"),
                )
            plan(df)
            with tracer.span("exec.query", count_jobs=True):
                row = df.collect()[0]
    return {
        "pass_s": p.wall,
        "pbf_s": s_pbf.wall,
        "changesets_s": s_cs.wall,
        "query_s": s_q.wall,
        "rows": row["rows"],
        "checksum": row["checksum"],
        "phases": phases,
    }


def orc_parts(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "*.orc")))


def orc_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in orc_parts(path))


def check_outputs(spark, inp: Inputs, out: str) -> list[str]:
    """Problems found in one pass's ORC output; empty when it is correct."""
    import pyarrow.orc as orc
    from pyspark.sql.types import DecimalType, TimestampType

    problems = []
    bounds = ", ".join(str(v) for v in inp.bounds)
    for sub, want_rows, want_bounds in (
        ("pbf", inp.entities, bounds),
        ("changesets", inp.changesets, None),
    ):
        parts = orc_parts(os.path.join(out, sub))
        rows = 0
        for f in parts:
            o = orc.ORCFile(f)
            rows += o.nrows
            meta = o.metadata
            if meta.get(b"osm.schema.version") != b"0.6":
                problems.append(f"{sub}: {os.path.basename(f)} lacks osm.schema.version=0.6")
            got = meta.get(b"bounds")
            if want_bounds is not None and got != want_bounds.encode():
                problems.append(f"{sub}: {os.path.basename(f)} bounds {got!r} != {want_bounds!r}")
        if rows != want_rows:
            problems.append(f"{sub}: {rows} rows in {len(parts)} part files, expected {want_rows}")

    df = spark.read.orc(os.path.join(out, "pbf"))
    types = {f.name: f.dataType for f in df.schema.fields}
    if types.get("lat") != DecimalType(9, 7) or types.get("lon") != DecimalType(10, 7):
        problems.append(f"pbf: lat/lon typed {types.get('lat')}/{types.get('lon')}")
    if types.get("timestamp") != TimestampType():
        problems.append(f"pbf: timestamp typed {types.get('timestamp')}")
    got = (
        df.filter(F.col("id").isin(sorted({e["id"] for e in inp.sample})))
        .select(
            "type", "id", "version", "visible", "tags",
            F.col("lat").cast("string").alias("lat"),
            F.col("lon").cast("string").alias("lon"),
            F.unix_millis("timestamp").alias("timestamp_ms"),
        )
        .collect()
    )
    by_key: dict[tuple, list] = {}
    for r in got:
        by_key.setdefault((r["type"], r["id"], r["version"]), []).append(r)
    for e in inp.sample:
        rows = by_key.get((e["type"], e["id"], e["version"]), [])
        if len(rows) != inp.mult:
            problems.append(f"pbf: {len(rows)} copies of {e['type']} {e['id']} v{e['version']}, expected {inp.mult}")
            continue
        for r in rows:
            cells = {
                "lat": r["lat"],
                "lon": r["lon"],
                "timestamp_ms": r["timestamp_ms"],
                "visible": r["visible"],
                "tags": dict(r["tags"]),
            }
            want = {k: e[k] for k in cells}
            if cells != want:
                problems.append(f"pbf: {e['type']} {e['id']} v{e['version']} cells {cells} != {want}")
                break
    return problems


def _measured_pass(spark, tracer, inp, out, res, seen: dict) -> dict:
    r = one_pass(spark, tracer, inp.pbf, inp.xml, out)
    problems = check_outputs(spark, inp, out)
    for step in ("pbf", "changesets"):
        mine = [p for p in problems if p.startswith(step)]
        res.op(not mine, "; ".join(mine))
    ref = seen.setdefault("query", (r["rows"], r["checksum"]))
    res.op(
        r["rows"] > 0 and (r["rows"], r["checksum"]) == ref,
        f"reassembly rows/checksum {r['rows']}/{r['checksum']} != first pass {ref}",
    )
    return r


def run(inp: Inputs, seconds: float, tracer: Tracer) -> harness.Result:
    from osm2orc_spark.registry import all_queries

    res = harness.Result()
    t0 = time.perf_counter()
    spark, get_spark_s = harness.start_spark(tracer)
    with tracer.span("registry.all_queries") as reg:
        all_queries()
    out = os.path.join(harness.WORK, "out")
    with tracer.span("warm"):
        one_pass(spark, tracer, inp.base_pbf, inp.xml, out)
    setup_s = time.perf_counter() - t0

    seen: dict = {}
    traced = tracer.enabled
    tracer.enabled = False
    passes = harness.run_passes(
        lambda i: _measured_pass(spark, tracer, inp, out, res, seen), seconds
    )
    pass_s = statistics.median([p["pass_s"] for p in passes])
    res.metrics = {"setup_s": setup_s, "pass_s": pass_s}
    if not traced:
        return res

    tracer.enabled = True
    k = len(tracer.spans)
    traced_pass = _measured_pass(spark, tracer, inp, out, res, seen)
    m = res.metrics
    m.update(phase_metrics(tracer.spans[k:], traced_pass["phases"]))
    m.update(probe_layers(spark, tracer, inp))
    m.update(
        {
            "session.get_spark_s": get_spark_s,
            "registry.all_queries_s": reg.wall,
            "trace.overhead_s": traced_pass["pass_s"] - pass_s,
            "queries.osm_corpus.reassembly_build_s": _wall(tracer.spans[k:], "build.query"),
            "queries.osm_corpus.reassembly_exec_s": _wall(tracer.spans[k:], "exec.query"),
            "pbf_entities_per_s": inp.entities / statistics.median([p["pbf_s"] for p in passes]),
            "changesets_rows_per_s": inp.changesets
            / statistics.median([p["changesets_s"] for p in passes]),
            "orc_bytes_per_entity": orc_bytes(os.path.join(out, "pbf")) / inp.entities,
            "orc_bytes_per_changeset": orc_bytes(os.path.join(out, "changesets"))
            / inp.changesets,
            "orc_query_s": statistics.median([p["query_s"] for p in passes]),
        }
    )
    return res


def _wall(spans, name: str) -> float:
    return sum(s.wall for s in spans if s.name == name)


def probe_layers(spark, tracer: Tracer, inp: Inputs) -> dict[str, float]:
    """Each source and sink layer on its own, at full input size."""
    from osm2orc_spark.sinks.orc import embed_user_metadata, read_metadata, write_orc
    from osm2orc_spark.sources.changeset_xml import parse_changeset_stream, read_changesets
    from osm2orc_spark.sources.pbf import read_pbf, read_pbf_bounds
    from osm2orc_spark.sources.pbf_codec import (
        decode_primitive_block_arrow,
        planet_arrow_schema,
        read_blob,
        scan_blob_index,
    )
    import pyarrow.orc as orc

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    m: dict[str, float] = {}
    with tracer.span("sources.pbf_codec.scan_blob_index") as s:
        scan_blob_index(inp.pbf)
    m["sources.pbf_codec.scan_blob_index_s"] = s.wall
    refs = [r for r in scan_blob_index(inp.base_pbf) if r.kind == "OSMData"]
    schema = planet_arrow_schema()
    n = 0
    with tracer.span("sources.pbf_codec.decode_1t") as s:
        for ref in refs:
            rb = decode_primitive_block_arrow(read_blob(ref), schema)
            n += rb.num_rows if rb is not None else 0
    m["sources.pbf_codec.decode_1t_entities_per_s"] = n / s.wall

    with tracer.span("sources.pbf.decode", count_jobs=True) as s:
        read_pbf(spark, inp.pbf).count()
    m["sources.pbf.decode_s"], m["sources.pbf.tasks"] = s.wall, s.tasks
    with tracer.span("sources.pbf.rows") as s:
        noop(read_pbf(spark, inp.pbf))
    m["sources.pbf.rows_s"] = s.wall

    probe = os.path.join(harness.WORK, "probe_orc")
    with tracer.span("sinks.orc.write") as s:
        write_orc(read_pbf(spark, inp.pbf), probe, bounds=read_pbf_bounds(inp.pbf), embed_metadata=False)
    m["sinks.orc.write_s"] = s.wall
    with tracer.span("sinks.orc.stamp") as s:
        embed_user_metadata(spark, probe, read_metadata(probe))
    m["sinks.orc.stamp_s"] = s.wall
    parts = orc_parts(probe)
    m["sinks.orc.files"] = len(parts)
    stamped = sum(1 for f in parts if b"bounds" in orc.ORCFile(f).metadata)
    m["sinks.orc.stamped_frac"] = stamped / len(parts) if parts else 0.0
    with tracer.span("sinks.orc.scan") as s:
        noop(spark.read.orc(probe))
    m["sinks.orc.scan_s"] = s.wall

    with open(inp.xml, "rb") as f:
        data = f.read()
    with tracer.span("sources.changeset_xml.parse_1t") as s:
        rows = sum(1 for _ in parse_changeset_stream(os.path.basename(inp.xml), data))
    m["sources.changeset_xml.parse_1t_rows_per_s"] = rows / s.wall
    with tracer.span("sources.changeset_xml.read", count_jobs=True) as s:
        noop(read_changesets(spark, inp.xml))
    m["sources.changeset_xml.read_s"], m["sources.changeset_xml.tasks"] = s.wall, s.tasks
    return m
