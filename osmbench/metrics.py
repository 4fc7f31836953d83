"""Names, units and bounds of every metric the benchmark prints.

BENCHMARK.json lists exactly these; ``test_osmbench`` checks that the two
agree.  Every run prints every end-to-end metric (``--trace 0``) or every
per-layer metric (``--trace 1``); a per-layer metric of a layer the
workload bypasses reads 0.  On ``headline``, ``pass_s`` is the issue's
``headline_pass_s``; on ``osm_ingest``, ``orc_query_s`` is the median
wall of the README query and the ``query_*`` figures are ``headline``'s.
"""

from __future__ import annotations

# The headline query set: one query from each of the eight query/operator
# modules, with DuckDB oracles cheap enough to check on every run.  Rotated
# one slot per pass.
HEADLINE_QUERIES = [
    "q5_local_supplier_volume",
    "window_rank_suite",
    "anomaly_zscore_events",
    "dedup_ppjoin",
    "embedding_prototype_prune",
    "text_bm25_topk",
    "curation_temperature_mix",
    "ann_ivf_probe_prebuilt",
]

MODULES = [
    "queries.relational",
    "queries.advanced",
    "queries.sequences",
    "operators.dedup",
    "operators.similarity",
    "operators.curation",
    "operators.ann_index",
    "operators.text",
]

# name, unit, better, bound.  Both workloads have these and neither reads 0;
# query latency and peak memory spread too far between runs of the same
# code to carry a bound and are per-layer (STEADINESS.md).
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("pass_s", "s", "lower", 0.25),
]

# name, unit, better
PER_LAYER = [
    ("session.get_spark_s", "s", "lower"),
    ("registry.all_queries_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    # sources / sinks: the ingest workload
    ("sources.pbf_codec.scan_blob_index_s", "s", "lower"),
    ("sources.pbf_codec.decode_1t_entities_per_s", "1/s", "higher"),
    ("sources.pbf.decode_s", "s", "lower"),
    ("sources.pbf.rows_s", "s", "lower"),
    ("sources.pbf.tasks", "count", "lower"),
    ("sinks.orc.write_s", "s", "lower"),
    ("sinks.orc.stamp_s", "s", "lower"),
    ("sinks.orc.files", "count", "lower"),
    ("sinks.orc.stamped_frac", "ratio", "higher"),
    ("sinks.orc.scan_s", "s", "lower"),
    ("sources.changeset_xml.parse_1t_rows_per_s", "1/s", "higher"),
    ("sources.changeset_xml.read_s", "s", "lower"),
    ("sources.changeset_xml.tasks", "count", "lower"),
    ("queries.osm_corpus.reassembly_build_s", "s", "lower"),
    ("queries.osm_corpus.reassembly_exec_s", "s", "lower"),
    ("pbf_entities_per_s", "1/s", "higher"),
    ("changesets_rows_per_s", "1/s", "higher"),
    ("orc_bytes_per_entity", "B/entity", "lower"),
    ("orc_bytes_per_changeset", "B/changeset", "lower"),
    ("orc_query_s", "s", "lower"),
    # tables / queries / operators: the headline workload
    ("tables.load_s", "s", "lower"),
    ("tables.load_jobs", "count", "lower"),
    ("query.samples", "count", "higher"),
    ("query_geomean_s", "s", "lower"),
    ("query_p50_s", "s", "lower"),
    ("query_tail_s", "s", "lower"),
    # plan build against execution, per traced pass, on both workloads
    ("build_s", "s", "lower"),
    ("exec_s", "s", "lower"),
    ("build.jobs", "count", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("build.job_share", "ratio", "lower"),
    ("catalyst.analysis_s", "s", "lower"),
    ("catalyst.optimization_s", "s", "lower"),
    ("catalyst.planning_s", "s", "lower"),
]
PER_LAYER += [(f"{p}_s.{m}", "s", "lower") for m in MODULES for p in ("build", "exec")]
PER_LAYER += [
    (f"{p}_s.{q}", "s", "lower") for q in HEADLINE_QUERIES for p in ("build", "exec")
]

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}


def module_of(fn) -> str:
    """``osm2orc_spark.operators.dedup`` -> ``operators.dedup``."""
    return fn.__module__.split(".", 1)[1]
